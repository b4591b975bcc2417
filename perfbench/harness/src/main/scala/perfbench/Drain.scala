package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** Drains a DataFrame's full output (every column of every row is
  * produced, as for a consumer of the result) and returns an
  * order-insensitive digest of it. */
object Drain {

  final case class Digest(rows: Long, h1: Long, h2: Long) {
    override def toString: String = f"$rows:$h1%016x$h2%016x"
  }

  def apply(df: DataFrame): Digest = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var a = 0L; var b = 0L
      it.foreach { r =>
        val u = proj(r)
        val base = u.getBaseObject; val off = u.getBaseOffset
        val len = u.getSizeInBytes
        a += Murmur3_x86_32.hashUnsafeBytes(base, off, len, 42).toLong
        b += Murmur3_x86_32.hashUnsafeBytes(base, off, len, 0x5bd1e995)
          .toLong * 0x9e3779b97f4a7c15L
        n += 1
      }
      Iterator((n, a, b))
    }.collect()
    Digest(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum)
  }
}
