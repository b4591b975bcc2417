package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: one call registers the full SQL function
  * surface so `spark.sql` users get the engine's scalar library —
  * `process_name`, `clean_zip` (via expr), `strip_url`, `get_domain`,
  * `parse_proxy`, `simhash64`, `hamming64`, `detect_language`,
  * `rolling_hash64`, `cosine_sim`, `l2_norm`, `cosine_sim_native`.
  */
object Graft {

  def init(spark: SparkSession): SparkSession = {
    functions.Names.register(spark)
    functions.Urls.register(spark)
    functions.SimHash.register(spark)
    functions.TextAnalysis.register(spark)
    functions.Vectors.register(spark)
    functions.expressions.CosineSimilarity.register(spark)
    functions.expressions.MinHashBandKeys.register(spark)
    functions.expressions.SimHash64.register(spark)
    functions.expressions.CharEntropy.register(spark)
    functions.expressions.GramStats.register(spark)
    functions.expressions.KmvDistinct.register(spark)
    functions.expressions.BloomSketch.register(spark)
    functions.expressions.MisraGries.register(spark)
    functions.expressions.CountMinSketch.register(spark)
    functions.expressions.BpeTokenCount.register(spark)
    functions.expressions.JaroWinkler.register(spark)
    functions.expressions.HilbertIndex.register(spark)
    functions.expressions.GramMoments.register(spark)
    spark
  }
}
