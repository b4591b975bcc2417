package graft

import org.scalatest.funsuite.AnyFunSuite

/** The JVM-wide registry behind [[SessionCache.evictAll]]. */
class SessionCacheSpec extends AnyFunSuite {

  test("caches constructed while another thread evicts all are never seen half-built") {
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    @volatile var done = false
    val evictor = new Thread(() =>
      try while (!done) SessionCache.evictAll()
      catch { case t: Throwable => failure.set(t) })
    evictor.start()
    try (1 to 20000).foreach(_ => new SessionCache[Int]())
    finally { done = true; evictor.join() }
    assert(failure.get() == null, s"evictAll threw ${failure.get()}")
  }
}
