package graft

import org.scalatest.funsuite.AnyFunSuite

/** The memo-pay ledger's accounting contracts (ADVICE r15 +
  * CODE-REVIEW r16): entries record NET-of-nested seconds so advisory
  * readers may sum them, and a THROWING child build must not corrupt
  * the thread-local accumulator the parent nets against. Lookups of one
  * key share one build, a failed build leaves no entry, and a new input
  * version rebuilds and replaces the entry. */
class SessionCacheSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("nested builds record net seconds; a throwing child leaves the parent's net intact") {
    val inner = new SessionCache[String](label = "sct_inner")
    val bad = new SessionCache[String](label = "sct_bad")
    val outer = new SessionCache[String](label = "sct_outer")
    val out = outer.getOrElseUpdate(spark, "k", {
      Thread.sleep(20) // the outer's own work (part 1)
      val a = inner.getOrElseUpdate(spark, "k", { Thread.sleep(200); "a" })
      val b =
        try bad.getOrElseUpdate(spark, "k",
          { Thread.sleep(20); throw new RuntimeException("boom") })
        catch { case _: RuntimeException => "recovered" }
      a + b
    })
    assert(out == "arecovered")
    val pays = SessionCache.paysSnapshot.filter(_._1.startsWith("sct_"))
    val byLabel = pays.map(p => p._1 -> p._3).toMap
    // the failed build recorded nothing
    assert(!byLabel.contains("sct_bad"), s"failed build must not pay: $pays")
    // the inner child recorded its own ~0.2 s
    assert(byLabel("sct_inner") >= 0.19, s"inner too small: $pays")
    // the outer's NET excludes the successful child's 0.2 s but keeps
    // its own work plus the failed attempt's seconds. Broken
    // accounting (the pre-r16 bug: the throwing child left the
    // accumulator zeroed) would record the outer at >= 0.24 s here.
    assert(byLabel("sct_outer") < 0.15,
      s"outer net must exclude the successful child's gross: $pays")
  }

  test("concurrent lookups share one build; a failed build fails every waiter and leaves no entry") {
    val c = new SessionCache[String]("sct_once")
    def hits() = SessionCache.countsSnapshot.get("sct_once").fold(0L)(_._1)
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        val r =
          try c.getOrElseUpdate(spark, "k", { builds.incrementAndGet(); gate.await(); sys.error("boom") })
          catch { case e: RuntimeException => e.getMessage }
        got.add(r)
      })
    }
    threads.foreach(_.start())
    // open the gate only once one thread builds and the other three wait on it
    val deadline = System.nanoTime() + 30e9.toLong
    while ((builds.get() < 1 || hits() < 3) && System.nanoTime() < deadline) Thread.sleep(5)
    assert(builds.get() == 1 && hits() == 3, s"builds ${builds.get()}, hits ${hits()}")
    gate.countDown()
    threads.foreach(_.join())
    assert(got.toArray.toSeq == Seq.fill(4)("boom"), s"every waiter fails: $got")
    assert(builds.get() == 1)
    // no entry was left behind: the next lookup builds again
    assert(c.getOrElseUpdate(spark, "k", { builds.incrementAndGet(); "ok" }) == "ok")
    assert(builds.get() == 2)
    assert(c.getOrElseUpdate(spark, "k", { builds.incrementAndGet(); "again" }) == "ok")
    assert(builds.get() == 2)
  }

  test("a new input version rebuilds and replaces the entry") {
    val c = new SessionCache[String]("sct_version")
    assert(c.getOrElseUpdate(spark, "k", "a", version = 1) == "a")
    assert(c.getOrElseUpdate(spark, "k", "b", version = 1) == "a")
    assert(c.getOrElseUpdate(spark, "k", "c", version = 2) == "c")
    assert(c.getOrElseUpdate(spark, "k", "d", version = 2) == "c")
    assert(SessionCache.countsSnapshot("sct_version") == ((2L, 2L, 1L)))
    assert(SessionCache.paysSnapshot.count(_._1 == "sct_version") == 2)
  }
}
