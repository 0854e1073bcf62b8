package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** A result a caller holds stays readable whatever other callers do:
  * an eager cut lives as long as some frame references it, and
  * `Ckpt.sweep` only clears the cache manager. q174 returns a frame
  * over a per-request cut; q43 and q45 read the memoized status
  * rollup. */
class HeldResultSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sf}

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def run(q: String): Seq[String] = rows(SparkEntry.queries(q)(spark, sf))

  test("a held q174 result reads the same rows after a sweep") {
    val df = SparkEntry.queries("q174_range_join")(spark, sf)
    Ckpt.sweep(spark)
    assert(rows(df) == run("q174_range_join"))
  }

  test("a held status rollup stays readable after it is superseded and swept") {
    val dir = java.nio.file.Files.createTempDirectory("held_rollup").toString
    def copy(t: String, n: Int): Unit =
      spark.read.parquet(s"$sf/$t.parquet").limit(n)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    copy("orders", Int.MaxValue)
    copy("lineitem", Int.MaxValue)
    val held = queue.Derived.statusRollup(spark, dir)
    val before = rows(held)
    // a new lineitem version supersedes the memo the caller holds
    copy("lineitem", 100)
    assert(queue.Derived.statusRollup(spark, dir) ne held, "the rewrite did not supersede the memo")
    Ckpt.sweep(spark)
    assert(rows(held) == before)
  }

  test("two readers and a sweeper: every q174, q43 and q45 result equals its single-threaded result") {
    val qs = Seq("q174_range_join", "q43_status_overview", "q45_pulse")
    val expected = qs.map(q => q -> run(q)).toMap
    val readersDone = new java.util.concurrent.CountDownLatch(2)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val readers = (1 to 2).map { _ =>
      new Thread(() => {
        try for (_ <- 1 to 3; q <- qs) {
          val got = try run(q) catch { case e: Exception => Seq(e.toString) }
          if (got != expected(q)) errors.add(s"$q: ${got.take(2)}")
        } finally readersDone.countDown()
      })
    }
    val sweeper = new Thread(() => {
      while (readersDone.getCount > 0) { Ckpt.sweep(spark); Thread.sleep(2) }
    })
    (readers :+ sweeper).foreach(_.start())
    (readers :+ sweeper).foreach(_.join())
    assert(errors.isEmpty, errors.toArray.mkString("\n"))
  }
}
