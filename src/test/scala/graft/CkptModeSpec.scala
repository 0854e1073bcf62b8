package graft

import org.scalatest.funsuite.AnyFunSuite

/** The cluster-safe eager-cut switch (VERDICT r19 item 5): every
  * multi-consumer materialization site routes through [[Ckpt.cut]],
  * whose mode conf swaps `localCheckpoint(true)` (local-mode default —
  * executor-local, unreplicated, lineage-truncating) for a RELIABLE
  * `checkpoint(true)` (survives executor loss; the 100 TB form on
  * preemptible capacity). The contract: the mode changes durability
  * only, never results. Exercised on an operator that cuts in a loop
  * (two-star CC) and at a multi-consumer site (q174's wins). */
class CkptModeSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"

  private def rows(q: String): Seq[String] =
    SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq

  test("reliable ckpt mode yields bit-identical results to local mode") {
    val qs = Seq("q246_cc_twostar", "q174_range_join")
    val local = qs.map(q => q -> rows(q)).toMap
    Ckpt.sweep(spark)
    spark.conf.set("spark.graft.ckpt.mode", "reliable")
    try {
      qs.foreach { q =>
        assert(rows(q) == local(q), s"$q differs between ckpt modes")
      }
    } finally {
      spark.conf.unset("spark.graft.ckpt.mode")
      Ckpt.sweep(spark)
    }
  }

  test("unknown ckpt mode fails fast") {
    spark.conf.set("spark.graft.ckpt.mode", "bogus")
    try {
      val df = spark.range(3).toDF("x")
      intercept[IllegalArgumentException](Ckpt.cut(df))
    } finally spark.conf.unset("spark.graft.ckpt.mode")
  }
}
