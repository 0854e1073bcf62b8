package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.SparkEntry
import graft.sources.Sink

/** curation-batch: the production curation chain run cold, again and
  * again, over one generated corpus. Plan file lines:
  * `catalog-key \t layer-metric`, in chain order.
  *
  * Each iteration gets a fresh session (so every SessionCache memo is
  * rebuilt inside the clock) after the previous iteration's blocks are
  * freed, runs every stage and writes its output through
  * `sources.Sink`. */
object Curation {
  def run(env: Env, rep: Main.Report, trace: Trace): Unit = {
    val stages = Files.readAllLines(Paths.get(env.a("plan"))).asScala.toVector
      .filter(_.nonEmpty).map(_.split("\t")).map(f => f(0) -> f(1))
    val q = SparkEntry.queries
    val out = s"${env.work}/curated"

    def freeAll(s: SparkSession): Unit = {
      s.catalog.clearCache()
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    /** One cold pipeline; returns per-stage output paths. */
    def pipeline(s: SparkSession, data: String, dest: String, parent: Long): Seq[(String, String)] =
      stages.map { case (k, _) =>
        val path = s"$dest/$k"
        trace.span(parent, k, "llm") { id =>
          s.sparkContext.setLocalProperty(OpListener.Prop, id.toString)
          val df = q(k)(s, data)
          trace.span(id, "Sink.writeSized", "sources") { _ =>
            Sink.writeSized(df, path, rowsPerFile = 50000)
          }
        }
        k -> path
      }

    def digests(s: SparkSession, paths: Seq[(String, String)]): Map[String, String] =
      paths.map { case (k, p) => k -> Digest.of(s.read.parquet(p).collect()) }.toMap

    // Set-up: session start plus the chain over a small warm-up corpus,
    // so the JVM's first-touch costs stay out of the pipeline figure.
    for (i <- 0 until env.a.int("setups")) env.setup(rep, i == 0) {
      val s = env.start()
      pipeline(s, env.a("warm"), s"$out/warm", 0L)
    }
    val base = env.spark
    val root = trace.newId()
    val t0 = env.windowStart()
    val deadline = t0 + (env.a("seconds").toDouble * 1e6).toLong
    var ref = Map.empty[String, String]
    var n = 0
    while (n == 0 || Clock.us() < deadline) {
      freeAll(base)
      val s = base.newSession()
      val opId = trace.newId()
      val dest = if (n == 0) s"${env.work}/oracle" else s"$out/$n"
      val a0 = Clock.us()
      val paths =
        try pipeline(s, env.dir, dest, opId)
        catch { case e: Exception => System.err.println(s"pipeline: $e"); Nil }
      val a1 = Clock.us()
      s.sparkContext.setLocalProperty(OpListener.Prop, null)
      trace.add(opId, root, s"pipeline-$n", "client", a0, a1)
      // the first pipeline's outputs go to the oracle check; every later
      // one must reproduce them exactly
      val ok = paths.nonEmpty
      val got = if (ok) digests(s, paths) else Map.empty[String, String]
      if (n == 0) {
        ref = got
        paths.foreach { case (k, p) =>
          rep.oracle(k) = p
          SparkEntry.oracleSql.get(k).foreach(rep.oracleSql(k) = _)
        }
      }
      rep.ops.add(("pipeline", "pipeline", a0, a1, ok, if (ok && got == ref) 1 else 0))
      n += 1
    }
    val t1 = env.windowEnd()
    rep.window = (t0, t1)
    trace.add(root, 0L, "curation-batch", "workload", t0, t1)
  }
}
