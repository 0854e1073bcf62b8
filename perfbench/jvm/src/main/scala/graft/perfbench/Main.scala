package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.ReentrantReadWriteLock
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{Ckpt, SessionCache, SparkEntry}
import graft.sources.Sink

/** One benchmark run of one workload, driven from outside the engine
  * through its public entry points. Inputs are the files the Python
  * side generated from the seed; the output is one JSON file of raw
  * samples (op times, checks, ledgers, spans) that `run.py` reduces to
  * metrics. Usage (all flags required unless noted):
  *
  *   Main --workload queue-serve|status-stream|curation-batch
  *        --data DIR --seconds S --trace 0|1 --out FILE
  *        --work DIR --cores N --setups K, plus the workload's own inputs
  */
object Main {

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }

  /** Everything a workload reports besides its op samples. */
  final class Report {
    val setupS = mutable.ArrayBuffer.empty[Double]
    // (op key, layer metric, t0 us, t1 us, ok, check: -1 none / 0 bad / 1 good)
    val ops = new ConcurrentLinkedQueue[(String, String, Long, Long, Boolean, Int)]()
    val oracle = mutable.LinkedHashMap.empty[String, String]
    val oracleSql = mutable.LinkedHashMap.empty[String, String]
    val extra = mutable.LinkedHashMap.empty[String, Any]
    val sweepMs = new ConcurrentLinkedQueue[java.lang.Double]()
    var window = (0L, 0L)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val trace = new Trace(a("trace") == "1")
    val rep = new Report
    val listener = if (trace.on) Some(new OpListener(trace)) else None
    val env = new Env(a, listener)
    val paysBefore = SessionCache.paysSnapshot.size
    a("workload") match {
      case "queue-serve"    => Requests.run(env, rep, trace)
      case "status-stream"  => StatusStream.run(env, rep, trace)
      case "curation-batch" => Curation.run(env, rep, trace)
      case w                => sys.error(s"unknown workload $w")
    }
    if (trace.on) Thread.sleep(1000) // let the listener bus drain
    val (w0, w1) = rep.window
    val pays = SessionCache.paysSnapshot.drop(paysBefore).map { case (l, t0, s) =>
      Seq(l, Clock.fromNanoTime(t0), s)
    }
    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "cores" -> env.cores,
      "setup_s" -> rep.setupS.toSeq, "window_us" -> Seq(w0, w1),
      "ops" -> rep.ops.asScala.toSeq.map { case (k, m, t0, t1, ok, c) =>
        Seq(k, m, t0, t1, if (ok) 1 else 0, c) },
      "oracle" -> rep.oracle, "oracle_sql" -> rep.oracleSql, "extra" -> rep.extra,
      "memo_pays" -> pays, "sweep_ms" -> rep.sweepMs.asScala.toSeq.map(_.doubleValue),
      "pinned_mb" -> env.storedMb(), "rss_peak_mb" -> Env.peakRssMb(),
      "heap_live_mb" -> env.heapLiveMb,
      "jit_ms" -> env.jitWindowMs)
    listener.foreach { l =>
      out("spark_per_op") = l.perOp.asScala.map { case (op, v) =>
        op.toString -> OpListener.Fields.zip(v.toSeq).toMap }
      out("task_skew") = l.skews.asScala.toSeq.map { case (op, v) => Seq[Any](op, v) }
      out("spans") = trace.all.map { case (id, p, n, l, t0, t1) => Seq(id, p, n, l, t0, t1) }
    }
    Files.write(Paths.get(a("out")), Json(out).getBytes(UTF_8))
    env.stop()
  }
}

/** The session and the run's shared settings. */
final class Env(val a: Main.Args, listener: Option[OpListener]) {
  val cores: Int = a("cores").toInt
  val dir: String = a("data")
  val work: String = a("work")
  private var session: SparkSession = _
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  private var jit0 = 0L
  var jitWindowMs = 0L

  def spark: SparkSession = session

  /** (Re)start the session; returns it. Session start is part of set-up. */
  def start(): SparkSession = {
    if (session != null) session.stop()
    session = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/stream-ckpt")
      .getOrCreate()
    session.sparkContext.setLogLevel("ERROR")
    listener.foreach(session.sparkContext.addSparkListener)
    session
  }

  def windowStart(): Long = { jit0 = jit.getTotalCompilationTime; Clock.us() }
  var heapLiveMb = 0.0

  /** Ends the timed window; then records the heap still live after a
    * full collection (memo caches, pinned blocks, stream state). */
  def windowEnd(): Long = {
    jitWindowMs = jit.getTotalCompilationTime - jit0
    val t = Clock.us()
    System.gc()
    heapLiveMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
    t
  }

  /** Block-manager storage still held (MB), e.g. after a sweep. */
  def storedMb(): Double =
    if (session == null || session.sparkContext.isStopped) 0.0
    else session.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0

  def stop(): Unit = if (session != null) session.stop()

  /** Time `body`, recording set-up seconds; the first set-up is counted
    * from the JVM's start, as a user starting the program would see it. */
  def setup[T](rep: Main.Report, first: Boolean)(body: => T): T = {
    val t0 =
      if (first) java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
      else Clock.us()
    val r = body
    rep.setupS += (Clock.us() - t0) / 1e6
    r
  }
}

object Env {
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)
}

/** Order-insensitive result digest: each row rendered to text, rows
  * sorted, MD5 over the lot. Rendering is the JVM's own, so a digest is
  * only ever compared with another digest made here. */
object Digest {
  private def cell(v: Any): String = v match {
    case null              => "␀"
    case a: Array[_]       => a.map(cell).mkString("[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case r: Row            => r.toSeq.map(cell).mkString("{", ",", "}")
    case x                 => x.toString
  }
  def rowText(r: Row): String = r.toSeq.map(cell).mkString("\u0001")
  def of(rows: Iterable[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.iterator.map(rowText).toVector.sorted.foreach { t =>
      md.update(t.getBytes(UTF_8)); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** queue-serve: dashboard/daemon reads, each filtered to one project
  * (when the result has a `project` column) and collected by the
  * client, or written through `sources.Sink` for report-style entries.
  * Plan file lines: `catalog-key \t layer-metric \t scope \t collect|sink`. */
object Requests {
  final case class Req(key: String, metric: String, scope: String, sink: Boolean)

  def run(env: Env, rep: Main.Report, trace: Trace): Unit = {
    val plan = Files.readAllLines(Paths.get(env.a("plan"))).asScala.toVector
      .filter(_.nonEmpty).map(_.split("\t", -1)).map(f => Req(f(0), f(1), f(2), f(3) == "sink"))
    val distinct = plan.map(_.key).distinct.sorted
    val q = SparkEntry.queries
    val refs = new java.util.concurrent.ConcurrentHashMap[String, Array[Row]]().asScala
    val scopeIdx = new java.util.concurrent.ConcurrentHashMap[String, Int]().asScala
    // Each set-up runs every distinct op once. The first also writes
    // each op's full result for the oracle comparison, so the check
    // costs no extra execution and stays off the timed window.
    // q40 and q41 share Stratify's strata memo, and two first calls at
    // once would both build it: q40 starts first, q41 runs after the rest
    val (last, rest) = distinct.partition(_ == "q41_round_summary")
    val warm = Seq(rest.sortBy(_ != "q40_round_strata"), last)
    for (i <- 0 until env.a.int("setups")) env.setup(rep, i == 0) {
      val s = env.start()
      for (ks <- warm) Par.each(ks, env.cores) { k =>
        val df = q(k)(s, env.dir)
        scopeIdx(k) = df.columns.indexOf("project")
        refs(k) =
          if (i > 0) df.collect()
          else {
            val path = s"${env.work}/oracle/$k"
            df.write.mode("overwrite").parquet(path)
            rep.synchronized {
              rep.oracle(k) = path
              SparkEntry.oracleSql.get(k).foreach(rep.oracleSql(k) = _)
            }
            s.read.parquet(path).collect()
          }
      }
    }
    val s = env.spark
    val sc = s.sparkContext
    // Reference digests per (op, scope), from the set-up results.
    val refDigest = new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
    def ref(r: Req): String = refDigest.computeIfAbsent((r.key, r.scope), _ => {
      val i = scopeIdx(r.key)
      Digest.of(if (i < 0) refs(r.key) else refs(r.key).filter(_.get(i) == r.scope))
    })
    val checkEvery = 4 // digest-check every 4th request
    val clients = env.a.int("clients")
    val lock = new ReentrantReadWriteLock()
    val next = new AtomicInteger(0)
    val root = trace.newId()
    val t0 = env.windowStart()
    val deadline = t0 + (env.a("seconds").toDouble * 1e6).toLong
    // one request on client `c`: (rows, ok, start us, end us)
    def serve(r: Req, c: Int, opId: Long): (Array[Row], Boolean, Long, Long) = {
      var rows: Array[Row] = null
      var ok = true
      lock.readLock().lock()
      val a0 = Clock.us()
      try {
        trace.span(opId, r.key, r.metric.takeWhile(_ != '.')) { id =>
          // jobs become children of the layer call, so its self time
          // is the time spent outside Spark jobs
          sc.setLocalProperty(OpListener.Prop, id.toString)
          val df = q(r.key)(s, env.dir)
          val i = scopeIdx(r.key)
          val scopedDf = if (i < 0) df else df.filter(col("project") === r.scope)
          if (r.sink) trace.span(id, "Sink.writeSized", "sources") { _ =>
            Sink.writeSized(scopedDf, s"${env.work}/sink/$c", rowsPerFile = 100000)
          }
          else rows = scopedDf.collect()
        }
      } catch { case e: Exception => ok = false; System.err.println(s"${r.key}: $e") }
      finally lock.readLock().unlock()
      val a1 = Clock.us()
      sc.setLocalProperty(OpListener.Prop, null)
      // free the request's blocks after every request, as the engine's
      // own callers do; the write lock waits for the other client's
      // in-flight request, whose blocks a sweep would free
      lock.writeLock().lock()
      try {
        val w0 = System.nanoTime()
        Ckpt.sweep(s)
        rep.sweepMs.add((System.nanoTime() - w0) / 1e6)
      } finally lock.writeLock().unlock()
      (rows, ok, a0, a1)
    }
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        while (Clock.us() < deadline) {
          val n = next.getAndIncrement()
          val r = plan(n % plan.size)
          val opId = trace.newId()
          val (got, ok, a0, a1) = serve(r, c, opId)
          var rows = got
          trace.add(opId, root, s"request:${r.key}", "client", a0, a1)
          // correctness on a seeded sample of ops, outside the timed window
          var check = -1
          if (ok && n % checkEvery == 0) {
            if (r.sink) rows = s.read.parquet(s"${env.work}/sink/$c").collect()
            check = if (Digest.of(rows) == ref(r)) 1 else 0
          }
          rep.ops.add((r.key, r.metric, a0, a1, ok, check))
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val t1 = env.windowEnd()
    rep.window = (t0, t1)
    // Traced runs only: a rare entry the window did not reach runs once
    // now, alone, so every per-layer figure is measured. These runs stay
    // out of the end-to-end figures.
    if (trace.on) {
      val seen = rep.ops.asScala.map(_._1).toSet
      val cover = plan.filterNot(r => seen(r.key)).groupBy(_.key).values.map(_.head).toSeq
      rep.extra("coverage") = cover.sortBy(_.key).map { r =>
        val opId = trace.newId()
        val (_, ok, a0, a1) = serve(r, 0, opId)
        trace.add(opId, root, s"coverage:${r.key}", "client", a0, a1)
        Seq(r.key, r.metric, a0, a1, if (ok) 1 else 0)
      }
    }
    trace.add(root, 0L, env.a("workload"), "workload", t0, t1)
  }
}

/** Run `f` over `xs` on `n` threads (set-up warmups). */
object Par {
  def each[A](xs: Seq[A], n: Int)(f: A => Unit): Unit = {
    val next = new AtomicInteger(0)
    val errs = new ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until math.min(n, xs.size)).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < xs.size) {
          try f(xs(i)) catch { case e: Throwable => errs.add(e) }
          i = next.getAndIncrement()
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    if (!errs.isEmpty) throw errs.peek()
  }
}

/** Minimal JSON rendering for the raw report. */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString } + "\""
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float             => apply(f.toDouble)
    case n: Number            => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_]       => s.map(apply).mkString("[", ",", "]")
    case o: Option[_]         => o.map(apply).getOrElse("null")
    case x                    => apply(x.toString)
  }
}
