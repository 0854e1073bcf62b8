package graft

import org.apache.spark.sql.SparkSession

/** Driver benchmark: runs every declared query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":"total","value":N,"unit":"sec",
  * "queries":{...},"sf":...}.
  *
  * A warmup pass (file listing + codegen + JIT) runs before timing so
  * per-query numbers measure the query, not first-touch JVM costs. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Optional env: comma-separated name prefixes — bench only matching
    // queries (local iteration aid; the driver does not set it).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    val qs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.startsWith)) }
    // Materialize through the built-in `noop` sink, NOT count():
    // under count(1) Catalyst prunes every unreferenced projection
    // (q33's md5 fingerprint would never run) and eliminates final
    // sorts, so narrow per-row queries would be timed as little more
    // than parquet scans. The noop write evaluates every column of
    // every row and discards them — the work the query claims to do
    // is the work the clock sees.
    def run(name: String,
            fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Boolean =
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
      catch { case t: Throwable =>
        // keep the bench loop alive, but leave the cause diagnosable:
        // class + message + top frames on stderr next to BENCH FAILED
        System.err.println(s"BENCH ERROR [$name]: ${t.getClass.getName}: ${t.getMessage}")
        t.getStackTrace.take(5).foreach(f => System.err.println(s"  at $f"))
        false
      }
    // Quiet-entry gate (VERDICT r17 item 4): the r17 record adjudicated
    // environment more often than code — same-code catalogs swinging
    // ~1.15x with co-tenant load at stamp time. Refuse to START while
    // the box is visibly loaded: sample load1/cpu-PSI BEFORE our own
    // warmup adds load, and wait (bounded) for both to fall under the
    // pinned thresholds. A box still noisy at the cap proceeds — the
    // driver must not hang — but the record says so (`quiet: false`)
    // and the entry state rides the stamp for the gate to read.
    def quietLoad1(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
        .split("\\s+").head.toDouble
      catch { case _: Throwable => -1.0 }
    def quietPsi10(): Double =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/pressure/cpu")), "UTF-8")
        .linesIterator.find(_.startsWith("some"))
        .flatMap(_.split("\\s+").find(_.startsWith("avg10=")))
        .map(_.stripPrefix("avg10=").toDouble).getOrElse(-1.0)
      catch { case _: Throwable => -1.0 }
    val QuietLoad1Max = 8.0 // 32-cpu box: above this, co-tenants own cores
    val QuietPsi10Max = 10.0 // % runnable-but-stalled, kernel-measured
    val QuietWaitCapS = 600
    val quietEntryLoad1 = quietLoad1(); val quietEntryPsi10 = quietPsi10()
    val quietT0 = System.nanoTime()
    def boxQuiet(): Boolean =
      quietLoad1() <= QuietLoad1Max && quietPsi10() <= QuietPsi10Max
    // the wait loop is stamp-grade hygiene; local iteration runs
    // (SPARK_GRAFT_ONLY subsets, or an explicit opt-out) still RECORD
    // entry load/PSI but never block up to 10 min on a busy dev box
    // (ADVICE r18)
    val skipQuietWait = sys.env.contains("SPARK_GRAFT_ONLY") ||
      sys.env.contains("SPARK_GRAFT_NO_QUIET_WAIT")
    var quiet = boxQuiet()
    while (!quiet && !skipQuietWait &&
        (System.nanoTime() - quietT0) / 1e9 < QuietWaitCapS) {
      System.err.println(f"BENCH quiet-wait: load1=${quietLoad1()}%.1f " +
        f"psi10=${quietPsi10()}%.1f — waiting for the box to settle")
      Thread.sleep(15000)
      quiet = boxQuiet()
    }
    val quietWaitS = (System.nanoTime() - quietT0) / 1e9
    // warmup: JIT + codegen caches + parquet footers
    qs.foreach { case (name, fn) =>
      run(name, fn)
      Ckpt.sweep(spark) // free per-query persists; cuts go when unreachable
    }
    // Median-of-N timing (default 3). A single-shot clock on a shared
    // single-JVM box records whatever the GC/JIT/page-cache happened to
    // do during that one pass — round 8's record carried four phantom
    // ≥1.5x "regressions" that solo reruns showed were pure noise. The
    // median of three passes discards the one disturbed run while still
    // charging real, repeatable slowness all three times.
    //
    // Reps are INTERLEAVED round-robin across the catalog (pass 1 runs
    // every query once, then pass 2, then pass 3) — NOT back-to-back
    // per query. Back-to-back reps put all of a query's samples inside
    // the same wall-clock window, so one box-level contention burst
    // (page-cache churn, a co-tenant process, a GC storm) poisons min
    // AND median together and the record reads as a plans regression a
    // solo rerun can't reproduce — round 11's gate-of-record did
    // exactly that (q20_range_join "+4.7x" in a file untouched for
    // rounds; common-catalog 1.52x vs three same-code 1.0x builder
    // runs). With interleaving, a burst of any duration shorter than a
    // full pass (~minutes) touches at most ONE rep per query, so
    // min-of-reps — the bench-gate's contention-resistant claim —
    // survives it by construction. The JIT/cache-warmth argument for
    // consecutive reps is already covered by the warmup pass above.
    val reps = sys.env.get("SPARK_GRAFT_BENCH_REPS").map(_.toInt).getOrElse(3)
      .max(1)
    // SPARK_GRAFT_BENCH_MODE=consecutive restores the pre-r12
    // back-to-back rep order (all reps of a query together) — ONLY for
    // calibration runs quantifying the interleaved mode's warmth cost
    // (PERF.md r13): consecutive reps share codegen classes and
    // shuffle-file page-cache locality between a query's samples, which
    // interleaving trades away for contention immunity. A consecutive
    // run is never canonical (see the stamp guard below).
    val consecutive =
      sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("consecutive")
    // Process-wide stop-the-world time so far (ms across all collectors)
    // — deltas around each rep, summed per query, are that query's GC
    // bill (per-rep deltas survive the interleaving; a whole-window
    // delta would charge every query for the catalog's GC).
    def gcMillis(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    // Per-query rep spread: median-of-3 discards ONE disturbed rep, and
    // recording min/median/max plus the GC bill makes the record
    // self-adjudicating — min-of-reps is the contention-resistant claim
    // the bench-gate compares, and a wide (min,max) spread next to a
    // fat gc entry says "context, not code" from the record alone.
    final case class Spread(med: Double, min: Double, max: Double, gc: Double,
                            repRows: Vector[(Int, Double, Double)])
    // Per-rep provenance (VERDICT r12 item 4): each sample keeps its
    // pass index and wall-clock start offset, so a contention burst —
    // which under interleaving clips one contiguous SEGMENT of one pass
    // (r12's q182–q189 wide-spread cluster) — is identifiable from the
    // record alone (status.py names the burst window) instead of being
    // inferred from catalog-id adjacency after the fact.
    // Box-state capture (VERDICT r13 item 3): same-code canonical stamps
    // have swung up to 1.19x across rounds, and each swing cost a manual
    // adjudication because nothing recorded what the BOX was doing at
    // stamp time. Three signals, sampled before and after the timed
    // window, ride the record so status.py can classify a uniform
    // catalog shift as box drift mechanically:
    //  - /proc/loadavg (1-min): co-tenant pressure at stamp time;
    //  - /proc/pressure/cpu "some" (avg10 + total): kernel-measured CPU
    //    stall time — nonzero deltas mean runnable-but-waiting, the
    //    direct signature of contention;
    //  - a fixed-work single-thread JVM microprobe (1.5e9 xorshift64
    //    iterations — ~3.2s on the reference box per the r14 record,
    //    identical work every run): its wall-clock is a pure box-speed
    //    index — same code + same box => same probe; a probe that moved
    //    10% explains a catalog that moved 10%.
    def readFirst(path: String): Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8"))
      catch { case _: Throwable => None }
    def load1(): Double =
      readFirst("/proc/loadavg").flatMap(_.split("\\s+").headOption)
        .map(_.toDouble).getOrElse(-1.0)
    def psiCpu(): (Double, Double) = // (avg10 %, total stall seconds)
      readFirst("/proc/pressure/cpu").flatMap { txt =>
        txt.linesIterator.find(_.startsWith("some")).map { l =>
          val kv = l.split("\\s+").drop(1)
            .flatMap(_.split("=") match {
              case Array(k, v) => Some(k -> v.toDouble); case _ => None
            }).toMap
          (kv.getOrElse("avg10", -1.0), kv.getOrElse("total", -1.0) / 1e6)
        }
      }.getOrElse((-1.0, -1.0))
    def probeLane(iters: Long): Long = {
      var x = 0x9E3779B97F4A7C15L
      var acc = 0L
      var i = 0L
      while (i < iters) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x
        i += 1
      }
      acc
    }
    def probe(): Double = { // fixed work, single thread; returns seconds
      val t0 = System.nanoTime()
      val acc = probeLane(1500000000L)
      val dt = (System.nanoTime() - t0) / 1e9
      // acc escapes so the loop cannot be dead-code-eliminated
      if (acc == 42L) System.err.println("probe blackhole")
      dt
    }
    // r16: the single-thread probe stayed FLAT through a measured
    // same-code catalog degradation (four stamps in one afternoon,
    // 228 → 303 s, probe 3.23–3.34 s, PSI ~0, page cache constant,
    // flags solo-reproduced on an idle box) — the drift was in
    // MULTI-CORE throughput (host co-tenancy / clock behavior under
    // full-width load), which a one-lane probe cannot see. This probe
    // runs the same fixed xorshift work on ONE LANE PER CPU
    // concurrently: wall-clock ≈ the lane time on a healthy box, and
    // it moves WITH the catalog when the box's aggregate throughput
    // sags — giving bench-gate a mechanical classifier for the one
    // drift class the r15 fields still left "unexplained".
    def probeMt(): Double = {
      val lanes = Runtime.getRuntime.availableProcessors()
      val accs = new java.util.concurrent.atomic.AtomicLong()
      val t0 = System.nanoTime()
      val ts = (0 until lanes).map { _ =>
        val t = new Thread(() => { accs.addAndGet(probeLane(400000000L)); () })
        t.start(); t
      }
      ts.foreach(_.join())
      val dt = (System.nanoTime() - t0) / 1e9
      if (accs.get() == 42L) System.err.println("probe blackhole")
      dt
    }
    // r16 (VERDICT r15 item 6): two more signals for the same-code
    // drift the r15 probe/PSI capture could NOT explain (a ~1.17x
    // median shift with quiet PSI and an unmoved probe):
    //  - JVM JIT total compilation time (ms): a timed window that pays
    //    an outsized compile bill runs interpreted/deoptimized code —
    //    box-speed-invisible, catalog-visible;
    //  - /proc/meminfo Cached (kB): a cold page cache turns the
    //    catalog's parquet scans into disk reads — the probe (pure
    //    CPU) never sees it, the catalog does.
    def jitMs(): Long =
      try {
        val c = java.lang.management.ManagementFactory.getCompilationMXBean
        if (c != null && c.isCompilationTimeMonitoringSupported)
          c.getTotalCompilationTime
        else -1L
      } catch { case _: Throwable => -1L }
    def cachedKb(): Long =
      readFirst("/proc/meminfo").flatMap { txt =>
        txt.linesIterator.find(_.startsWith("Cached:"))
          .flatMap(_.split("\\s+").lift(1)).map(_.toLong)
      }.getOrElse(-1L)
    val boxLoad0 = load1(); val (boxPsi0, boxPsiTot0) = psiCpu()
    val boxJit0 = jitMs(); val boxCached0 = cachedKb()
    val boxProbe0 = probe(); val boxProbeMt0 = probeMt()
    // Mid-run probe samples (VERDICT r17 item 4): the endpoint probes
    // under-explained the r17 drift — a contention window INSIDE the
    // run is invisible to before/after samples. One probe pair at each
    // interleaved pass boundary puts box speed ON the record where the
    // catalog timings actually happened; the gate normalizes by the
    // mid-run ratio, not the endpoints.
    val midProbes = Vector.newBuilder[(Int, Double, Double)]
    val times = collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    val repLog = collection.mutable.Map
      .empty[String, Vector[(Int, Double, Double)]] // (pass, startOffset s, dt s)
      .withDefaultValue(Vector.empty)
    // flat (query, pass, atNanos, dtSecs) log of every timed rep — the
    // attribution index for the memo-pay ledger below
    val flatReps = Vector.newBuilder[(String, Int, Long, Double)]
    val gcBill = collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val failedSet = collection.mutable.Set.empty[String]
    val wall0 = System.nanoTime()
    val schedule: Seq[(Int, (String, (SparkSession, String) => org.apache.spark.sql.DataFrame))] =
      if (consecutive) for { q <- qs; pass <- 1 to reps } yield (pass, q)
      else for { pass <- 1 to reps; q <- qs } yield (pass, q)
    var lastPass = 1
    for ((pass, (name, fn)) <- schedule if !failedSet(name)) {
      // one probe pair at every interleaved pass boundary — box speed
      // sampled WHERE the catalog ran, for the gate's normalization
      if (!consecutive && pass != lastPass) {
        midProbes += ((lastPass, probe(), probeMt()))
        lastPass = pass
      }
      // one failed rep already decides the query's verdict (-1.0);
      // further reps only multiply the failure cost and stderr noise
      val gc0 = gcMillis()
      val t0 = System.nanoTime()
      val ok = run(name, fn)
      val dt = (System.nanoTime() - t0) / 1e9
      Ckpt.sweep(spark) // outside the timed window
      if (ok) {
        times(name) = times(name) :+ dt
        repLog(name) = repLog(name) :+ ((pass, (t0 - wall0) / 1e9, dt))
        flatReps += ((name, pass, t0, dt))
        gcBill(name) = gcBill(name) + (gcMillis() - gc0) / 1e3
      } else failedSet += name
    }
    // block-manager MB left after the last sweep: memo entries plus
    // cuts that no GC has yet found unreachable
    val storedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1048576.0
    // Memo-pay attribution (VERDICT r14 item 5): drain the SessionCache
    // ledger and name, ON THE RECORD, which query paid each memo
    // build in which pass. A build whose start precedes wall0 happened
    // in the WARMUP pass (pass 0, query "warmup") — the normal case,
    // since warmup runs every query once and memos pay on first touch —
    // which mechanically RULES MEMO PAYMENT OUT as the explanation for
    // any timed-pass rep spread; status.py's spread advisories
    // cross-reference this (explain or escalate, never guess).
    val repIdx = flatReps.result()
    val memoPays = SessionCache.paysSnapshot.map { case (label, t0, secs) =>
      val (q, pass) =
        if (t0 < wall0) ("warmup", 0)
        else repIdx.find { case (_, _, at, dt) =>
          t0 >= at && t0 < at + (dt * 1e9).toLong
        }.map(r => (r._1, r._2)).getOrElse(("untimed", -1))
      (label, q, pass, (t0 - wall0) / 1e9, secs)
    }
    val results: Seq[(String, Double, Option[Spread])] = qs.map { case (name, _) =>
      val ts = times(name)
      if (failedSet(name) || ts.length < reps) (name, -1.0, None)
      else {
        val sorted = ts.sorted
        // true median: average the two middle samples when reps is even
        // (sorted(n/2) alone is the upper-middle, biased high)
        val med =
          if (sorted.length % 2 == 1) sorted(sorted.length / 2)
          else (sorted(sorted.length / 2 - 1) + sorted(sorted.length / 2)) / 2.0
        (name, med,
          Some(Spread(med, sorted.head, sorted.last, gcBill(name), repLog(name))))
      }
    }
    val failed = results.collect { case (k, v, _) if v < 0 => k }
    failed.foreach(n => System.err.println(s"BENCH FAILED: $n"))
    def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qjson = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // sibling "spread" map — the scalar "queries" map above stays exactly
    // what the driver parses; consumers that know about spreads (the
    // bench-gate) prefer them
    // "reps" = [[pass, startOffsetSec, durSec], ...] — rep provenance so
    // a contention burst is identifiable from the record alone
    val sjson = results.collect { case (k, _, Some(sp)) =>
      val repsArr = sp.repRows.map { case (p, at, dt) =>
        s"[$p,${r3(at)},${r3(dt)}]"
      }.mkString("[", ",", "]")
      "\"" + k + "\":{\"med\":" + r3(sp.med) + ",\"min\":" + r3(sp.min) +
        ",\"max\":" + r3(sp.max) + ",\"gc\":" + r3(sp.gc) +
        ",\"reps\":" + repsArr + "}"
    }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val fjson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val boxLoad1 = load1(); val (boxPsi1, boxPsiTot1) = psiCpu()
    val boxJit1 = jitMs(); val boxCached1 = cachedKb()
    val boxProbe1 = probe(); val boxProbeMt1 = probeMt()
    val psiDelta =
      if (boxPsiTot0 >= 0 && boxPsiTot1 >= 0) boxPsiTot1 - boxPsiTot0 else -1.0
    val jitDelta = if (boxJit0 >= 0 && boxJit1 >= 0) boxJit1 - boxJit0 else -1L
    val bjson = s"""{"load1_start":${r3(boxLoad0)},"load1_end":${r3(boxLoad1)},""" +
      s""""psi10_start":${r3(boxPsi0)},"psi10_end":${r3(boxPsi1)},""" +
      s""""psi_total_delta_s":${r3(psiDelta)},""" +
      s""""jit_delta_ms":$jitDelta,""" +
      s""""cached_kb_start":$boxCached0,"cached_kb_end":$boxCached1,""" +
      s""""probe_start_s":${r3(boxProbe0)},"probe_end_s":${r3(boxProbe1)},""" +
      s""""probe_mt_start_s":${r3(boxProbeMt0)},"probe_mt_end_s":${r3(boxProbeMt1)},""" +
      s""""probes_mid":${midProbes.result().map { case (p, st, mt) =>
        s"[$p,${r3(st)},${r3(mt)}]" }.mkString("[", ",", "]")},""" +
      s""""quiet":$quiet,"quiet_wait_s":${r3(quietWaitS)},""" +
      s""""quiet_entry_load1":${r3(quietEntryLoad1)},""" +
      s""""quiet_entry_psi10":${r3(quietEntryPsi10)}}"""
    val mjson = memoPays.map { case (label, q, pass, at, secs) =>
      s"""{"memo":"$label","q":"$q","pass":$pass,"at":${r3(at)},"cost_s":${r3(secs)}}"""
    }.mkString("[", ",", "]")
    // MEMO-HONEST COLD TOTAL (VERDICT r19 item 1): `value` sums warm
    // medians — every SessionCache artifact build is paid in the warmup
    // pass, OFF the per-query record (r19's driver run: 78 s of builds
    // all attributed q="warmup" against a 249.7 s total). `value_cold`
    // = value + Σ memo_pays puts the true single-pass catalog cost ON
    // the record: Σ includes every build the process paid (warmup AND
    // any timed-pass rebuild), so value_cold ≥ the true cold cost — a
    // conservative upper bound (a timed-pass pay can land inside a
    // median rep and be counted twice; in practice warmup pays all).
    // Round-over-round PERF comparisons should prefer cold totals so a
    // build shifted into a memo can never masquerade as a speedup.
    // hit, miss and superseded counts per memo label, beside the pays
    val countsJson = SessionCache.countsSnapshot.toSeq.sortBy(_._1).map {
      case (label, (hits, misses, superseded)) =>
        s""""$label":{"hits":$hits,"misses":$misses,"superseded":$superseded}"""
    }.mkString("{", ",", "}")
    val memoTotal = memoPays.map(_._5).sum
    val valueCold = total + memoTotal
    val json = s"""{"metric":"total","value":$total,"unit":"sec","value_cold":$valueCold,"memo_build_s":${r3(memoTotal)},"queries":$qjson,"spread":$sjson,"failed":$fjson,"box":$bjson,"memo_pays":$mjson,"memo_counts":$countsJson,"stored_mb":${r3(storedMb)},"sf":"$sfDir"}"""
    println(json)
    // The driver's BENCH_r*.json keeps only a tail of the stdout line, so
    // early-alphabet queries vanish from the per-round record. Persist the
    // complete JSON to a repo file (git-tracked, so each round's commit
    // preserves it), and ALSO round-stamp a copy — BENCH_full_r{N}.json,
    // N = 1 + the highest driver tail present — so a later round's run
    // can't erase this round's full record. status.py prefers the
    // stamped snapshots over the truncated tails.
    def persist(path: String): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(path),
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case t: Throwable =>
        System.err.println(s"BENCH WARN: could not write $path: ${t.getMessage}")
      }
    val cwd = sys.props("user.dir")
    val fullPath = sys.env.getOrElse(
      "SPARK_GRAFT_BENCH_OUT",
      java.nio.file.Paths.get(cwd, "BENCH_local_full.json").toString)
    persist(fullPath)
    // Only a CANONICAL complete-catalog run may claim a round snapshot:
    // not a SPARK_GRAFT_ONLY-filtered iteration run, not a redirected
    // (SPARK_GRAFT_BENCH_OUT) run, and not a run against a non-default
    // dataset (e.g. the make_scaled.py 3x study) — any of those stamping
    // BENCH_full_r{N}.json would poison the round's record with numbers
    // that are not the round's sf0.1 catalog timings.
    // VERDICT r19 item 6: the core count is part of the canonical
    // condition too — the driver's 8-core SCALING run stamped a bogus
    // BENCH_full_r20.json as if it were the round's 32-core record. A
    // run at less than the box's full width writes a clearly-labeled
    // BENCH_full_r{N}_cpus{c}.json instead (kept for the scaling
    // analysis, never read as a round record — status.py's round glob
    // fullmatches the unsuffixed name).
    val fullWidth = cpus.trim.toIntOption
      .contains(Runtime.getRuntime.availableProcessors())
    val canonical = only.isEmpty && !consecutive &&
      sys.env.get("SPARK_GRAFT_BENCH_OUT").isEmpty &&
      sfDir == "/root/testdata/sf0.1"
    if (canonical) {
      val tails = Option(new java.io.File(cwd).list()).getOrElse(Array.empty)
        .flatMap { n =>
          val m = "BENCH_r(\\d+)\\.json".r
          n match { case m(d) => Some(d.toInt); case _ => None }
        }
      val round = if (tails.isEmpty) 1 else tails.max + 1
      val stampName = f"BENCH_full_r$round%02d.json"
      // A COMMITTED stamp is a round record in custody — a post-commit
      // run (typically the driver's own re-run) must not silently
      // replace it (VERDICT r19 item 6: the driver's 32-core run
      // overwrote the builder's committed 254.2 s r19 stamp). If the
      // working-tree stamp is identical to git HEAD's copy, divert to
      // BENCH_full_r{N}_driver.json; a dirty or absent stamp (the
      // builder's normal mid-round iteration) stamps as before. Any
      // git failure falls back to normal stamping.
      def committedClean(name: String): Boolean =
        try {
          val f = new java.io.File(cwd, name)
          f.exists() && {
            val p = new ProcessBuilder("git", "diff", "--quiet", "HEAD", "--", name)
              .directory(new java.io.File(cwd)).start()
            p.waitFor(10, java.util.concurrent.TimeUnit.SECONDS) && p.exitValue() == 0
          }
        } catch { case _: Throwable => false }
      val target =
        if (!fullWidth)
          f"BENCH_full_r$round%02d_cpus${cpus.trim}.json"
        else if (committedClean(stampName))
          f"BENCH_full_r$round%02d_driver.json"
        else stampName
      if (target != stampName)
        System.err.println(s"BENCH NOTE: canonical stamp diverted to $target " +
          "(non-full-width run or committed stamp in custody)")
      persist(java.nio.file.Paths.get(cwd, target).toString)
      if (target == stampName) {
      // VERDICT r16 item 6: STATUS.md regenerates IN the stamp flow, so
      // the committed table can never describe a superseded record (the
      // r16 table was generated from a degraded mid-round stamp and
      // carried a fictitious ~1.2x drift). Best-effort: a missing
      // python must not fail the bench run; test_status.py pins the
      // committed STATUS.md's source against the newest BENCH_full.
      try {
        val p = new ProcessBuilder("python3", "tools/status.py", "gen")
          .directory(new java.io.File(cwd)).inheritIO().start()
        // bounded wait + exit-code check (ADVICE r17): a hung python
        // must not block the stamp forever, and a FAILING gen must
        // leave a BENCH WARN next to the stale STATUS.md — the catch
        // below only covers start() itself throwing
        if (!p.waitFor(120, java.util.concurrent.TimeUnit.SECONDS)) {
          p.destroyForcibly()
          System.err.println(
            "BENCH WARN: status.py gen timed out after 120s — STATUS.md may be stale")
        } else if (p.exitValue() != 0)
          System.err.println(
            s"BENCH WARN: status.py gen exited ${p.exitValue()} — STATUS.md may be stale")
      } catch { case t: Throwable =>
        System.err.println(s"BENCH WARN: status.py gen failed: ${t.getMessage}")
      }
      } // target == stampName: only a real round stamp regenerates STATUS.md
    }
    spark.stop()
  }
}
