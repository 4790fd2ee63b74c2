package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tools.Canaries.Canary
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // split-range cap sized for the local SFs: the scale-up tables are
      // single FILES with 2 MB row groups, and the default 128 MB range
      // would put a whole 80 MB table in one scan task
      .config("spark.sql.files.maxPartitionBytes", "2m")
      .config(graft.functions.TypedArgExtremum.FallbackThresholdKey,
        graft.functions.TypedArgExtremum.FallbackThreshold)
      // bucketed artifacts' sortBy is trusted at scan (single-file buckets)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The three window-quality instruments (single-thread spin / 32-thread
    // mean-per-thread spin / 8-thread memory sweep) live in
    // graft.tools.Canaries, SHARED with Verify's sf10 timing sweep so the
    // two artifacts' canary numbers are directly comparable — see that
    // object and the r12 block comment below for the full rationale.
    // Observed motivating incidents: identical workloads 52s vs 630s
    // wall-clock under hard host throttling (single-thread canary moves);
    // identical runs 95s vs 921s with IDENTICAL single-thread calib under
    // a CPU quota (only the parallel canary moves).
    import graft.tools.Canaries
    def calibrate(iters: Long = 300000000L): Double = Canaries.calibrate(iters)
    def calibratePar(threads: Int = 8, iters: Long = 300000000L): Double =
      Canaries.calibrateParBoth(threads, iters)._1
    // Streaming canary: one trivial AvailableNow file-stream aggregation
    // through a memory sink, timed. Streaming's per-query cost is serial
    // commit latency (microbatch planning + state-store delta commits), which
    // a host CPU quota inflates WITHOUT moving the compute canaries — the
    // exact confound BENCH_r05 hit (34s stream entries, clean calib). The
    // first call also absorbs the one-time streaming machinery cold-start
    // (~8s of class-loading/state init on a clean host) so it lands in an
    // attributable field instead of inside whichever stream query runs first.
    def calibrateStream(): Double = {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.streaming.{OutputMode, Trigger}
      val dir = java.nio.file.Files.createTempDirectory("graft_stream_canary")
      val src = dir.resolve("in").toString
      spark.range(1000).select(col("id"), pmod(col("id"), org.apache.spark.sql.functions.lit(7)).as("k"))
        .coalesce(1).write.mode("overwrite").parquet(src)
      val schema = spark.read.parquet(src).schema
      // same state-partition count as the harness stream entries — a
      // canary committing 32 deltas/batch while the entries commit 5
      // would inflate ~6x more under the same host quota and mis-scale
      // the very attribution it exists for
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions",
        graft.streaming.EventStreams.StreamStatePartitions)
      val t0 = System.nanoTime()
      val sec = try {
        val q = spark.readStream.schema(schema).parquet(src)
          .groupBy(col("k")).agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName("graft_stream_canary")
          .outputMode(OutputMode.Complete()).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        (System.nanoTime() - t0) / 1e9
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
      spark.catalog.dropTempView("graft_stream_canary")
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      try org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
      catch { case _: Throwable => () }
      sec
    }
    // Optional subset (comma-separated names): big-SF scaling runs bench a
    // hand-picked family cross-section (tools/sf10_subset.txt) instead of
    // all ~280 queries. Absent => full registry, the driver contract.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    // A typo'd subset name would silently shrink the run and record the
    // total as if the intended cross-section ran (the sf10 ladder numbers
    // depend on the subset being exactly tools/sf10_subset.txt) — fail
    // loudly instead.
    only.foreach { o =>
      val unknown = o -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in the registry: ${unknown.toSeq.sorted.mkString(",")}")
    }
    // Pass count: 2 (min-of-2, the sf0.1 round contract) unless overridden —
    // the full-registry sf10 timing run uses 1 (engine pass alone is ~1h;
    // the per-query numbers there are read with their window canaries, not
    // a min-of-2).
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    require(passes == 1 || passes == 2, s"SPARK_GRAFT_BENCH_PASSES must be 1 or 2, got $passes")

    // ---- Window-quality instrumentation (r12) -------------------------
    // r11's lesson: two runs 1.47x apart BOTH self-certified clean because
    // the only per-window canary was single-thread — blind to a CPU quota
    // between 8 and 32 cores and to bandwidth-shaped load, and the run-min
    // normalization made a uniformly-loaded run look flat. Three fixes:
    //   (1) every window now samples THREE canaries — single-thread spin
    //       (hard-throttle shape), 32-thread spin at 100M iters (quota /
    //       competing-CPU shape), 8-thread memory sweep (bandwidth shape);
    //   (2) the run minimum is taken over the RAW canary samples of both
    //       passes (ADVICE r11: the old per-query-max formulation inflated
    //       the baseline under sustained throttle and under-flagged);
    //   (3) uniform sustained load — where every relative rule is blind —
    //       is caught by ABSOLUTE floors on the run-MIN of each canary,
    //       set at ~1.6x the clean-host medians measured in-repo
    //       (BASELINE.md round 12): single 0.42, par32@100M 0.19, mem 0.19.
    // The verdict is stamped into the JSON as load_class:
    //   "failed"  — a query threw: it is named in failed_queries, left out
    //               of the totals, and the run exits non-zero;
    //   "loaded"  — one or more query windows flagged (relative rule), or a
    //               uniform-load floor tripped: the total is NOT a clean
    //               datapoint; rerun on a quiet window.
    //   "suspect" — windows clean but the two pass totals differ >1.6x
    //               (JIT warmup alone gives ~1.3x), or (full registry at
    //               sf0.1) mean sec/query > 0.85, 1.4x the 0.62 clean-host
    //               mean: unattributed interference.
    //   "clean"   — none of the above; the total stands as evidence.
    // A judge applies the same rule mechanically: load_class != "clean"
    // disqualifies the artifact as a performance datapoint.
    val SingleCleanFloor = 0.67 // 1.6x of 0.42 clean median (300M iters)
    // mean PER-THREAD times (see Canaries.calibrateParBoth): clean medians
    // measured r12 — par32@100M ≈ 0.145 (a third of the single 300M loop),
    // mem sweep ≈ 0.19/thread
    val Par32CleanFloor = 0.23
    val MemCleanFloor = 0.30
    val registry = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    def runPass(): Pass = Bench.runPass(spark, sfDir, registry, () => Canaries.sample())
    val calib = calibrate()
    val calibPar = calibratePar()
    val calibStream = calibrateStream()
    val calibPar32 = calibratePar(32)
    // N passes, report the per-query MINIMUM: host throttling comes and
    // goes mid-run (observed: the same query 2.3s and 63.7s in back-to-back
    // runs with clean start/end calibrations), and min-over-repetitions is
    // the standard way to read through external interference. All pass
    // totals are reported so the noise itself stays visible.
    val first = runPass()
    val calibMid = calibrate()
    val second = if (passes == 2) Some(runPass()) else None
    // A query that failed in any pass has no timing: it is named in
    // failed_queries and left out of every total.
    val failed = (first.failed ++ second.toSeq.flatMap(_.failed)).map(_._1).distinct.sorted
    def timings(p: Pass) = p.timed.filterNot(t => failed.contains(t._1))
    val pass1full = timings(first)
    val pass2full = second.map(timings).getOrElse(pass1full)
    val (rawCan1, rawCan2) = (first.canaries, second.map(_.canaries).getOrElse(Vector.empty))
    val pass1 = pass1full.map { case (k, v, _) => k -> v }
    val pass2 = pass2full.map { case (k, v, _) => k -> v }
    val p2 = pass2full.map { case (k, v, c) => k -> (v, c) }.toMap
    // min-of-N per query; the canary triple follows the pass that supplied
    // the min
    val withCalib = pass1full.map { case (k, v1, c1) =>
      val (v2, c2) = p2(k)
      if (v1 <= v2) (k, v1, c1) else (k, v2, c2)
    }
    val results = withCalib.map { case (k, v, _) => k -> v }
    val calibNear = withCalib.map { case (k, _, c) => k -> c }
    // Run minima over the RAW window samples of both passes (not the
    // per-query maxes — ADVICE r11)
    val rawCanaries = rawCan1 ++ rawCan2
    val minCanary = rawCanaries.map(_.single).min
    val minPar32 = rawCanaries.map(_.par32).min
    val minMem = rawCanaries.map(_.mem).min
    // Relative per-query rule: ANY of the three window canaries >1.4x its
    // run minimum flags the query's timing as taken under interference.
    val throttledQs = calibNear.collect {
      case (k, c) if c.single > 1.4 * minCanary ||
        c.par32 > 1.4 * minPar32 || c.mem > 1.4 * minMem => k }
    // Absolute uniform-load floors on the run minima (relative rules are
    // blind when EVERY window is equally loaded).
    val uniformLoad = scala.collection.mutable.ArrayBuffer[String]()
    if (minCanary > SingleCleanFloor) uniformLoad += "uniform_cpu_single"
    if (minPar32 > Par32CleanFloor) uniformLoad += "uniform_cpu_par32"
    if (minMem > MemCleanFloor) uniformLoad += "uniform_membw"
    val total = results.map(_._2).sum
    val passSpread =
      if (passes == 2) {
        val t1 = pass1.map(_._2).sum; val t2 = pass2.map(_._2).sum
        math.max(t1, t2) / math.max(1e-9, math.min(t1, t2))
      } else 1.0
    val meanSpq = total / math.max(1, results.size)
    val fullRegistrySf01 = only.isEmpty &&
      new java.io.File(sfDir).getName == "sf0.1"
    // Best-known CLEAN full-registry sf0.1 total, re-baselined r15 to
    // the CURRENT 286-query composition (bench_r15_clean.json at r15
    // HEAD: 166.5 s, load_class clean, zero throttled; the old 151.5
    // constant was 283-query-shaped — r14 verdict item 6 — and two
    // rounds of +N rows would have pushed spread_vs_record past 1.10
    // with zero real regressions). Two same-HEAD clean runs have been
    // observed up to ±7-9% apart (r13: 151.5 vs 162.8; r14: driver
    // 152.6 vs builder 163.9) — that band is the accepted clean-window
    // spread, recorded in BASELINE.md — so spread_vs_record makes each
    // artifact carry its own distance from the record: a "clean" run at
    // > ~1.10 is a real regression, not window noise to be absorbed.
    // The first r15 record (166.5) was measured in a builder-box window
    // (~9% slower than driver windows historically); the anticipated
    // tightening landed the same round: bench_r15_clean2.json at r15
    // HEAD measured 154.9 clean (spread_vs_record 0.930 against 166.5),
    // so the record is 154.9. Re-baseline together with the mean_spq
    // floor when the registry composition changes.
    val CleanRecordSf01 = 154.9
    val spreadVsRecord =
      if (fullRegistrySf01) Some(total / CleanRecordSf01) else None
    val suspectReasons = scala.collection.mutable.ArrayBuffer[String]()
    // 1.6, not lower: pass 1 legitimately carries JIT/codegen warmup (the
    // r11 clean-host run's spread was 1.33); interference that only shows
    // as spread while every window canary stays clean is rare — the
    // absolute floors above are the primary uniform-load instrument.
    if (passSpread > 1.6) suspectReasons += "pass_spread_gt_1.6"
    // 0.62 s/query measured clean at r11-r12 registry composition; the
    // floor only applies to the canonical full-registry sf0.1 run. When
    // the registry composition changes materially, re-baseline this in
    // BASELINE.md and here.
    if (fullRegistrySf01 && meanSpq > 0.85) suspectReasons += "mean_spq_gt_0.85"
    val loadClass =
      Bench.loadClass(failed, throttledQs ++ uniformLoad, suspectReasons.toSeq)
    val loadEvidence = (uniformLoad ++ suspectReasons ++
      (if (throttledQs.nonEmpty) Seq(s"throttled_windows:${throttledQs.size}") else Nil) ++
      (if (failed.nonEmpty) Seq(s"failed_queries:${failed.size}") else Nil))
      .mkString(";")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val calibEnd = calibrate()
    val calibParEnd = calibratePar()
    val calibStreamEnd = calibrateStream()
    // value = sum of per-query minima over the passes (documented in
    // BASELINE.md); value_single_pass = the plain first-pass total, for
    // consumers comparing against single-pass baselines without reading
    // the agg/passes fields.
    // per-family subtotals (prefix before the first '_'): the unit every
    // adjudication sums by hand otherwise — fixed cost (stream family)
    // separates from data-proportional work at a glance
    val families = results
      .groupBy { case (k, _) =>
        if (k.matches("^q[0-9]+_.*")) "tpch" else k.takeWhile(_ != '_') }
      .toSeq.sortBy(_._1)
      .map { case (f, qs2) =>
        s"\"" + f + "\":" + math.rint(qs2.map(_._2).sum * 1000) / 1000 }
      .mkString("{", ",", "}")
    def r3(v: Double): String = BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val calibNearJson = calibNear.map { case (k, c) =>
      s"\"" + k + "\":" + r3(c.single) }.mkString("{", ",", "}")
    val par32NearJson = calibNear.map { case (k, c) =>
      s"\"" + k + "\":" + r3(c.par32) }.mkString("{", ",", "}")
    val memNearJson = calibNear.map { case (k, c) =>
      s"\"" + k + "\":" + r3(c.mem) }.mkString("{", ",", "}")
    val throttledJson = throttledQs.map("\"" + _ + "\"").mkString("[", ",", "]")
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"families":$families,"sf":"$sfDir","passes":$passes,"agg":"min","value_single_pass":${pass1.map(_._2).sum},"pass_totals":[${(if (passes == 2) Seq(pass1, pass2) else Seq(pass1)).map(p => p.map(_._2).sum).mkString(",")}],"calib_sec":$calib,"calib_mid_sec":$calibMid,"calib_end_sec":$calibEnd,"calib_par8_sec":$calibPar,"calib_par32_sec":$calibPar32,"calib_par8_end_sec":$calibParEnd,"calib_stream_sec":$calibStream,"calib_stream_end_sec":$calibStreamEnd,"calib_near":$calibNearJson,"calib_par32_near":$par32NearJson,"calib_mem_near":$memNearJson,"canary_min_sec":${r3(minCanary)},"canary_par32_min_sec":${r3(minPar32)},"canary_mem_min_sec":${r3(minMem)},"pass_spread":${r3(passSpread)},"mean_sec_per_query":${r3(meanSpq)},"load_class":"$loadClass","load_evidence":"$loadEvidence","spread_vs_record":${spreadVsRecord.map(r3).getOrElse("null")},"throttled_queries":$throttledJson,"failed_queries":$failedJson}"""
    println(json)
    // The harness that snapshots this run keeps only the LAST ~2000 chars of
    // output, and sbt appends its own "[success] ..." trailer — with 280
    // registered queries the full-name JSON line above is ~3000 chars and
    // gets truncated past recognition. So the LAST line printed is a compact
    // twin that always fits: per-query keys are q<i> in alphabetical query
    // order (the legend line right before this one, and bench_out.json,
    // carry the full names), seconds rounded to 1 ms.
    val legend = results.zipWithIndex
      .map { case ((k, _), i) => s"\"q$i\":\"$k\"" }.mkString("{", ",", "}")
    val legendLine = s"""{"bench_legend":$legend}"""
    val compactQs = results.zipWithIndex
      .map { case ((_, v), i) => s"\"q$i\":${r3(v)}" }.mkString("{", ",", "}")
    val compact = s"""{"metric":"total","value":${r3(total)},"unit":"sec","queries":$compactQs,"sf":"${new java.io.File(sfDir).getName}","n_queries":${results.size},"passes":$passes,"agg":"min","value_single_pass":${r3(pass1.map(_._2).sum)},"pass_totals":[${(if (passes == 2) Seq(pass1, pass2) else Seq(pass1)).map(p => r3(p.map(_._2).sum)).mkString(",")}],"calib_sec":[${r3(calib)},${r3(calibMid)},${r3(calibEnd)}],"calib_par_sec":[${r3(calibPar)},${r3(calibPar32)},${r3(calibParEnd)}],"calib_stream_sec":[${r3(calibStream)},${r3(calibStreamEnd)}],"canary_min_sec":${r3(minCanary)},"canary_par32_min_sec":${r3(minPar32)},"canary_mem_min_sec":${r3(minMem)},"pass_spread":${r3(passSpread)},"mean_sec_per_query":${r3(meanSpq)},"load_class":"$loadClass","load_evidence":"$loadEvidence","spread_vs_record":${spreadVsRecord.map(r3).getOrElse("null")},"n_throttled":${throttledQs.size},"failed_queries":$failedJson,"query_names":"see bench_legend line / bench_out.json"}"""
    // Belt-and-braces: sbt may prefix stdout lines, so also drop the JSON
    // where the driver (or a human) can read it unmangled.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
      json + "\n" + legendLine + "\n" + compact + "\n")
    catch { case _: Throwable => () }
    spark.stop()
    println(legendLine)
    println(compact)
    if (failed.nonEmpty) {
      System.err.println(s"bench: ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** One pass over `qs`: the timed queries as (name, seconds, canary),
    * the failed ones as (name, error), and the raw window canaries.
    */
  private[graft] final case class Pass(
      timed: Seq[(String, Double, Canary)], failed: Seq[(String, String)], canaries: Vector[Canary])

  /** Interleave canaries every this many queries. */
  private val CanaryEvery = 25

  /** Per-WINDOW throttle attribution: canaries are interleaved every
    * CanaryEvery queries, so a mid-run host-throttle window (observed:
    * 6.8x canaries poisoning the sf10 bench line) is machine-attributable
    * to the specific queries that ran inside it. Each query carries the
    * worse (max) of the canaries at its window's start and end, from
    * whichever pass supplied its min-of-N time. A query that throws is
    * recorded by name with its error: the seconds it took to fail are not
    * a timing of the query.
    */
  private[graft] def runPass(
      spark: SparkSession,
      sfDir: String,
      qs: Seq[(String, (SparkSession, String) => DataFrame)],
      sampleCanary: () => Canary): Pass = {
    val timed = scala.collection.mutable.ArrayBuffer[(String, Double, Int)]()
    val failed = scala.collection.mutable.ArrayBuffer[(String, String)]()
    var canaries = Vector(sampleCanary())
    qs.zipWithIndex.foreach { case ((name, fn), i) =>
      if (i > 0 && i % CanaryEvery == 0) canaries :+= sampleCanary()
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        timed += ((name, (System.nanoTime() - t0) / 1e9, i / CanaryEvery))
      } catch { case scala.util.control.NonFatal(e) => failed += name -> e.toString }
    }
    canaries :+= sampleCanary()
    val out = timed.toSeq.map { case (name, sec, w) =>
      val a = canaries(w)
      val b = canaries(math.min(w + 1, canaries.size - 1))
      (name, sec, Canary(math.max(a.single, b.single),
        math.max(a.par32, b.par32), math.max(a.mem, b.mem)))
    }
    Pass(out, failed.toSeq, canaries)
  }

  /** The run's verdict, stamped into the JSON as load_class:
    *   "failed"  — a query threw: the total leaves it out, so it is not a
    *               total of the registry, whatever the window;
    *   "loaded"  — one or more query windows flagged, or a uniform-load
    *               floor tripped;
    *   "suspect" — windows clean but interference unattributed;
    *   "clean"   — none of the above.
    */
  private[graft] def loadClass(
      failed: Seq[String], loadedBy: Seq[String], suspectBy: Seq[String]): String =
    if (failed.nonEmpty) "failed"
    else if (loadedBy.nonEmpty) "loaded"
    else if (suspectBy.nonEmpty) "suspect"
    else "clean"
}
