package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark entry point. Prints `{"metric":"total",...}` JSON lines on
  * stdout; the driver tails the output and keeps the LAST parseable line.
  *
  * Failure-containment contract (round-7 lesson: a 3-pass design that
  * prints one line at the very end loses EVERYTHING when the driver's
  * timeout fires mid-run — BENCH_r07 was rc:124 with no parsed result):
  *   - a JSON line is emitted after every completed pass, AND periodically
  *     (every ~20 s) while a pass is still running, so the tail always
  *     holds the most recent complete measurement set;
  *   - a wall-clock budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default 360 s of
  *     timed work) bounds the run: an in-flight pass aborts cleanly at the
  *     deadline — the running per-query minimum is still valid because a
  *     min over any subset of completed measurements is a measurement;
  *   - the process exits 0 as long as at least the partial pass ran.
  *
  * Per-query MINIMUM across however many passes fit the budget. Before any
  * measured pass, a SMALL-SF WARM-UP SWEEP runs every query once at the
  * smallest sibling scale factor (sf0.001), excluded from minima: the
  * one-time JIT/codegen/classloader costs it absorbs are data-size
  * independent, so the first MEASURED pass is already near steady state and
  * two measured passes yield warm minima where the old cold-pass-1 design
  * needed three (which stopped fitting the 360 s budget at 185 queries —
  * BENCH_r11 ran `complete: false` with cold-dominated minima). On a slow
  * host the sweep truncates at its own cap and the design degrades to the
  * old behavior, never to nothing.
  *
  * Measured order (round-13 lesson — the registry outgrew the budget and
  * BENCH_r13 recorded full_passes 0 with ~200 cold singles): a WARM
  * HEADLINE PHASE first (two measured passes over the frozen 32-entry
  * cross-round subset), then full-battery passes with the remaining
  * budget. The phase is PACE-AWARE (round-14 lesson — a 20-50x throttled
  * window spent the whole budget cold-measuring 12 headline entries and
  * BENCH_r14 captured 12/230): between entries it re-projects its
  * remaining cost from the observed pace ([[BenchGate.headlineTarget]])
  * and degrades 2 passes → 1 → abort-to-sweep so one full-battery sweep
  * always fits first — breadth beats warmth when the window can't afford
  * both. `degraded: true` in the JSON line records that a fallback
  * engaged; a min/med/max micro-calib + IO-probe timeline sampled at the
  * ~20 s emit points records the window itself.
  *
  * MEASURED-SCALE DOWNSHIFT (round-16 lesson — r15's fallback correctly
  * shed the headline passes yet still captured only 138/233: a 3-4×
  * throttle cannot fit 233 sf0.1 entries in a fixed budget, period): when
  * the pace projection says the measured-scale sweep won't fit, the
  * still-unmeasured tail runs at the next-smaller sibling scale factor
  * (sf0.01, stepping to sf0.001 if even that projects over), so EVERY
  * registry entry gets a measurement in any window. Downshifted timings
  * are explicitly labeled and never mixed into measured-scale artifacts:
  * they live in `downshift_n` / `downshift_total` / a per-dir `downshift`
  * count object, while `value`, `n_sf`, `queries`, and the regression
  * gate stay measured-scale-only. Later passes re-measure downshifted
  * entries at full scale first if the window recovers.
  *
  * RESUMABLE CAPTURE (round-17 lesson — r16's spiky window measured 111
  * entries warm at sf0.1 while three quiet local captures covered all
  * 235): per-entry measured-scale minima (+ measurement counts) persist
  * to a state file (SPARK_GRAFT_BENCH_STATE, default repo-local
  * `.graft/bench-state.properties` — round-19: the tmpdir default never
  * reached the driver's capture environment, so `resumed_n` read 0 for
  * its primary consumer) keyed by git tree hash + measured dir; the next
  * invocation under the SAME tree folds them in, so consecutive captures
  * ACCUMULATE warm coverage and spend each window's budget on entries no
  * prior window reached. Any code change invalidates the key (no stale
  * minima); `resumed_n` in the JSON line records how many entries were
  * folded. Downshift still covers breadth within a single window; resume
  * fixes depth across windows.
  *
  * KNOWN BOUND: the budget and the periodic emit are both checked BETWEEN
  * queries — a single query that hangs runs unbounded, and if the driver
  * then kills the process the stdout tail still holds the last complete
  * measurement set (that tail capture is the containment for this case;
  * per-query timeouts would need a watchdog thread killing Spark jobs
  * mid-flight, which risks wedging the session for every later query).
  */
object Bench {

  /** FROZEN headline subset (32 entries as of round 12). These are the
    * only per-query timings carried in the bench JSON line, so their sum
    * is the only cross-round-comparable aggregate (see SURVEY §8 — the
    * full-battery total moves with registry growth and host calib drift).
    * Membership is additions-only, each addition recorded in SURVEY §8;
    * removals/renames would silently break cross-round comparisons.
    * `BenchGateSpec` pins the exact membership. */
  val headline: Seq[String] = Seq(
    "q_pricing_summary", "q_shipping_priority", "q_join_multiway",
    "q_bucketed_join", "q_window_topk", "q_rollup", "q_sessionize", "q_asof_join",
    "q_range_join", "q_dedup_exact", "q_minhash_neardup",
    "q_minhash_neardup_fast", "q_simhash_neardup", "q_simhash_neardup_fast",
    "q_cosine_topk", "q_cosine_topk_ivf", "q_cosine_topk_ivf_indexed",
    "q_cosine_neardup_lsh", "q_cosine_neardup_lsh_fast", "q_semdedup",
    "q_lang_id", "q_token_count",
    "q_ddb_unwrap", "q_load_verification", "q_theta_overlap", "q_freq_topk",
    "q_edit_join",
    // round-12 flagships: fixed-point serving, incremental semantic
    // dedup, learned tokenization, the newly-oracled production PQ
    "q_ivf_search_exact", "q_pq_search_exact", "q_semdedup_delta",
    "q_bpe_tokens", "q_pq_topk")

  /** Fixed CPU-only Spark calibration job: `rows` xxhash64+sum over
    * `slices` range tasks — codegen + scheduling + two-phase agg, zero IO.
    * Two sizes are in use:
    *   - the default MICRO size (~15 ms quiet) is small enough to sample
    *     every ~20 s WITHOUT perturbing the measured queries. The r14
    *     post-mortem: the driver window ran queries 20-50x slow while the
    *     ENDPOINT probes read near-quiet (calib_spark 0.66) — instants at
    *     the edges missed the window entirely. A timeline of these samples,
    *     summarized as min/med/max in the final line, makes a capture from
    *     a degraded window explain its own numbers;
    *   - `calib_spark` (256M rows over 32 tasks, once per run): the
    *     round-11 forensics found the host can run Spark work ~1.5-2×
    *     slower ACROSS ROUNDS while the spin probes read identical
    *     (host-vintage scheduler/memory effects raw ALU loops miss); this
    *     constant makes that visible in the bench line itself.
    * & 1048575 bounds the addends: round-15 forensics found the raw sum of
    * 64-bit hashes OVERFLOWS under ANSI mode (Spark 4 default) within the
    * first few rows of each task, so every capture until then timed a fast
    * job-abort, not the fixed work (baselines were re-blessed same-round so
    * calib_spark_ref and runs stay same-units). */
  private[graft] def sparkCalibSec(spark: SparkSession,
      rows: Long = 4000000L, slices: Int = 4): Double = {
    val t0 = System.nanoTime()
    try spark.range(0L, rows, 1L, slices)
      .selectExpr("sum(xxhash64(id) & 1048575) AS s").collect()
    catch { case _: Throwable => () }
    (System.nanoTime() - t0) / 1e9
  }

  /** The one timed run of a registry entry: build `fn` against `dir` and
    * count it. Returns the wall seconds, or the failure — a run that threw
    * measured NOTHING, so callers record only successes (a time-to-exception
    * as a minimum would be bogus, and the resumable state would persist
    * it). `Throwable`, not NonFatal: a StackOverflowError out of a deep plan
    * fails that one entry, never the whole capture. */
  def measure(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
      dir: String): Either[Throwable, Double] = {
    val t0 = System.nanoTime()
    try {
      fn(spark, dir).count()
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => Left(e) }
  }

  /** Timed cold-path read of one parquet footer region (~64 KiB via the
    * Hadoop FS API, no Spark job): separates IO starvation from CPU steal —
    * a throttle window that inflates [[sparkCalibSec]] but not this is
    * compute-side; both inflating means the storage path is starved too. */
  private[graft] def ioProbeSec(spark: SparkSession, sfDir: String): Double = {
    val t0 = System.nanoTime()
    try {
      val p0 = new org.apache.hadoop.fs.Path(s"$sfDir/nation.parquet")
      val fs = p0.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val st0 = fs.getFileStatus(p0)
      val fileSt =
        if (st0.isDirectory)
          fs.listStatus(p0).find(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
            .getOrElse(st0)
        else st0
      val n = math.min(65536L, fileSt.getLen).toInt
      val buf = new Array[Byte](n)
      val in = fs.open(fileSt.getPath)
      try in.readFully(0L, buf, 0, n) finally in.close()
    } catch { case _: Throwable => () }
    (System.nanoTime() - t0) / 1e9
  }

  private def statsJson(prefix: String, vs: Seq[Double]): String = {
    def r3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", v)
    if (vs.isEmpty) s""""${prefix}_n":0"""
    else {
      val s = vs.sorted
      s""""${prefix}_n":${s.size},"${prefix}_min":${r3(s.head)},"${prefix}_med":${r3(s(s.size / 2))},"${prefix}_max":${r3(s.last)}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - t0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val budgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "360").toDouble
    val spark = SessionFactory.builder("graft-bench", cpus.toInt).getOrCreate()
    // ERROR, not WARN: the bench's contract is its stdout JSON lines; WARN
    // chatter (broadcast-size notes etc.) only risks filling an undrained
    // stderr pipe in whatever harness runs this main
    spark.sparkContext.setLogLevel("ERROR")
    // Self-calibration (see SpinProbe): fixed-work CPU probes measured
    // before pass 1 and again after the last pass, carried in EVERY JSON
    // line so the judge can read a throttle multiple straight off the
    // bench file (quiet-host reference values live in SURVEY §8). Pre
    // runs before Spark warmup so it samples the host, not GC overlap.
    val calibStPre = SpinProbe.singleThread()
    val calibMtPre = SpinProbe.allCores()
    // post values patched in after the pass loop; 0.0 = not yet measured
    var calibStPost = 0.0
    var calibMtPost = 0.0
    // Warmup: one cheap scan per table primes parquet readers + classloading.
    // Budget-checked: this host shows multi-minute windows where the
    // hypervisor cuts the VM's CPU ~4-50x (verified: an independent
    // single-thread spin loop collapses concurrently with Spark stalls), so
    // even "cheap" warmup scans can eat minutes — never let them push total
    // wall past the driver's kill window.
    Seq("lineitem", "orders", "customer", "documents", "embeddings").foreach { t =>
      if (elapsed() < budgetSec * 0.2)
        try sources.Tables.table(spark, sfDir, t).count()
        catch { case _: Throwable => () }
    }
    if (elapsed() < budgetSec * 0.2)
      try sources.Tables.events(spark, sfDir).count() catch { case _: Throwable => () }
    // SPARK-WORK calibration (complements the raw spin probes; see
    // sparkCalibSec). Runs after warmup so one-time session init never
    // contaminates it. Quiet-host reference in SURVEY §8.
    val calibSpark = sparkCalibSec(spark, rows = 256000000L, slices = 32)

    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    // Stable order so a truncated pass 1 covers a deterministic prefix —
    // HEADLINE queries first: when a host-throttle window truncates pass 1
    // (BENCH_r08 covered 63/159 alphabetically), the surviving partial now
    // contains the full cross-round-comparable subset instead of an
    // arbitrary alphabetic prefix; the rest follows alphabetically.
    val headlineRank = headline.zipWithIndex.toMap
    val queryList = SparkEntry.queries.toSeq.sortBy { case (name, _) =>
      (headlineRank.getOrElse(name, Int.MaxValue), name) }
    // Every timed run goes through here: entries that threw at ANY site
    // (warm-up, measured, downshifted, retest) are named in the JSON line's
    // `failed` list instead of vanishing from the capture.
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def timed(name: String, fn: (SparkSession, String) => DataFrame,
        dir: String): Option[Double] =
      measure(spark, fn, dir) match {
        case Right(dt) => Some(dt)
        case Left(_) => failed += name; None
      }

    // SMALL-SF WARM-UP SWEEP (round-11 verdict item 1): run every registry
    // query once against the SMALLEST sibling scale factor before any
    // measured pass. The per-query one-time costs that used to inflate the
    // measured pass 1 ~2-3x — codegen, JIT, classloading, UDF/encoder init —
    // are data-size-independent, so paying them at sf0.001 buys warm-quality
    // minima from TWO measured passes where the old design needed three
    // (185 queries x ~120 s cold no longer fits 3x in a 360 s budget).
    // Excluded from minima (different data scale — its timings mean
    // nothing), budget-capped so a throttled host degrades to a partial
    // warm-up + the old cold-pass behavior, never past the kill window.
    // Artifact caches (bucketed tables, IVF/PQ index dirs) key on the
    // source dir + data fingerprint, so the sweep builds sf0.001-vintage
    // artifacts and never touches the measured dir's.
    val warmupDir = BenchGate.warmupDirFor(sfDir,
      sys.env.get("SPARK_GRAFT_BENCH_WARMUP_DIR"))
    // Sweep order maximizes absorbed one-time cost when the cap truncates
    // it: HEADLINE entries first (the warm headline phase below re-measures
    // them immediately, so their one-time costs must be paid here, not
    // there), then queries with NO baseline (new this round — unknown cold
    // inflation, and the regression gate can't contextualize them), then
    // descending baseline time (the shapes whose cold execution inflates
    // the measured total most, in absolute terms).
    val benchBaseline = BenchGate.loadBaseline()
    // set whenever a pace-aware fallback engages (truncated warm-up,
    // reduced/aborted headline phase): tells the reader the capture's
    // structure was reshaped by a degraded host window, not by code
    var degraded = false
    var warmupN = 0
    // Per-entry warm-up timings: a warm-up run IS a measurement at the
    // warm-up scale, so when the budget later dies before an entry gets
    // any better reading, this sunk cost converts to labeled reduced-scale
    // BREADTH (the emit's fallback accounting) instead of evaporating. In
    // a healthy run every entry is re-measured at full scale and these
    // never surface in the final line.
    val warmupTimes = scala.collection.mutable.Map.empty[String, Double]
    if (warmupDir != "none") {
      val warmupStart = elapsed()
      var warmupDeadline = math.min(budgetSec * 0.25, elapsed() + 90.0)
      val it = queryList.sortBy { case (name, _) =>
        (headlineRank.getOrElse(name, Int.MaxValue),
         -benchBaseline.mins.getOrElse(name, Double.MaxValue)) }.iterator
      while (it.hasNext && elapsed() < warmupDeadline) {
        val (name, fn) = it.next()
        // success-only: a time-to-exception must not later count as labeled
        // breadth in the fallback accounting
        timed(name, fn, warmupDir).foreach(warmupTimes(name) = _)
        warmupN += 1
        // pace cap (r14: the sweep burnt 90 s covering 19 entries at ~5 s
        // each in a throttled window — a quiet host does ~0.3-0.4 s/entry).
        // Warm-up is an INVESTMENT against cold measured passes; at >1.5
        // s/entry the window is so degraded that measured-scale breadth is
        // worth more than further JIT absorption — wind down within 10 s.
        if (warmupN == 8 && (elapsed() - warmupStart) / 8 > 1.5) {
          warmupDeadline = math.min(warmupDeadline, elapsed() + 10.0)
          degraded = true
        }
      }
    }
    val warmupT = elapsed()

    // Continuous calibration timeline (round-15): micro-calib + IO probe
    // sampled at every periodic emit point, summarized min/med/max in each
    // line — the quiet references live in SURVEY §8.
    val mcalSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    val ioSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def sampleProbes(): Unit = {
      mcalSamples += sparkCalibSec(spark)
      ioSamples += ioProbeSec(spark, sfDir)
    }
    sampleProbes() // one sample before any measured work brackets the start

    // Running per-query minimum across all completed measurements so far.
    val best = scala.collection.mutable.Map.empty[String, Double]
    // MEASURED-SCALE DOWNSHIFT state (round-16, the r15 breadth gap:
    // 138/233 measured because a 3-4x throttle cannot fit 233 sf0.1
    // entries in a fixed budget no matter how the passes are shed). When
    // the pace projection says the measured-scale sweep won't fit, the
    // still-unmeasured tail runs at the next-smaller sibling scale instead
    // (sf0.01, then sf0.001 if even that projects over) — every entry gets
    // SOME measurement, explicitly labeled: downshifted minima live in
    // bestDown (never mixed into `best`, the regression gate, the headline
    // map, or `value`), and the emitted line carries per-dir counts.
    val downLadder = BenchGate.downshiftLadder(sfDir,
      sys.env.get("SPARK_GRAFT_BENCH_DOWNSHIFT_DIR"))
    val bestDown = scala.collection.mutable.Map.empty[String, Double]
    val downDir = scala.collection.mutable.Map.empty[String, String] // entry → its dir
    var downLevel = -1 // -1 = measured scale; >= 0 indexes downLadder
    // lazy host-throttle corroboration for the downshift decision (see
    // BenchGate.shouldDownshift): worst of the micro-calib ratio (median
    // of 3 — a single ~15 ms reading wobbles 2×) and the all-cores spin
    // ratio, each vs its blessed quiet ref, cached ~20 s — probed only
    // when the pace projection already failed, so a quiet run pays this
    // at most a few times
    var hostProbeCache = (1.0, -1e9) // (ratio, atElapsed)
    def hostRatio(): Double = {
      if (elapsed() - hostProbeCache._2 > 20.0) {
        val mcalRatio =
          if (benchBaseline.mcalRef > 0) {
            val s = Seq.fill(3)(sparkCalibSec(spark)).sorted
            s(1) / benchBaseline.mcalRef
          } else 1.0
        val mtRatio =
          if (benchBaseline.calibMtRef > 0)
            benchBaseline.calibMtRef / math.max(1e-9, SpinProbe.allCores())
          else 1.0
        hostProbeCache = (math.max(mcalRatio, mtRatio), elapsed())
      }
      hostProbeCache._1
    }
    // measurements per query (passes + isolated retests): the gate only
    // flags WARM-measured queries (n >= 2) — a budget-truncated capture
    // leaves its tail with one COLD measurement each, and comparing a cold
    // reading against warm baselines manufactured eight false flags at
    // once in a degraded r13 window (2.7-3.4x "ratios" that were nothing
    // but first-run codegen/IO). A query measured only once simply has no
    // warm minimum to compare; a real regression still flags the moment a
    // second pass or a retest warm-measures it.
    val nMeasured = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    var fullPasses = 0
    var headlinePasses = 0
    var retestN = 0
    // RESUMABLE CAPTURE (round-17): fold the previous invocation's
    // measured-scale minima into this run's `best` when the source tree
    // (git hash + dirty digest) and measured dir both match — consecutive
    // driver windows then ACCUMULATE sf0.1 warm coverage instead of
    // re-rolling window luck (BENCH_r16 got 111/235 warm in a spiky window
    // that quiet local runs cover fully). Resumed entries carry their
    // measurement counts so the warm-only regression gate treats them
    // honestly; pass 1's unmeasured-first ordering then spends this
    // window's budget on entries no prior window reached. Minima-fold is
    // safe by construction: a min over measurements from several quiet
    // windows of the same tree is still a measurement of that tree.
    val stateKey = BenchGate.treeKey()
    val statePath =
      BenchGate.statePathFor(sys.env.get("SPARK_GRAFT_BENCH_STATE"), sfDir)
    val resumed = BenchGate.loadState(statePath, stateKey, sfDir)
      .filter { case (name, _) => SparkEntry.queries.contains(name) }
    resumed.foreach { case (name, (m, n)) => best(name) = m; nMeasured(name) = n }
    val resumedN = resumed.size
    // live pace model + the phase's current pass target (2 = quiet contract)
    val pace = new BenchGate.Pace(benchBaseline.mins)
    var headlineTarget = 2
    def emit(pass: Int, complete: Boolean): Unit = {
      // The driver captures only the tail, so each line stays well under
      // 2000 chars: full-battery total + a fixed headline subset.
      val qs = headline.flatMap(k => best.get(k).map(v => s"\"$k\":${r3(v)}"))
        .mkString("{", ",", "}")
      // Regression gate (round-11 verdict item 4): names whose current min
      // exceeds baseline x 1.5 x host factor, worst first, capped at 8 so
      // the line stays bounded; regressions_n carries the uncapped count.
      // worst observed all-cores reading: hypervisor steal can deepen
      // mid-run (r13 observed mt_pre 12.5k vs mt_post 8.9k), and the gate
      // should scale by the window the queries actually ran in
      val mtRun =
        if (calibMtPost > 0) math.min(calibMtPre, calibMtPost) else calibMtPre
      // warm-measured only: cold single readings have no warm minimum to
      // regress against (see nMeasured above)
      val allFlags = BenchGate
        .regressions(best.toMap, benchBaseline, calibSpark, mtRun)
      val regs = allFlags.filter(nMeasured(_) >= 2)
      val regsJson = regs.take(8).map(n => s"\"$n\"").mkString("[", ",", "]")
      // ADVISORY (not the gate): would-be flags with only ONE (cold)
      // measurement. The warm-only gate correctly says nothing about them,
      // but a truncated capture that repeatedly leaves the same tail cold
      // would otherwise hide a real regression indefinitely — these names
      // tell the reader exactly which entries need an isolated warm probe.
      val coldFlags = allFlags.filter(nMeasured(_) == 1)
      val coldJson = coldFlags.take(8).map(n => s"\"$n\"").mkString("[", ",", "]")
      val retests = s""""retests":$retestN"""
      // entries whose run threw (any site), capped at 8 like regressions;
      // failed_n carries the uncapped count
      val failedJson = failed.take(8).map(n => s"\"$n\"").mkString("[", ",", "]")
      val total = if (best.nonEmpty) best.values.sum else 0.0
      // calibration in Mops/s; *_post stay 0.0 until the post-run probes fire
      val calib = s""""calib_st_pre":${r3(calibStPre)},"calib_mt_pre":${r3(calibMtPre)},"calib_st_post":${r3(calibStPost)},"calib_mt_post":${r3(calibMtPost)},"calib_spark":${r3(calibSpark)}"""
      // "t" = wall seconds since process start: the periodic lines become a
      // coarse timeline, so a mid-run throttle window shows as a stretch of
      // wall time with little pass progress even when the endpoint probes
      // read quiet
      // full_passes disambiguates a truncated over-started pass: pass 3
      // aborting with full_passes=2 means the minima rest on two COMPLETE
      // sweeps (a valid measurement), not a partial signal — the r11 run-1
      // misread ("complete:false" despite two finished passes)
      // degraded + headline_target record the pace-aware fallback's state;
      // mcal/io carry the min/med/max of the ~20 s probe timeline so a
      // throttled window explains its own numbers (r14: endpoint probes
      // read near-quiet while queries ran 20-50x slow)
      val probes = s"""${statsJson("mcal", mcalSamples.toSeq)},${statsJson("io", ioSamples.toSeq)}"""
      // quiet-host probe references ride along so the mcal/io stats above
      // are self-normalizing (round-16 item: a reader shouldn't need
      // SURVEY §8 to know quiet mcal is ~0.05-0.1 s)
      val probeRefs = s""""mcal_ref":${r3(benchBaseline.mcalRef)},"io_ref":${r3(benchBaseline.ioRef)}"""
      // downshift labeling: n_queries = breadth (measured ANYWHERE);
      // n_sf = measured at the requested scale; "downshift" = per-dir
      // counts of reduced-scale entries; downshift_total their sum (kept
      // out of "value", which stays a measured-scale-only aggregate).
      // Entries whose ONLY reading is their warm-up run count as
      // warm-up-dir downshift breadth — the run happened and was timed;
      // in a healthy window every entry later gets a real reading and
      // this fallback set is empty by the final line.
      val fallback = warmupTimes.view.filterKeys(n =>
        !best.contains(n) && !bestDown.contains(n)).toMap
      // an entry later re-measured at full scale LEAVES the downshift
      // ledger (mirroring how `fallback` already excludes it): a recovered
      // window must not over-report downshift, and n_sf + downshift_n
      // must never exceed n_queries
      val downOnly = bestDown.view.filterKeys(n => !best.contains(n)).toMap
      val dirOnly = downDir.view.filterKeys(n => !best.contains(n)).toMap
      val nAll = (best.keySet ++ downOnly.keySet ++ fallback.keySet).size
      val perDir = (dirOnly ++ fallback.keys.map(_ -> warmupDir))
        .groupBy(_._2).view.mapValues(_.size).toSeq.sortBy(_._1)
      val downJson = perDir.map { case (dir, n) => s""""$dir":$n""" }
        .mkString("{", ",", "}")
      val downN = downOnly.size + fallback.size
      val downTotal = downOnly.values.sum + fallback.values.sum
      val down = s""""n_sf":${best.size},"downshift_n":$downN,"downshift_total":${r3(downTotal)},"downshift":$downJson"""
      println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","t":${r3(elapsed())},"n_queries":$nAll,$down,"pass":$pass,"complete":$complete,"full_passes":$fullPasses,"headline_passes":$headlinePasses,"headline_target":$headlineTarget,"degraded":$degraded,"warmup_n":$warmupN,"warmup_t":${r3(warmupT)},"resumed_n":$resumedN,"regressions":$regsJson,"regressions_n":${regs.size},"cold_flags":$coldJson,"cold_flags_n":${coldFlags.size},$retests,"failed_n":${failed.size},"failed":$failedJson,$probes,$probeRefs,$calib,"queries":$qs,"sf":"$sfDir"}""")
      System.out.flush()
      // persist the accumulated measured-scale minima at every emit point:
      // a driver-killed run still leaves its coverage on disk for the next
      // invocation to resume (write-temp + rename — never torn)
      BenchGate.saveState(statePath, stateKey, sfDir, calibSpark,
        best.toMap.map { case (k, v) => k -> (v, nMeasured(k)) })
    }

    var lastEmit = 0.0
    var pass = 0
    var outOfTime = false
    var lastComplete = false
    // retest reserve: proportional for small budgets (a fixed 25 s reserve
    // aborted a 25-s-budget run after its first query), capped at 25 s so
    // big budgets don't idle
    val reserveSec = math.min(25.0, budgetSec * 0.1)

    // WARM HEADLINE PHASE (round-13 verdict item 2): the frozen 32-entry
    // headline subset is the ONLY cross-round-comparable aggregate, so it
    // gets warm (n >= 2) measured-scale minima FIRST — two measured passes
    // over just these entries, before the full battery spends the budget.
    // BENCH_r13 ran a throttled window at 228 entries and got full_passes 0
    // with the warm-up sweep covering 22 queries: every headline number was
    // a cold single. This phase costs ~2x the headline warm sum (well under
    // a minute quiet) and guarantees the contract subset survives ANY host
    // window that leaves the full battery truncated. Headline entries also
    // re-measure inside the full passes below — more minima, same key.
    // PACE-AWARE FALLBACK (round-15 — the r14 failure): the phase
    // re-projects its remaining cost between entries (BenchGate.Pace /
    // headlineTarget) and degrades 2 passes → 1 → abort-to-sweep the
    // moment the plan stops fitting alongside ONE full-battery sweep of
    // the unmeasured entries. Aborting loses warmth, never coverage: the
    // full passes below order headline entries first. BENCH_r14 spent its
    // whole budget cold-measuring 12/32 headline entries at 13-68 s each
    // in a 20-50x window; under this fallback the same window aborts the
    // phase after ~3 entries and spends the budget on breadth.
    val headlineList = queryList.filter { case (n, _) => headlineRank.contains(n) }
    val phaseStart = elapsed()
    // success-only recording at every measured-scale site: a query that
    // threw measured NOTHING (see `measure`)
    def record(name: String, dt: Double): Unit = {
      best.updateWith(name)(prev => Some(prev.fold(dt)(math.min(_, dt))))
      nMeasured(name) += 1
      pace.observe(name, dt)
    }
    // One measured-scale pass over the frozen contract subset. `adaptive`
    // is the phase above: re-project between entries and cut the phase when
    // it stops fitting. Its first pass runs entries with NO measured-scale
    // reading first (resumed entries already hold a warm minimum from a
    // prior window — re-measuring them before never-measured ones would
    // make consecutive tight windows re-tread the same prefix instead of
    // ACCUMULATING coverage); every other pass repairs slowest-first, same
    // rationale as the main loop.
    // Non-adaptive is the HEADLINE RECOVERY pass (round-19, VERDICT r18
    // item 5), run BETWEEN full passes the moment breadth is secured (r18's
    // recovery only ran after the whole pass loop, by which time a second
    // full pass had spent the budget and headline_passes read 0 in a window
    // that measured all 237 entries), and again after the loop for windows
    // that never afforded it earlier.
    def headlinePass(adaptive: Boolean): Unit = {
      var aborted = false
      var phaseAborted = false
      val order =
        if (adaptive && headlinePasses == 0)
          headlineList.sortBy { case (n, _) =>
            (if (nMeasured(n) == 0) 0 else 1, headlineRank(n)) }
        else headlineList.sortBy { case (n, _) => -best.getOrElse(n, Double.MaxValue) }
      val it = order.iterator
      var done = 0
      while (it.hasNext && !aborted && !phaseAborted) {
        val (name, fn) = it.next()
        timed(name, fn, sfDir).foreach(record(name, _))
        done += 1
        if (adaptive) {
          val target = BenchGate.headlineTarget(
            pace,
            remainingThisPass = order.drop(done).map(_._1),
            headlineAll = if (headlinePasses == 0 && headlineTarget == 2)
              headlineList.map(_._1) else Seq.empty,
            unmeasuredRest = queryList.collect {
              case (n, _) if nMeasured(n) == 0 => n },
            elapsed = elapsed(), budget = budgetSec, reserve = reserveSec,
            phaseSpent = elapsed() - phaseStart)
          if (target < headlineTarget) {
            headlineTarget = target
            degraded = true
            if (headlinePasses >= target) phaseAborted = true // mid-pass cut
          }
        }
        if (elapsed() > budgetSec - reserveSec) { aborted = true; outOfTime = true }
        else if (elapsed() - lastEmit > 20.0) {
          sampleProbes(); emit(pass, complete = lastComplete); lastEmit = elapsed()
        }
      }
      if (phaseAborted) headlinePasses = headlineTarget // exit the phase loop
      else if (!aborted) headlinePasses += 1
      emit(pass, complete = lastComplete)
      lastEmit = elapsed()
    }
    while (headlinePasses < headlineTarget && !outOfTime)
      headlinePass(adaptive = true)

    // Always start the next pass if budget remains: pass 1 still carries
    // whatever one-time cost the warm-up sweep didn't absorb (sf0.1-sized
    // IO, AQE re-plans), so predicting pass 2 from it would skip warm
    // passes that easily fit. The per-query deadline check below aborts an
    // in-flight pass cleanly, and a min over the measurements completed so
    // far is still a valid measurement — so over-starting costs nothing.
    while (pass < 3 && !outOfTime) {
      pass += 1
      var aborted = false
      // Warm passes re-measure slowest-first: the reported total is a sum of
      // per-query minima, so when the budget truncates a warm pass the
      // queries whose cold measurement is most inflated (one-time codegen /
      // JIT / GC spikes) get repaired first. Pass 1 skips the headline
      // entries when the phase above fully warm-measured them (n >= 2
      // each): re-running them would spend ~10% of the budget on a third
      // measurement while ~200 entries still have none — "full pass 1" =
      // headline phase + the rest, i.e. the whole battery measured at
      // measured scale. Later passes include everything.
      // Pass 1 covers every entry with NO measurement yet ("full pass 1" =
      // headline phase + the rest). In the quiet case that is exactly the
      // old filterNot(headline); after a degraded/aborted headline phase it
      // also skips any entry the phase already measured once — breadth
      // first, their warm repair comes in pass 2 if the window allows.
      val passOrder =
        if (pass == 1 && (headlinePasses >= 1 || degraded))
          queryList.filter { case (name, _) => nMeasured(name) == 0 }
        else if (pass == 1) queryList
        else queryList.sortBy { case (name, _) => -best.getOrElse(name, Double.MaxValue) }
      // Observed per-entry seconds at the CURRENT downshift level: the
      // measured-scale pace model says nothing about sf0.01 costs, so the
      // in-downshift "does the rest still fit" re-projection uses its own
      // evidence (median of these), and a second shouldDownshift-grade
      // miss steps the ladder down again.
      val downObs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var passDown = false // this pass ran (partly) at reduced scale
      var remaining = passOrder
      while (remaining.nonEmpty && !aborted) {
        val (name, fn) = remaining.head
        remaining = remaining.tail
        // DOWNSHIFT DECISION, re-checked between entries while still at
        // measured scale (pass 1 only — by pass 2 every entry already has
        // a measurement somewhere, and warm repair belongs at full scale):
        // when the pace projection says the unmeasured tail cannot fit at
        // measured scale, run it at the largest smaller sibling SF instead.
        if (pass == 1 && downLevel < 0 && downLadder.nonEmpty) {
          val unmeasured = ((name, fn) +: remaining)
            .collect { case (n, _) if nMeasured(n) == 0 => n }
          if (BenchGate.shouldDownshift(pace, unmeasured, elapsed(), budgetSec,
              reserveSec, hostRatio())) {
            downLevel = 0
            degraded = true
            passDown = true
            // sweep NEVER-RUN entries before warm-up-covered ones: the
            // warm-up entries already hold a labeled fallback reading, so
            // if the budget dies mid-sweep the two sets add instead of
            // overlapping (stable within each half)
            val (noReading, covered) =
              remaining.partition { case (n, _) => !warmupTimes.contains(n) }
            remaining = noReading ++ covered
          }
        }
        if (pass == 1 && downLevel >= 0) {
          // in-downshift re-projection: if even this scale's observed pace
          // can't finish the tail, step down once more (evidence first —
          // no decision before 5 samples at the current level)
          if (downObs.size >= 5 && downLevel < downLadder.size - 1) {
            val med = downObs.sorted.apply(downObs.size / 2)
            if (med * (remaining.size + 1) >
                math.max(0.0, budgetSec - reserveSec - elapsed())) {
              downLevel += 1
              downObs.clear()
            }
          }
          val dir = downLadder(downLevel)
          // success-only: a query that threw at the smaller scale — a
          // fixture missing at sf0.001, say — must not count as labeled
          // downshift breadth
          timed(name, fn, dir).foreach { dt =>
            bestDown.updateWith(name)(prev => Some(prev.fold(dt)(math.min(_, dt))))
            if (!downDir.contains(name)) downDir(name) = dir
            downObs += dt
          }
        } else {
          // pace.observe inside record keeps the recovery projection
          // warm-informed
          timed(name, fn, sfDir).foreach(record(name, _))
        }
        // measured passes stop `reserveSec` short of the budget: the
        // reserve pays for the flag-retest pass below (isolated re-measures
        // of any currently-flagged floor-adjacent entries) + the final emit
        if (elapsed() > budgetSec - reserveSec) { aborted = true; outOfTime = true }
        else if (elapsed() - lastEmit > 20.0) {
          sampleProbes(); emit(pass, complete = false); lastEmit = elapsed()
        }
      }
      // a downshifted pass is full BREADTH but not a full measured-scale
      // pass: complete/full_passes keep their cross-round meaning (minima
      // rest on N complete measured-scale sweeps)
      lastComplete = !aborted && !passDown
      if (!aborted && !passDown) fullPasses += 1
      emit(pass, complete = lastComplete)
      lastEmit = elapsed()
      // HEADLINE RECOVERY BETWEEN PASSES (round-19): the phase's
      // degradation decision rests on 3-4 EARLY samples that still carry
      // measured-scale first-touch costs, so it can under-promise in a
      // window that turns out fine. The moment one complete measured-scale
      // sweep exists (breadth secured), remaining budget funds the
      // cross-round contract subset's warmth BEFORE another full pass —
      // r18 ordered it the other way and a 237-entry window with headroom
      // still ended at headline_passes 0.
      while (BenchGate.recoverHeadlineNow(fullPasses >= 1, headlinePasses,
          pace.project(headline), elapsed(), budgetSec, reserveSec) &&
          !outOfTime)
        headlinePass(adaptive = false)
    }
    // POST-LOOP RECOVERY: windows whose sweeps all downshifted (fullPasses
    // 0) can still afford warmth once the breadth phase is over either way
    // — warmth recovered exactly when it costs nothing, never at breadth's
    // expense.
    while (BenchGate.recoverHeadlineNow(breadthSecured = true, headlinePasses,
        pace.project(headline), elapsed(), budgetSec, reserveSec) && !outOfTime)
      headlinePass(adaptive = false)
    // FLAG RETEST (self-triaging gate): re-measure any currently-flagged
    // query in isolation before reporting it — in-battery interference on
    // floor-adjacent entries does not survive an isolated warm re-measure,
    // a real regression does (see BenchGate.retestFlags). Spends the
    // 25 s reserve the pass loop held back, never past the kill window.
    locally {
      val (retested, n) = BenchGate.retestFlags(
        best.toMap, benchBaseline, calibSpark,
        name => SparkEntry.queries.get(name).flatMap { fn =>
          val dt = timed(name, fn, sfDir)
          dt.foreach(_ => nMeasured(name) += 1)
          dt
        },
        () => elapsed() < budgetSec - 5.0,
        calibMtRun = calibMtPre)
      retestN = n
      retested.foreach { case (k, v) =>
        best.updateWith(k)(prev => Some(prev.fold(v)(math.min(_, v))))
      }
    }
    // Post-run probes, then re-emit the final line: the driver keeps the
    // LAST parseable line, so the line it records carries both ends of the
    // calibration window. A pre/post disagreement flags a throttle edge
    // moving mid-run (the r8 failure mode) rather than a uniform window.
    calibStPost = SpinProbe.singleThread()
    calibMtPost = SpinProbe.allCores()
    sampleProbes() // bracket the end of the timed window
    emit(pass, complete = lastComplete)
    // dev knob: dump EVERY query's timing (sorted slowest-first) for triage
    sys.env.get("SPARK_GRAFT_BENCH_DUMP").foreach { path =>
      val full = best.toSeq.sortBy(-_._2)
        .map { case (k, v) => s""""$k":${r3(v)}""" }.mkString("{", ",", "}")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path), full)
    }
    spark.stop()
  }
}
