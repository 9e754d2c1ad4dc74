package graft
import org.apache.spark.sql.SparkSession
object Bench {

  /** Absolute interval anchor (the r10 verdict's missing calibration):
    * a fixed CPU-bound probe whose cost is independent of the query
    * surface, the scale factor, and round-over-round code changes —
    * unlike cold_total, which mixes interval speed with whatever
    * codegen/cache work THIS round's code happens to do. Timed on the
    * same session/thread pool as the pass, so a uniformly slow
    * machine sitting (the r10 artifact: cold 1.56× the prior round on
    * byte-identical work, with zero per-query flags because the
    * spike detector's median inflated with everything else) shows up
    * as `interval_index = yardstick / ref` > 1 IN the artifact
    * instead of silently inflating the headline. The plan is one
    * whole-stage-codegen range aggregation over a fixed 2^33 domain
    * on 32 partitions (~1 s per timed run on a clean interval — long
    * enough that scheduler jitter is in the noise, short enough that
    * two probe points cost ~6 s of a ~130 s pass); the DataFrame is built once and warmed once so
    * timed runs never pay janino compilation, and min-of-2 drops
    * one-off GC hits while preserving uniform slowness.
    */
  private[graft] def yardstick(spark: SparkSession): Double = {
    // A FRESH DataFrame per run, never a reused one: re-collecting
    // the same object reuses its materialized partial-agg shuffle
    // (exchange reuse is keyed on the plan instance), so only the
    // 1-row final stage re-runs — 0.03 s of scheduler time instead of
    // the ~1 s of per-row work the probe exists to measure.
    def mk() = spark.range(0, 1L << 33, 1, 32)
      .selectExpr("sum(((id * 2654435761) % 1000003) ^ (id >> 7)) AS s")
    mk().collect() // warm: janino codegen (JVM-wide cache, first call only)
    def once(): Double = {
      val t0 = System.nanoTime()
      mk().collect()
      (System.nanoTime() - t0) / 1e9
    }
    math.min(once(), once())
  }

  /** Clean-interval yardstick reference (seconds): the minimum across
    * repeated samples on the build machine (local[32], idle), recorded
    * round 11. The minimum IS the clean-interval definition — any
    * contention only inflates samples — so `interval_index ≈ 1.0`
    * means "as fast as the machine has ever run the probe" and the
    * index can under-read only if a FUTURE machine is faster, which
    * the JSON now FLAGS (`ref_stale`: any sample >3 % under the ref)
    * and `tools/record_yardstick.sh` re-records (the r11 verdict's
    * governance finding — a tool, not a prose procedure). Override
    * per-run with SPARK_GRAFT_YARDSTICK_REF.
    */
  val YardstickRefSec = 0.77 // min across calibration JVMs AND bench-embedded samples, r11; see BASELINE.md

  /** Thread count the ref was recorded at. The probe is FIXED work
    * (2^33 rows, 32 partitions), so its wall-clock scales with the
    * session's parallelism: a default local[4] dev run takes ~6-8× the
    * local[32] ref and would unconditionally read as level-drifted
    * (the r11 ADVICE finding). Level adjudication therefore only
    * engages when the session's thread count matches the calibration —
    * otherwise the ref resolves to -1 (adjudication off, index -1 in
    * the JSON) unless SPARK_GRAFT_YARDSTICK_REF supplies a ref
    * recorded at the actual thread count.
    */
  val YardstickCalibCpus = 32

  /** The ref to adjudicate against at `cpus` threads: the env override
    * verbatim if set, the calibrated constant iff the thread count
    * matches, else -1 (disabled). Shared by Bench and ScaleProbe so
    * both label (or decline to label) sittings by one rule.
    */
  def yardstickRefFor(cpus: Int): Double =
    sys.env.get("SPARK_GRAFT_YARDSTICK_REF").map(_.toDouble).getOrElse(
      if (cpus == YardstickCalibCpus) YardstickRefSec else -1.0)

  /** String overload owning the env-value parse: an unparseable
    * SPARK_GRAFT_CPUS disables adjudication (ref -1) instead of
    * throwing — the rule every caller needs, so it lives here rather
    * than as a Try(...).getOrElse copied at each call site.
    */
  def yardstickRefFor(cpus: String): Double =
    yardstickRefFor(scala.util.Try(cpus.toInt).getOrElse(-1))

  // 1 GiB of longs for the bandwidth probe, built once per JVM (bench
  // JVMs only — nothing else calls the probe) and retained: releasing
  // and re-faulting it per sample would time the allocator, not the
  // memory system.
  private lazy val membwArray: Array[Long] = {
    val a = new Array[Long](1 << 27)
    var i = 0
    while (i < a.length) { a(i) = i.toLong; i += 1 }
    a
  }
  @volatile private var membwSink = 0L // defeats dead-code elimination

  /** Memory-bandwidth probe — the SECOND interval axis (the r14 ABBA
    * finding): the CPU-bound [[yardstick]] read clean (bands
    * ~[1.02, 1.18]) on a day where byte-identical code ran ~15 %
    * slower than its own recorded sitting — the co-tenant contention
    * class that steals LLC/DRAM bandwidth without touching scalar
    * throughput is invisible to a compute-bound probe, so equal
    * indexes do NOT make raw seconds comparable across days. This
    * probe has the opposite profile: one thread streaming 1 GiB of
    * sequential longs (min of three timed passes after one untimed
    * page-fault/JIT warm pass), reported as RAW SECONDS PER PASS with
    * deliberately no calibrated ref — the raw number IS the series,
    * and a slow-floor day shows here directly (r14 day-one sample:
    * ~0.1 s/pass class on this box; see BASELINE.md). Three samples
    * bracket the run (post-cold, post-pass, end), so an intra-run
    * bandwidth shift is visible next to the CPU bands.
    */
  private[graft] def membwProbe(): Double = {
    val a = membwArray
    def pass(): Double = {
      val t0 = System.nanoTime()
      var i = 0
      var s = 0L
      while (i < a.length) { s += a(i); i += 1 }
      membwSink ^= s
      (System.nanoTime() - t0) / 1e9
    }
    pass() // warm: first touch faults pages and compiles the loop
    math.min(pass(), math.min(pass(), pass()))
  }

  /** [min, max] interval-index band over one phase's bracket samples,
    * rendered as a JSON array. The min is the certification index
    * (same semantics as the headline `interval_index`); the max labels
    * contention INSIDE the phase that a min-bracket hides. Adjudication
    * off (ref ≤ 0) or an unbracketed phase → [-1.0,-1.0].
    */
  private[graft] def phaseBandJson(samples: Seq[Double], ref: Double): String =
    if (ref > 0 && samples.nonEmpty)
      s"[${math.round(samples.min / ref * 1000) / 1000.0}," +
        s"${math.round(samples.max / ref * 1000) / 1000.0}]"
    else "[-1.0,-1.0]"

  /** Level-drift re-run decision for one completed warm pass (the r13
    * verdict's finding #2, extracted pure so the spec can pin the
    * motivating shape). Three independent triggers:
    *   - spike drift: `flaggedCount ≥ driftN` (10+ simultaneous flags
    *     is interval contention by six rounds of series evidence);
    *   - level drift: the MIN probe sample exceeds the trigger — the
    *     whole sitting is uniformly slow;
    *   - CLOSING-BRACKET drift (new, r14): the pass's own post-pass
    *     sample exceeds the trigger even though the min is clean — the
    *     r13 run-1 shape (pass STARTS clean, DEGRADES: post sample idx
    *     1.89 while min printed 1.17) previously only self-LABELED via
    *     the band; nothing re-MEASURED the damaged tail. Per-query
    *     minima across passes already compose correctly, so the extra
    *     pass can only improve the artifact; it stays bounded by
    *     maxPasses at the call site.
    * Index triggers only engage when adjudication is on (ref > 0, i.e.
    * the indexes are not the -1 sentinel).
    */
  private[graft] def passNeedsRerun(
      flaggedCount: Int, driftN: Int,
      minIdx: Double, postIdx: Double, levelDrift: Double): Boolean =
    flaggedCount >= driftN ||
      (minIdx > 0 && minIdx > levelDrift) ||
      (postIdx > 0 && postIdx > levelDrift)

  /** True when a phase's bracket samples disagree by more than `width`
    * index units — the "wide band" that means in-pass times from
    * different moments of the phase are not comparable. Gates the
    * top-contributor isolated re-time block (the r13 verdict's finding
    * #3: on a uniformly slow pass only spike OUTLIERS were re-timed
    * solo, so `isolated_total` inherited ~226 inflated in-pass times).
    */
  private[graft] def bandWide(samples: Seq[Double], ref: Double, width: Double = 0.2): Boolean =
    ref > 0 && samples.nonEmpty && (samples.max - samples.min) / ref > width

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Subset/repeat knobs for local perf iteration:
    //   SPARK_GRAFT_ONLY=cb02,x16  → only queries whose name starts
    //   with one of the prefixes; SPARK_GRAFT_REPEAT=3 → time the full
    //   pass N times (each printed), exposing warm-cache steady state.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSeq)
    val queries = only match {
      case Some(prefixes) => SparkEntry.queries.filter { case (n, _) => prefixes.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "1").toInt
    // Warmup pass (disable with SPARK_GRAFT_WARMUP=0): JVM/codegen
    // warm, persisted operator tables materialized — the timed pass
    // then measures steady-state query latency. Its wall time is the
    // COLD total (first-run: codegen + cache build included) and is
    // reported alongside the warm total so baselines stay labeled and
    // comparable across rounds with/without warmup.
    // Per-PHASE yardstick brackets (the r12 verdict finding #2): the
    // headline interval_index is min over point samples, so one clean
    // instant labeled a sitting whose cold pass ran 3.6× and whose
    // isolated re-time block was visibly corrupted. Each phase (cold
    // pass, warm pass(es), isolated block) is therefore bracketed by
    // its own pre/post probe samples and ships its own index in
    // `interval_phases`, plus `interval_index_max` (the worst sample
    // seen) — a sustained-contention sitting now self-labels even when
    // one moment of it was clean. The headline `interval_index` stays
    // min-based over the warm-pass/isolated samples (it certifies
    // "how slow was the best interval the reported minima reflect").
    // resolved once, before any sampling: when adjudication is off
    // (foreign thread count, no env ref) the probe samples would be
    // unusable AND expensive — the fixed 2^33-row probe runs ~6-8×
    // slower at a default local[4], so an unconditional cold bracket
    // would add ~45 s of pure waste to exactly the runs that cannot
    // read it
    val ystickRef = yardstickRefFor(cpus)
    val coldSticks = scala.collection.mutable.ArrayBuffer.empty[Double]
    val coldTotal =
      if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") != "0") {
        // Throwaway JIT probe before the FIRST cold bracket sample (the
        // r13 ADVICE finding): yardstick() warms janino per call, but
        // the JVM's very first probe still pays one-time C2/JIT of the
        // generated class, so a clean sitting could read a high
        // cold-band max (and interval_index_max) from JIT alone,
        // mislabeling it as contended. ~3 s once per JVM buys bracket
        // samples that measure the MACHINE, not the JIT.
        if (ystickRef > 0) { yardstick(spark); coldSticks += yardstick(spark) }
        val t0 = System.nanoTime()
        // Cold first-touch runs CONCURRENTLY (default 6 threads): the
        // dominant cold cost is driver-side per-query work — Catalyst
        // analysis, janino codegen, operator-cache builds — which
        // parallelizes across queries while local[32] has executor
        // threads to spare. Shared operator state is lock-protected
        // (every OpCache call holds the cache's lock; the CDC
        // publish moves staged bucket directories at the FS level and
        // mutates no session conf at all), and every stateful query
        // owns its table names, so
        // concurrent first-touch is safe. The timed pass below stays
        // strictly sequential.
        val nThreads = sys.env.getOrElse("SPARK_GRAFT_COLD_THREADS", "6").toInt
        val coldTimes =
          if (nThreads <= 1) {
            queries.map { case (name, fn) =>
              val q0 = System.nanoTime()
              try fn(spark, sfDir).count() catch { case _: Throwable => () }
              name -> (System.nanoTime() - q0) / 1e9
            }
          } else {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
            implicit val ec: scala.concurrent.ExecutionContext =
              scala.concurrent.ExecutionContext.fromExecutor(pool)
            val fs = queries.toSeq.map { case (name, fn) =>
              scala.concurrent.Future {
                val q0 = System.nanoTime()
                try fn(spark, sfDir).count() catch { case _: Throwable => () }
                name -> (System.nanoTime() - q0) / 1e9
              }
            }
            val done = fs.map(f =>
              scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
            pool.shutdown()
            done.toMap
          }
        // Cold profile (SPARK_GRAFT_COLD_DETAIL=1): per-query FIRST-RUN
        // seconds, slowest first — codegen + operator-cache build land
        // on whichever query touches them first, so this is the map of
        // where the per-session tax actually goes.
        if (sys.env.getOrElse("SPARK_GRAFT_COLD_DETAIL", "0") == "1")
          coldTimes.toSeq.sortBy(-_._2).foreach { case (n, s) =>
            println(f"[cold] $n%-28s $s%7.2fs")
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        if (ystickRef > 0) coldSticks += yardstick(spark)
        elapsed
      } else -1.0
    // bandwidth bracket 1/3 — see membwProbe (the second interval axis)
    val membws = scala.collection.mutable.ArrayBuffer(membwProbe())
    (1 to repeat).foreach { pass =>
      // A query that throws in any timed run is named in `failed` and
      // left out of every total: its elapsed seconds time a crash, not
      // the query.
      val failed = scala.collection.mutable.SortedSet.empty[String]
      def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => failed += name; None }
      }
      def runPass(): Map[String, Double] = queries.flatMap { case (name, fn) =>
        timed(name, fn).map(name -> _)
      }.toMap
      def flaggedOf(rs: Map[String, Double]): Seq[(String, Double)] = {
        val sorted = rs.values.toSeq.sorted
        val median = if (sorted.isEmpty) 0.0 else sorted(sorted.length / 2)
        val cutoff = math.max(3.0 * median, 1.5)
        rs.filter { case (_, v) => v > cutoff }.toSeq.sortBy(-_._2).take(24)
      }
      // Drift adjudication (the r9 finding): per-query isolated
      // re-times adjudicate individual spikes, but nothing adjudicated
      // a drifted SITTING — when 10+ of ~244 queries flag at once,
      // that is interval contention by six rounds of series evidence
      // (r9: 18 flags, a 17 % phantom headline regression, and the
      // isolated column collapsed almost all of them). So: when the
      // flagged count crosses the threshold, re-run the ENTIRE pass
      // and keep per-query MINIMA — the headline then reflects plan
      // cost on the best observed interval, not one bad sitting. The
      // JSON carries `passes` so a multi-pass headline is labeled.
      val driftN = sys.env.getOrElse("SPARK_GRAFT_DRIFT_N", "10").toInt
      val maxPasses = sys.env.getOrElse("SPARK_GRAFT_MAX_PASSES", "2").toInt
      // LEVEL drift (the r10 finding): the spike trigger above
      // compares queries to the SAME pass's median, so a uniformly
      // slow machine sitting inflates the median with everything else
      // and never flags. The yardstick is the absolute anchor the
      // spike trigger lacks: its reference cost is recorded from
      // clean-interval runs (overridable via
      // SPARK_GRAFT_YARDSTICK_REF; ≤0 disables level adjudication),
      // and a sitting whose best yardstick sample exceeds
      // SPARK_GRAFT_LEVEL_DRIFT × ref re-runs the full pass like a
      // spike-drifted one. The index ships in the JSON either way, so
      // a still-slow re-run is LABELED (interval_index > 1) rather
      // than silently printed as the headline. The reported index
      // uses the MINIMUM sample because the reported per-query times
      // are minima across passes — it answers "how slow was the best
      // interval these numbers reflect".
      val levelDrift = sys.env.getOrElse("SPARK_GRAFT_LEVEL_DRIFT", "1.25").toDouble
      // ONE copy of the index arithmetic (shared with phaseBandJson's
      // band rendering): three drifting copies of the round/guard would
      // let the artifact's indexes disagree after a precision change
      def idxOf(sample: Double): Double =
        if (ystickRef > 0) math.round(sample / ystickRef * 1000) / 1000.0 else -1.0
      val ysticks = scala.collection.mutable.ArrayBuffer(yardstick(spark))
      var results = runPass()
      ysticks += yardstick(spark)
      // the CLOSING bracket of the most recent pass, tracked apart from
      // ysticks because the insurance sample below would otherwise
      // overwrite `.last` and hide a contaminated pass tail
      var postSample = ysticks.last
      var passes = 1
      def intervalIndex: Double = idxOf(ysticks.min)
      // The margin between a clean sitting's index (~1.15 observed in
      // BENCH_r11) and the 1.25 trigger is ~10 %, and two probe call
      // sites is a thin base for a decision that costs a full extra
      // pass — take a THIRD sample before adjudicating level drift
      // (~2 s of insurance vs ~130 s of re-run; the r11 ADVICE
      // finding). The spike trigger is untouched: it rests on 200+
      // per-query times, not on the probe. The closing-bracket trigger
      // (passNeedsRerun) deliberately takes NO insurance sample: the
      // damage is to the pass that already RAN — if the machine has
      // since recovered, the re-run produces the clean minima the
      // certification needs; if it hasn't, the band labels it.
      if (ystickRef > 0 && intervalIndex > levelDrift) ysticks += yardstick(spark)
      while (passes < maxPasses &&
          passNeedsRerun(flaggedOf(results).length, driftN,
            intervalIndex, idxOf(postSample), levelDrift)) {
        val again = runPass()
        ysticks += yardstick(spark)
        postSample = ysticks.last
        results = results.map { case (k, v) => k -> math.min(v, again.getOrElse(k, v)) }
        passes += 1
      }
      // everything sampled so far brackets the warm pass(es): pre-pass,
      // post-each-pass, and the level-drift adjudication sample
      val passSticks = ysticks.toSeq
      membws += membwProbe() // bandwidth bracket 2/3 (post-pass)
      // the HEADLINE index is frozen here, over the pass-phase samples
      // only (pre-r13 semantics exactly): the post-isolated closing
      // sample must not lower it — a machine going idle just as the
      // isolated re-times finish would otherwise certify a warm total
      // measured entirely inside contended brackets as clean
      val headlineIdx = intervalIndex
      // Contention adjudication IN the artifact (not after the fact):
      // a full gauntlet pass lands GC/compilation/machine noise on
      // whichever query it happens to hit, inflating that query 3-10×
      // with an unchanged plan. Any query whose full-pass time
      // exceeds max(3× the pass median, 1.5 s) is re-timed right
      // here, isolated (2 runs, min = converged steady state), and
      // BOTH numbers ship in the JSON: `queries` holds the full-pass
      // time, `isolated` the re-timed outliers, `isolated_total` the
      // pass total with flagged queries at their isolated time — the
      // number that reflects per-plan cost rather than pass noise.
      val flagged = flaggedOf(results)
      // Wide-band top-contributor re-times (the r13 verdict's finding
      // #3): the spike filter only catches OUTLIERS vs the pass's own
      // median, so on a uniformly slow pass the other ~226 queries
      // keep their inflated in-pass times and `isolated_total`
      // overstates. When the pass band is wide (its bracket samples
      // disagree by > 0.2 index units — the in-artifact definition of
      // "this pass's numbers came from different machines"), extend
      // the isolated block to the top-N share-of-total contributors:
      // they dominate the total, so re-timing them solo converges
      // isolated_total toward the clean-class number. A clean narrow
      // band changes nothing (toIsolate == flagged).
      val isolateTop = sys.env.getOrElse("SPARK_GRAFT_ISOLATE_TOP", "20").toInt
      val toIsolate: Seq[(String, Double)] =
        if (bandWide(passSticks, ystickRef))
          (flagged ++ results.toSeq.sortBy(-_._2).take(isolateTop)).distinctBy(_._1)
        else flagged
      val isolated = toIsolate.flatMap { case (name, fullPass) =>
        val fn = queries(name)
        // Min of 2 runs, extended up to 4 while the min still exceeds
        // 1.5× the full-pass time (was 3× through r14): a flagged
        // query re-timed right after the pass can pay a one-off
        // cache-eviction/GC artifact on BOTH early runs (the r8 x91
        // case re-timed 4× its pass time twice), and at the old 3×
        // trigger a 2-3× rebuild artifact (r14: x91 isolated 5.32 vs
        // in-pass 2.04) shipped as the isolated number without ever
        // extending. A real regression persists across four runs; an
        // artifact does not. Measurement-only (the kept statistic is
        // still the min; `isolated_total` semantics unchanged),
        // bounded at 4 runs — the r14 verdict's prescription #7.
        val runs = scala.collection.mutable.ArrayBuffer.empty[Double]
        var ok = true
        while (ok && (runs.length < 2 ||
            (runs.length < 4 && runs.min > 1.5 * fullPass))) {
          timed(name, fn) match {
            case Some(t) => runs += t
            case None => ok = false
          }
        }
        Option.when(ok)(name -> runs.min)
      }.toMap
      results = results -- failed
      val total = results.values.sum
      // close the isolated block's bracket (only when one ran): its
      // phase index is min(last pass-phase sample, this one) — the r12
      // sitting's smoking gun (x196 isolated 3× its in-pass time)
      // would have printed isolated ≈ 2-3 instead of hiding behind the
      // pass's one clean moment
      if (toIsolate.nonEmpty && ystickRef > 0) ysticks += yardstick(spark)
      membws += membwProbe() // bandwidth bracket 3/3 (end of run)
      // each phase ships [min, max] of its bracket samples — see
      // phaseBandJson; the max exists because a min-bracket hides
      // contention inside a phase (the first r13 run: the pass ended
      // at sample idx 1.89, the isolated block started on that
      // contended side and its re-times read 1.5-2x their classes
      // while min-of-brackets printed 1.17)
      def phaseBand(samples: Seq[Double]): String = phaseBandJson(samples, ystickRef)
      val phasesJson = Seq(
        "cold" -> phaseBand(coldSticks.toSeq),
        "pass" -> phaseBand(passSticks),
        "isolated" -> (if (toIsolate.nonEmpty)
          phaseBand(Seq(passSticks.last, ysticks.last)) else "[-1.0,-1.0]"))
        .map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
      val allSticks = coldSticks.toSeq ++ ysticks
      val intervalIndexMax = idxOf(allSticks.max)
      val isolatedTotal = results.map { case (k, v) => math.min(isolated.getOrElse(k, v), v) }.sum
      val isoJson = isolated.toSeq.sortBy(_._1)
        .map { case (k, v) => s"\"" + k + "\":" + math.round(v * 1000) / 1000.0 }
        .mkString("{", ",", "}")
      val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")
      // warm = anything ran before this pass (warmup, an earlier
      // repeat, or a drift re-run whose minima fold warm times into
      // this pass's numbers — the r10 ADVICE labeling fix)
      val warm = coldTotal >= 0 || pass > 1 || passes > 1
      val ysJson = ysticks.map(v => math.round(v * 1000) / 1000.0).mkString("[", ",", "]")
      // Ref governance flag (the r11 verdict's finding #2): a sample
      // meaningfully UNDER the recorded floor means the machine's true
      // floor dropped (JIT, kernel, hardware) and every index read
      // against the stale ref silently inflates — flag it in the
      // artifact and re-record with tools/record_yardstick.sh. 3 % is
      // under observed same-sitting probe jitter, so a true flag means
      // a real floor shift, not noise.
      val refStale = ystickRef > 0 && allSticks.min < ystickRef * 0.97
      val ysColdJson = coldSticks.map(v => math.round(v * 1000) / 1000.0).mkString("[", ",", "]")
      // raw seconds per 1 GiB stream pass at (post-cold, post-pass,
      // end) — the cross-day axis; see membwProbe
      val membwJson = membws.map(v => math.round(v * 10000) / 10000.0)
        .mkString("[", ",", "]")
      def suffix(failedNames: Seq[String]): String =
        s""","failed":${failedNames.map(n => "\"" + n + "\"").mkString("[", ",", "]")},"sf":"$sfDir","warm":$warm,"passes":$passes,"cold_total":${math.round(coldTotal * 1000) / 1000.0},"yardstick":$ysJson,"yardstick_cold":$ysColdJson,"yardstick_ref":$ystickRef,"ref_stale":$refStale,"interval_index":$headlineIdx,"interval_index_max":$intervalIndexMax,"interval_phases":$phasesJson,"membw":$membwJson,"isolated":$isoJson,"isolated_total":${math.round(isolatedTotal * 1000) / 1000.0},"metric":"total","unit":"sec","value":$total}"""
      // Full-precision line for logs/humans (may exceed harness windows):
      println(s"""{"queries":$qs${suffix(failed.toSeq)}""")
      // The harness that grades this keeps only the LAST ~2000 chars of
      // captured output and parses JSON from that window — a line longer
      // than the window is front-truncated into unparseable text. Emit a
      // compact line LAST that is guaranteed to fit: per-query seconds
      // at 3 decimals, slowest queries first, trimmed to the budget with
      // an "omitted" count for the fast tail that didn't fit.
      val budget = 1800
      val byTime = results.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"\"" + k + "\":" + math.round(v * 1000) / 1000.0 }
      // failed names are kept while they fit, the rest counted as "+N more"
      def compactSuffix(shown: Int): String = suffix(failed.toSeq.take(shown) ++
        Option.when(shown < failed.size)(s"+${failed.size - shown} more"))
      val shown = (failed.size to 0 by -1).find(n =>
        s"""{"omitted":000,"queries":{}""".length + compactSuffix(n).length <= budget).getOrElse(0)
      val compact = compactSuffix(shown)
      val fixed = s"""{"omitted":000,"queries":{""".length + 1 + compact.length
      val kept = scala.collection.mutable.ArrayBuffer.empty[String]
      var used = fixed
      byTime.foreach { e =>
        if (used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
      }
      val omitted = byTime.length - kept.length
      println(s"""{"omitted":$omitted,"queries":${kept.mkString("{", ",", "}")}$compact""")
    }
    spark.stop()
  }
}
