package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times the headline queries (SparkEntry.benchQueries)
  * on SPARK_GRAFT_SF_DIR in one session, printing the driver-contract
  * JSON line.
  *
  * Methodology: one COLD pass then N ≥ 2 WARM passes at the target SF.
  * The cold pass carries first-call Catalyst planning + whole-stage/
  * encoder codegen + JIT — its per-query times and `total_cold` keep
  * round-over-round comparisons honest (a plan regression shows up
  * here even if steady-state hides it). The headline `total` is the
  * MIN-PER-QUERY composite over the warm passes: per-process one-offs
  * don't scale with data, and single-pass warm numbers on a 32-core
  * local box are GC/JIT/contention noise (round 8's committed artifact
  * recorded warm 201 s > cold 187 s during a contended driver
  * snapshot) — the per-query min over independent passes is the
  * steady-state number to compare against the reference. A
  * `contended` sentinel flags measurements to distrust: warm composite
  * slower than cold, any query's warm min > 2× its own cold time,
  * (r19) the ABSOLUTE anchor — the calibration kernel's median
  * scheduler-delay factor past [[CalibDriftMax]], which sees the
  * load-inflates-cold-and-warm-together case the relative checks
  * cannot — or (r20) the PER-QUERY sentinel: each query row carries
  * its min-pass tasks' own scheduler-delay factor
  * ([[Metrics.Snapshot.delayFactor]] — the suite's tasks ARE the
  * kernel, zero added load), and ≥ [[DelaySuspectMinRows]] rows past
  * [[DelayOutlierMult]]× their own cold-pass baseline flag the run:
  * the load WINDOW between the anchor's three legs that inflated
  * BENCH_r19 1.45× non-uniformly while the leg median read quiet.
  * `contended_reason` attributes which sentinels fired.
  * Heavy hitters (warm min ≥ 3 s) automatically get a third warm pass
  * when `SPARK_GRAFT_BENCH_WARM_PASSES` < 3 — their run-to-run spread
  * dominates the composite's noise. Since r15, queries whose spread
  * over the completed passes exceeds [[SpreadTarget]] additionally get
  * ADAPTIVE refinement passes (the min-convergence loop in `main`, up
  * to `SPARK_GRAFT_BENCH_REFINE_PASSES` rounds over only the
  * still-improving subset) — the response to three consecutive rounds
  * of +10–28% committed-composite drift on near-identical code: a
  * 2-sample per-query min measures the box; the refined min measures
  * the code. The artifact carries per-query `warm_spread` (max/min
  * over successful passes — refinement passes included, so a refined
  * query's spread DOCUMENTS the noise its min escaped); spread > 2
  * lists the query under `noise_suspect` — read those rows as
  * variance, not regression. Per-query bytes come from the pass that produced the
  * min time (the first pass may have failed or not be the headline's).
  * Warm passes wrap each query in Metrics.track, so the JSON line also
  * carries per-query bytesRead / shuffleWrite (reference F22 parity,
  * `/root/reference/driver.go:246-249`'s per-job byte log lines).
  *
  * THE BENCH SUBSET (`QueryDef.bench`; pinned name-by-name in
  * RegistrySpec so membership changes are deliberate diffs): the
  * composite times the 50 queries that carry distinct COST SHAPES,
  * not all 98 oracle entries — the oracle gate certifies correctness
  * of everything; the bench only needs one timed representative per
  * plan family, and padding it with duplicates would bury real
  * regressions in noise and round-over-round incomparability.
  * (dd12 joined in r16 — the r15 verdict ranked a committed number
  * for the jaccard guard's remedy verb above the facade rule that
  * had excluded it.) Exclusion rules, applied in this order:
  *  - FACADE/RECOMPUTE TWINS of a benched verb: mr1/mr2s/a1 (string-KV
  *    and typed facades over the same plans as q2/mr2/q7), dd10, p4
  *    and p6 (per-run recompute legs whose asset twins dd10p/p4p/p6p
  *    are the shapes a production pipeline actually pays),
  *    ex1/ex3 (position
  *    assignment alone; ex2/ex6 time the same prefix sum plus the
  *    packing/read-back work that dominates it).
  *  - SUB-SECOND SINGLE-SHAPE RELATIONAL PROBES (q4/q5/q8–q15,
  *    q17–q19, q22–q27, q29): each shares its plan family with a
  *    benched representative (scan+filter → q3, join → q6/q7/q28,
  *    window → q16/q30, agg/rollup → q1, broadcast star → q20,
  *    set ops/distinct → covered by the dedup family at real volume).
  *  - SAME-KERNEL TEXT/SAMPLING VERBS (t1/t2/t4/t5/t6/t8, ds2/ds3):
  *    one-pass per-row kernels identical in shape to the benched
  *    t3/t7/ds1, differing only in the arithmetic inside the loop.
  *  - MEDIA-DECODE STAGES (mm1–mm7, p3): their cost is the decode
  *    mapPartitions, timed once through mm8 (decode + banded dedup,
  *    the capstone that also moves shuffle bytes); timing seven more
  *    decode variants re-measures the same codec loop.
  *  - ex5 (Θ(increment) continue-pack, sub-second by design).
  */
object Bench {
  /** One warm measurement: (wallClockSec — -1.0 on failure, bytesRead,
    * shuffleBytesWritten, fsBytesRead, delayFactor — the query's own
    * tasks' Σ runTime / Σ cpuTime, -1.0 when unmeasured; see
    * [[Metrics.Snapshot.delayFactor]]). */
  type Measurement = (Double, Long, Long, Long, Double)

  private[graft] val HeavySec = 3.0
  private[graft] val MinHeavyPasses = 3

  /** Refinement trigger: a query whose max/min over the completed
    * passes exceeds this is still noise-limited — its recorded min
    * has not converged to the code's floor. */
  private[graft] val SpreadTarget = 1.25

  /** Convergence: an extra pass that fails to improve a query's min
    * by more than this fraction stops refining it. */
  private[graft] val ImproveEps = 0.02

  /** Queries whose recorded min is still noise-limited: successful,
    * with spread > [[SpreadTarget]] over the passes so far. */
  private[graft] def refineTargets(names: Seq[String],
      passes: Seq[Map[String, Measurement]]): Seq[String] =
    aggregate(names, passes)
      .collect { case (n, t, _, _, _, sp, _) if t >= 0 && sp > SpreadTarget => n }

  /** The timing action: materialize EVERY output row through Spark's
    * noop sink. A bare `count()` lets Catalyst prune per-row work the
    * count doesn't need — unreferenced Window/Project towers vanish
    * wholesale (a counted ex1_global_shuffle plan degenerates to a
    * parquet row-count with both prefix-sum windows deleted; a counted
    * t3_quality to a bare scan), so projection-shaped queries were
    * under-measured through round 12's first bench. Aggregate/join
    * shaped queries are unaffected (their row count depends on the
    * full computation). The noop sink — Spark's standard benchmarking
    * sink — executes the complete plan and iterates every row without
    * writing anything. Shared by Bench and StageProbe so the two
    * measurement mains cannot drift on what "ran the query" means. */
  private[graft] def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** `SPARK_GRAFT_SHUFFLE_DIR=<uri>` switches the session to the
    * object-store shuffle (`GraftShuffleManager`) instead of
    * local-disk sort shuffle — the deployment-shaped configuration.
    * A `graftfs://` URI also registers the local-backed stand-in
    * FileSystem ([[graft.mr.GraftObjectFs]]) so the leg runs without
    * external configuration. Shared by Bench, Verify and ElasticProbe so the
    * mains cannot drift on how the leg is wired. */
  private[graft] def withShuffleEnv(
      builder: SparkSession.Builder): SparkSession.Builder =
    sys.env.get("SPARK_GRAFT_SHUFFLE_DIR").fold(builder) { dir =>
      val b = builder
        .config("spark.shuffle.manager",
          "org.apache.spark.shuffle.graft.GraftShuffleManager")
        .config("spark.shuffle.sort.io.plugin.class",
          "org.apache.spark.shuffle.graft.GraftShuffleDataIO")
        .config("spark.graft.shuffle.dir", dir)
        // object-store default codec (see GraftSession.shuffleCodec:
        // ~2.7× smaller blocks than lz4 on the measured mix, net
        // wall-clock win; SPARK_GRAFT_SHUFFLE_CODEC overrides)
        .config("spark.io.compression.codec", GraftSession.shuffleCodec)
      if (dir.startsWith("graftfs:")) graft.mr.GraftObjectFs.register(b)
      else if (dir.startsWith("s3g:")) registerS3g(b)
      else b
    }

  /** `s3g://` shuffle dirs run the leg over the ACTUAL S3 wire
    * protocol ([[graft.s3.S3SigV4Fs]]): endpoint from
    * `SPARK_GRAFT_S3_ENDPOINT` (a real or S3-compatible store, with
    * `SPARK_GRAFT_S3_REGION`/`_ACCESS`/`_SECRET` or the standard AWS
    * env vars), or — when unset — an in-process [[graft.s3.FakeS3]]
    * stand-in, the same role GraftObjectFs plays for `graftfs://`
    * except every byte additionally crosses SigV4-signed HTTP. */
  private def registerS3g(b: SparkSession.Builder): SparkSession.Builder = {
    val endpoint = sys.env.getOrElse("SPARK_GRAFT_S3_ENDPOINT", {
      val fake = new graft.s3.FakeS3()
      sys.addShutdownHook(fake.close())
      fake.endpoint
    })
    // NB: FS cache stays ON (unlike the specs, which isolate per-test
    // endpoints) — a bench run is a fresh forked JVM, and a cached FS
    // means one S3 client instead of hundreds across the query set
    b.config("spark.hadoop.fs.s3g.impl", classOf[graft.s3.S3SigV4Fs].getName)
      .config("spark.hadoop.fs.s3g.endpoint", endpoint)
      .config("spark.hadoop.fs.s3g.region",
        sys.env.getOrElse("SPARK_GRAFT_S3_REGION", "us-east-1"))
      .config("spark.hadoop.fs.s3g.access.key",
        sys.env.getOrElse("SPARK_GRAFT_S3_ACCESS", "graft-bench"))
      .config("spark.hadoop.fs.s3g.secret.key",
        sys.env.getOrElse("SPARK_GRAFT_S3_SECRET", "graft-bench"))
  }

  /** What the artifact's `shuffle` field should say for this run. */
  private[graft] def shuffleMode: String =
    sys.env.get("SPARK_GRAFT_SHUFFLE_DIR").fold("local-sort")(d => s"fs:$d")

  /** `SPARK_GRAFT_MASTER=lambda://<fn>` runs a measurement/gate main on
    * the FaaS backend instead of `local[N]` — a named function
    * self-deploys against `SPARK_GRAFT_FAAS_CONTROL_PLANE` (F20) and
    * the executor geometry comes from `SPARK_GRAFT_EXECUTORS` /
    * `SPARK_GRAFT_EXECUTOR_CORES` / `SPARK_GRAFT_EXECUTOR_MEM`. One
    * definition shared by Bench and Verify so the mains cannot drift
    * on how the deployment-shaped leg is wired. */
  private[graft] def withMasterEnv(builder: SparkSession.Builder,
      defaultMaster: String): SparkSession.Builder = {
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", defaultMaster)
    val b = builder.master(master)
    if (master.startsWith(graft.lambda.LambdaClusterManager.SCHEME)) {
      b.config("spark.driver.host", "localhost")
        .config("spark.driver.bindAddress", "localhost")
        .config("spark.executor.instances",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTORS", "4"))
        .config("spark.executor.cores",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_CORES", "2"))
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXECUTOR_MEM", "1500m"))
      sys.env.get("SPARK_GRAFT_FAAS_CONTROL_PLANE")
        .foreach(d => b.config(graft.lambda.FaasDeploy.ControlPlaneDirKey, d))
    }
    b
  }

  /** What the artifact's `master` field should say for this run. */
  private[graft] def masterMode: String =
    sys.env.getOrElse("SPARK_GRAFT_MASTER", "local")

  /** JSON string escape for env-provided values (`shuffle`, `sf`) —
    * a quote/backslash/control char in a path must not break the
    * artifact-always-parses contract. */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Absolute contention anchor (r18 verdict task #1): the round's own
    * artifact proved the relative sentinels blind — `BENCH_r18.json`
    * read 81.12 s with `contended: false` while four independent
    * same-code runs (builder + judge A/B) read 58–63 s, because box
    * load that inflates cold and warm passes TOGETHER never trips a
    * warm-vs-cold comparison.
    *
    * The flagging anchor is the kernel's SCHEDULER-DELAY factor: the
    * deterministic fixed-iteration xorshift loop runs on every
    * available core at once, each thread records its own CPU time,
    * and the factor is wall · threads / Σ per-thread-cpu — exactly
    * 1.0 when every kernel thread held a core for its whole run,
    * (p+q)/p when q co-tenant threads timeslice against our p. It is
    * frequency-, SMT- and hardware-independent (both numerator and
    * denominator scale with the same clock), so it needs NO committed
    * box reference and cannot be fooled by uniform inflation: this
    * box's ambient load (avg 2–3, the measured 3–10% same-code
    * composite drift band) reads ~1.05–1.09, a co-tenant build
    * stealing half the box reads ~1.5, full oversubscription ~2.0.
    * Absolute kernel wall-clock rides along against a committed
    * quiet-box reference ([[CalibRefSec]]) as `box_load` —
    * informational (catches a THROTTLED box: slow but unshared, the
    * one state the delay ratio cannot see).
    *
    * Wall-clock prototypes measured and rejected (STATUS r19): a
    * single-thread kernel jitters 29% quiet on this box (frequency
    * ramp + migration — false-flags at any useful threshold), and an all-cores wall-clock anchor at 1.15
    * false-flagged a quiet suite off ambient load that a 32-slot
    * Spark suite shrugs off.
    *
    * The anchor samples THREE legs — suite start, after the cold
    * pass, suite end — and flags on the MEDIAN: sustained contention
    * inflates at least two legs; a transient burst at one endpoint
    * inflates one and is outvoted. Past [[CalibDriftMax]] on the
    * median delay factor the run is flagged `contended` regardless
    * of what the relative sentinels say. */
  private[graft] val CalibIters = 1L << 28

  /** Committed quiet-box reference (sec) for the all-cores kernel's
    * wall-clock — the informational `box_load` denominator. Override
    * with `SPARK_GRAFT_BENCH_CALIB_REF` on different hardware;
    * `SPARK_GRAFT_BENCH_CALIB=0` skips the anchor entirely
    * (box_factor -1 in the artifact = not measured). Measured r19
    * (STATUS r19): the kernel's quiet-box min wall. */
  private[graft] val CalibRefSec = 0.53

  /** Contended past this median delay factor. The box is a VM, so the
    * factor sees GUEST scheduling delay plus HOST steal together
    * (both manifest as wall > Σcpu/threads — host steal is invisible
    * to guest load average and is the leading suspect for r18's
    * flagged-by-nobody 1.4× driver run). Committed from measurement:
    * the quiet band on this box reads 1.07–1.17 (ambient load avg
    * 2–3 + baseline host steal; STATUS r19, and STATUS.md's r20
    * quiet legs 1.073/1.126/1.114), i.e. ≤ the ±10% same-code
    * composite drift already attributed to box noise; 1.25 ≈ a
    * quarter of the CPU stolen — past any noise attribution, and well under the ~1.5 a co-tenant
    * build stealing half the box produces. */
  private[graft] val CalibDriftMax = 1.25

  // DCE sink: the kernel's result must escape or the JIT deletes the loop
  private val calibSink = new java.util.concurrent.atomic.AtomicLong()

  /** One thread's kernel: CalibIters xorshift64 steps — pure
    * register arithmetic, no allocation, no memory traffic, so the
    * measurement is CPU-scheduler time, not cache state. */
  private def calibKernelOnce(seed: Long): Long = {
    var x = seed | 1L
    var i = 0L
    while (i < CalibIters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  /** One timed run of the kernel on `threads` concurrent threads:
    * (wall-clock sec, scheduler-delay factor = wall · threads / Σ
    * per-thread CPU time). Delay -1.0 when the JVM cannot read
    * per-thread CPU time. */
  private[graft] def calibOnce(threads: Int, seedBase: Long): (Double, Double) = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    val cpuOk = mx.isCurrentThreadCpuTimeSupported
    val cpus = new Array[Long](threads)
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { i =>
      val t = new Thread(() => {
        val c0 = if (cpuOk) mx.getCurrentThreadCpuTime else 0L
        calibSink.addAndGet(calibKernelOnce(seedBase + i))
        if (cpuOk) cpus(i) = mx.getCurrentThreadCpuTime - c0
      })
      t.start(); t
    }
    ts.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val cpuSum = cpus.sum / 1e9
    (wall, if (cpuOk && cpuSum > 0) wall * threads / cpuSum else -1.0)
  }

  /** One anchor leg on all cores, min-of-3 by wall-clock:
    * (wall sec, scheduler-delay factor from the min-wall rep). */
  private[graft] def calibLeg(): (Double, Double) = {
    val p = Runtime.getRuntime.availableProcessors()
    (1 to 3).map(r => calibOnce(p, r * 1000L)).minBy(_._1)
  }

  /** `box_factor` for the artifact: MEDIAN of the legs' delay factors
    * (sustained load inflates ≥ 2 of 3 legs; a transient burst at one
    * endpoint is outvoted); -1 (not measured) when the anchor is
    * skipped, the legs are empty, or CPU time was unreadable.
    * Even-sized leg lists (a leg lost its factor to unreadable CPU
    * time) take the LOWER median — with two legs left, the upper
    * median IS the max, so a single transient burst in either would
    * flag the run alone, losing the outvoting property the 3-leg
    * design is for (r19 ADVICE). */
  private[graft] def boxFactorOf(calibOn: Boolean, legs: Seq[Double]): Double = {
    val ok = legs.filter(_ > 0)
    if (!calibOn || ok.isEmpty) -1.0
    else math.rint(1000 * ok.sorted.apply((ok.size - 1) / 2)) / 1000
  }

  /** `box_load` for the artifact: MEDIAN of the legs' wall-clocks
    * over the committed quiet-box reference — informational (a
    * throttled-but-unshared box shows here, not in the delay
    * factor); -1 when not measured or no reference is known.
    * Lower median on even-sized lists, same rationale as
    * [[boxFactorOf]]. */
  private[graft] def boxLoadOf(calibOn: Boolean, ref: Double,
      legs: Seq[Double]): Double =
    if (!calibOn || ref <= 0 || legs.isEmpty) -1.0
    else math.rint(1000 * legs.sorted.apply((legs.size - 1) / 2) / ref) / 1000

  /** Attribution for the `contended` flag: WHICH sentinels fired,
    * "+"-joined in canonical order — "relative" (warm-vs-cold, sees
    * load that arrives mid-suite AND persists into the warm passes),
    * "anchor" (the delay-factor kernel, sees load that inflates cold
    * and warm together — the r18 blind spot), "per-query" (the
    * suite's own task metrics, sees a load WINDOW between the
    * anchor's three legs that inflates a minority of query rows —
    * the r19 blind spot: BENCH_r19.json read 78.79 s / anchor quiet
    * against five same-code 57–63 s runs, with NON-uniform per-row
    * inflation the median-of-3 legs outvotes by design), or "none".
    * r19's two-sentinel "both" value became "relative+anchor" when
    * the third sentinel landed (r20). */
  private[graft] def contendedReasonOf(relative: Boolean,
      anchor: Boolean, perQuery: Boolean = false): String = {
    val rs = Seq("relative" -> relative, "anchor" -> anchor,
      "per-query" -> perQuery).collect { case (n, true) => n }
    if (rs.isEmpty) "none" else rs.mkString("+")
  }

  /** Suite median of the per-query delay factors (unmeasured rows
    * dropped; lower median on even sizes, as [[boxFactorOf]]);
    * -1 when nothing was measured. The NORMALIZER for the per-query
    * sentinel: a query's absolute factor mixes contention with its
    * own non-CPU task time (shuffle-fetch wait, spill IO, GC), so
    * the committed threshold is relative to the same run's median,
    * not to 1.0. */
  private[graft] def delayMedian(factors: Seq[Double]): Double = {
    val ok = factors.filter(_ > 0).sorted
    if (ok.isEmpty) -1.0 else ok((ok.size - 1) / 2)
  }

  /** Per-query contention threshold, applied to the min-pass factor
    * against the row's OWN cold-pass factor floored at the COLD
    * suite median (see [[delaySuspects]]). The per-row baseline is
    * what the r20 quiet calibration forced: a query's absolute
    * factor mixes contention with its intrinsic non-CPU task time —
    * the quiet sf0.001 run put ex6_shard_roundtrip (parquet write +
    * read-back: wall is commit/IO wait, CPU tiny) at 3.4× the suite
    * median with nothing wrong — but that shape is STABLE, so the
    * row's cold factor carries it (quiet: warm 4.79 / cold 4.14),
    * while load arriving after the cold pass (the r19 blind spot:
    * the anchor's post-cold leg ran before it opened) inflates the
    * warm factor and not the cold one. Load that ALSO covers the
    * cold pass biases the baseline — and inflates ≥ 2 of the 3
    * anchor legs, which is the anchor's case, not this sentinel's.
    * Committed from r20 measurement (see STATUS): quiet sf0.001
    * suites put rows at ≤ ~1.3× their baseline with 1–2 single-row
    * excursions to 1.7–2.4× per run (absorbed by
    * [[DelaySuspectMinRows]]), while a 32-busy-loop window covering
    * both warm passes of a row SHOULD double its factor but lands it
    * at 1.4–2.05× — the min-pass selection takes the row's
    * least-contended sample, so the loaded signature compresses
    * toward the threshold rather than sitting at a clean 2×. 1.5
    * separates the two measured populations: the loaded demo puts
    * ≥ 4 rows past it while quiet runs put at most 2. */
  private[graft] val DelayOutlierMult = 1.5

  /** The per-query sentinel needs ≥ this many outlier rows to flag
    * the RUN (one row past the threshold is that query's own noise
    * story — its `delay_factor` and `delay_suspect` membership still
    * mark the row itself); a load window wide enough to matter
    * inflates several adjacent rows (the r19 driver artifact's
    * signature: s1/s2/ex2/q30 adjacent at 2–2.15×). */
  private[graft] val DelaySuspectMinRows = 3

  /** Rows whose min-pass delay factor is an outlier vs their own
    * cold-pass factor (floored at the COLD suite median) — the
    * queries whose RECORDED MIN carries box contention (warm-pass
    * spread cannot see consistent-within-run slowness: the r19
    * driver run's worst-inflated rows were absent from
    * noise_suspect). Factor taken from the pass that produced the
    * min time, so a row whose min escaped the load window is
    * correctly NOT listed. Both baselines come from the COLD pass,
    * not the warm suite: in the scenario this sentinel exists for —
    * the anchor reads quiet, so its start and post-cold legs bracket
    * a quiet cold pass — load arriving later inflates the WARM
    * factors of every row it covers, and a warm-median baseline
    * would self-normalize exactly the r19 case (most of the suite
    * inflated ~1.45× together). The cold-median floor covers a row
    * whose own cold factor is unmeasured (cold pass failed) or
    * transiently low. Empty when no cold factor was measured. */
  private[graft] def delaySuspects(
      rows: Seq[(String, Double, Double)]): Seq[String] = {
    val medCold = delayMedian(rows.map(_._3))
    if (medCold <= 0) Seq.empty
    else rows.collect {
      case (n, d, dc) if d > DelayOutlierMult * math.max(medCold,
        if (dc > 0) dc else medCold) => n }
  }

  /** Queries whose warm min over the base passes is ≥ `HeavySec` —
    * their run-to-run spread dominates the composite's noise, so they
    * earn extra min-of-N passes. */
  private[graft] def heavyQueries(names: Seq[String],
      basePasses: Seq[Map[String, Measurement]]): Seq[String] =
    names.filter { n =>
      val ts = basePasses.flatMap(_.get(n)).map(_._1).filter(_ >= 0)
      ts.nonEmpty && ts.min >= HeavySec
    }

  /** Per-query aggregation over all passes: (name, min time — -1.0 if
    * every pass failed, bytes FROM THE PASS THAT PRODUCED THE MIN (the
    * first pass may have failed, or not be the headline's), spread =
    * max/min over successful passes — > 2 marks the row noise-suspect:
    * run-to-run variance, not a plan property — and the min pass's
    * delay factor: the contention read on the NUMBER THE COMPOSITE
    * USES, so a min that escaped a load window reads quiet and a min
    * that never did carries the inflation). */
  private[graft] def aggregate(names: Seq[String],
      passes: Seq[Map[String, Measurement]]):
      Seq[(String, Double, Long, Long, Long, Double, Double)] =
    names.map { name =>
      val ms = passes.flatMap(_.get(name))
      val ok = ms.filter(_._1 >= 0)
      val best = if (ok.isEmpty) -1.0 else ok.map(_._1).min
      val (_, r, s, f, d) = if (ok.isEmpty) ms.head else ok.minBy(_._1)
      // a 0.0 min would make the division emit Infinity/NaN — a bare
      // token that breaks the artifact-always-parses contract; a
      // sub-resolution measurement has no meaningful spread anyway
      val spread =
        if (ok.size >= 2 && ok.map(_._1).min > 0) ok.map(_._1).max / ok.map(_._1).min
        else 1.0
      (name, best, r, s, f, spread, d)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // contention anchor leg 1: before the session exists — the purest
    // read of what the box will give this process
    val calibOn = sys.env.getOrElse("SPARK_GRAFT_BENCH_CALIB", "1") == "1"
    val calibRef = sys.env.get("SPARK_GRAFT_BENCH_CALIB_REF")
      .map(_.toDouble).getOrElse(CalibRefSec)
    val calibLegs = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    if (calibOn) calibLegs += calibLeg()
    val builder = withMasterEnv(SparkSession.builder(), s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // accurate byte accounting: vectored parquet IO bypasses both
      // task input metrics and FileSystem statistics (see Metrics)
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
      .config("spark.ui.enabled", "false")
    val spark = withShuffleEnv(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // SPARK_GRAFT_BENCH_EXEC_TIMELINE=1: sample the live executor count
    // every 5 s (public SparkStatusTracker — no backend reflection) and
    // append it to the artifact — the r17 verdict's elasticity leg
    // wants the lease trajectory BESIDE the composite, not asserted in
    // a separate spec. Daemon thread; buffer read once at the end.
    val execTimeline =
      if (sys.env.getOrElse("SPARK_GRAFT_BENCH_EXEC_TIMELINE", "0") != "1") None
      else {
        val buf = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
        // which counter produced the samples: "lease" (FaaS backend's
        // own lease count) or "status-store" (driver status store —
        // NOTE its scope: on local masters the active list holds only
        // the driver, and under dynamic allocation + shuffle tracking
        // it drops deactivated-but-leased executors, so a flat-0 or
        // undercounted trajectory from this source is the counter's
        // blind spot, not the cluster's shape — the artifact carries
        // the source so such a trajectory is attributable)
        val srcLease = new java.util.concurrent.atomic.AtomicBoolean(false)
        val t0 = System.nanoTime()
        val th = new Thread(() => {
          // FaaS masters: the backend's own lease count (the status
          // store's ACTIVE list drops deactivated-but-leased executors
          // under dynamic allocation — see LeaseCount); local: the
          // status store, clamped at 0 (the list is driver-only on
          // local masters). NonFatal only — an OOM must surface, not
          // be eaten — and the sleep sits INSIDE the try so an
          // interrupt ends the sampler cleanly instead of escaping
          // through the uncaught-exception path.
          var live = true
          while (live) {
            try {
              val lease = org.apache.spark.graft.LeaseCount
                .active(spark.sparkContext)
              lease.foreach(_ => srcLease.set(true))
              val n = lease.getOrElse(math.max(0,
                spark.sparkContext.statusTracker.getExecutorInfos.length - 1))
              buf.synchronized {
                buf += (((System.nanoTime() - t0) / 1000000000L, n)) }
              Thread.sleep(5000)
            } catch {
              case _: InterruptedException => live = false
              case scala.util.control.NonFatal(_) =>
                try Thread.sleep(5000)
                catch { case _: InterruptedException => live = false }
            }
          }
        })
        th.setDaemon(true)
        th.start()
        Some((buf, srcLease))
      }

    // Pass 1: cold, at the target SF (doubles as the warmup for pass 2).
    // Each pass runs under Barrier.scoped so its barriers release at
    // pass end — a full-set × N-pass session otherwise accumulates
    // every pass's localCheckpoint blocks until GC (r13; the release
    // cost is a few unpersist calls and is honestly inside the timing).
    // tracked like the warm passes (same wall-clock read): the cold
    // delay factor is each row's own SHAPE baseline for the per-query
    // sentinel — an IO-bound row's factor is high in every pass, a
    // contention window's only in the passes it covered
    val cold = SparkEntry.benchQueries.map { name =>
      try {
        val (_, snap) = Metrics.track(spark)(graft.api.Barrier.scoped(
          materialize(SparkEntry.queries(name)(spark, sfDir))))
        (name, snap.wallClockSec, snap.delayFactor)
      }
      catch { case _: Throwable => (name, -1.0, -1.0) } // failure surfaces in the warm pass
    }
    // contention anchor leg 2: between the cold and warm passes — load
    // arriving mid-suite shows here and at the end leg, outvoting a
    // quiet start sample in the median
    if (calibOn) calibLegs += calibLeg()
    // pass-boundary markers (stderr — stdout stays the artifact's):
    // lets an external observer time a load window against the suite's
    // actual phases (the r20 per-query demo drives its busy loops off
    // these)
    System.err.println("[bench] cold pass done")

    // N warm passes; the headline is the per-query MIN across them.
    val warmPasses = math.max(2,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_WARM_PASSES", "2").toInt)
    def runPass(names: Seq[String]): Map[String, Measurement] =
      names.map { name =>
        val fn = SparkEntry.queries(name)
        try {
          val (_, snap) = Metrics.track(spark)(
            graft.api.Barrier.scoped(materialize(fn(spark, sfDir))))
          name -> ((snap.wallClockSec,
            math.max(snap.bytesRead, snap.fsBytesRead),
            snap.shuffleBytesWritten, snap.fsBytesRead, snap.delayFactor))
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          // failed queries are marked -1.0 instead of masquerading as timings
          name -> ((-1.0, 0L, 0L, 0L, -1.0))
        }
      }.toMap
    val names = SparkEntry.benchQueries
    val basePasses = (1 to warmPasses).map { k =>
      val p = runPass(names)
      System.err.println(s"[bench] warm pass $k done")
      p
    }
    // heavy hitters get at least MinHeavyPasses min-of-N samples —
    // the cheapest variance reduction available
    val heavy = heavyQueries(names, basePasses)
    val passes = basePasses ++ (
      if (heavy.isEmpty || warmPasses >= MinHeavyPasses) Seq.empty
      else (warmPasses until MinHeavyPasses).map(_ => runPass(heavy)))
    // Adaptive min-refinement (r15; three consecutive rounds of driver
    // composite drift — 44.20 → 49.64 → 63.77 s on near-identical code —
    // showed a 2-sample min still carries the box, not the code): any
    // query whose spread over the completed passes exceeds SpreadTarget
    // gets extra min-of passes, and keeps getting them while each pass
    // still improves its min by > ImproveEps, up to
    // SPARK_GRAFT_BENCH_REFINE_PASSES (default 3) rounds. Converged
    // queries are never re-run, so a refinement round costs only the
    // noisy subset's wall-clock. The headline stays the per-query min
    // composite — now over enough samples that it measures the code.
    val maxRefine = math.max(0,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_REFINE_PASSES", "3").toInt)
    var allPasses = passes
    var targets = refineTargets(names, allPasses)
    var refines = 0
    while (targets.nonEmpty && refines < maxRefine) {
      val prevMin = aggregate(targets, allPasses)
        .collect { case (n, t, _, _, _, _, _) if t >= 0 => n -> t }.toMap
      val p = runPass(targets)
      allPasses = allPasses :+ p
      targets = targets.filter { n =>
        (p.get(n), prevMin.get(n)) match {
          case (Some((t, _, _, _, _)), Some(pm)) =>
            t >= 0 && t < (1 - ImproveEps) * pm
          case _ => false
        }
      }
      refines += 1
    }
    val results = aggregate(names, allPasses)
    val qs = results.map { case (k, v, _, _, _, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // bytesRead is task-level (counts each consumer's read of a
    // barrier/cached block AGAIN); fsBytesRead is the storage-layer truth
    val bytes = results
      .map { case (k, _, r, s, f, _, _) =>
        s""""$k":{"bytesRead":$r,"fsBytesRead":$f,"shuffleWrite":$s}""" }
      .mkString("{", ",", "}")
    // locale-safe rounding: Double.toString never emits comma decimals,
    // unlike the f-interpolator under a non-English default locale
    val spreads = results
      .map { case (k, _, _, _, _, sp, _) =>
        "\"" + k + "\":" + math.rint(sp * 1000) / 1000 }
      .mkString("{", ",", "}")
    val noiseSuspect = results
      .collect { case (k, _, _, _, _, sp, _) if sp > 2.0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    // per-query contention attribution (r19 verdict tasks #1/#2): each
    // row's min-pass delay factor, the suite median, and the outlier
    // rows — the signal that catches a load window between the
    // anchor's three legs, which inflates a MINORITY of rows while
    // both the anchor median and warm-pass spread read quiet
    val coldDelay = cold.map { case (k, _, d) => k -> d }.toMap
    val delayRows = results
      .collect { case (k, v, _, _, _, _, d) if v >= 0 =>
        (k, d, coldDelay.getOrElse(k, -1.0)) }
    val delayFactors = delayRows
      .map { case (k, d, _) => "\"" + k + "\":" + math.rint(d * 1000) / 1000 }
      .mkString("{", ",", "}")
    val delayFactorsCold = delayRows
      .map { case (k, _, dc) => "\"" + k + "\":" + math.rint(dc * 1000) / 1000 }
      .mkString("{", ",", "}")
    val delayMed = delayMedian(delayRows.map(_._2))
    val delayMedJson = math.rint(delayMed * 1000) / 1000
    val delayMedCold = delayMedian(delayRows.map(_._3))
    val delayMedColdJson = math.rint(delayMedCold * 1000) / 1000
    val delaySusp = delaySuspects(delayRows)
    val delaySuspJson = delaySusp.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v, _, _, _, _, _) if v >= 0 => v }.sum
    val qsCold = cold.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val totalCold = cold.collect { case (_, v, _) if v >= 0 => v }.sum
    // Contention sentinel: a warm min composite slower than the cold
    // pass, or any query whose warm min exceeds 2× its own cold time,
    // means the box was busy during the run — the numbers are a bad
    // measurement, not a regression (round-8 postmortem).
    val coldByName = cold.map { case (k, v, _) => k -> v }.toMap
    // contention anchor leg 3: after the suite — load that arrived
    // late inflates the tail queries and this leg
    if (calibOn) calibLegs += calibLeg()
    val boxFactor = boxFactorOf(calibOn, calibLegs.map(_._2).toSeq)
    val boxLoad = boxLoadOf(calibOn, calibRef, calibLegs.map(_._1).toSeq)
    val relativeContended = (totalCold > 0 && total > totalCold) ||
      results.exists { case (k, v, _, _, _, _, _) =>
        val c = coldByName.getOrElse(k, -1.0); c > 0 && v > 2 * c }
    val anchorContended = boxFactor > CalibDriftMax
    val perQueryContended = delaySusp.size >= DelaySuspectMinRows
    val contended = relativeContended || anchorContended || perQueryContended
    val contendedReason = contendedReasonOf(relativeContended,
      anchorContended, perQueryContended)
    val passDetail = allPasses.map(p =>
      names.flatMap(n => p.get(n).map(m => "\"" + n + "\":" + m._1))
        .mkString("{", ",", "}")).mkString("[", ",", "]")
    val execPart = execTimeline.map { case (buf, srcLease) =>
      val samples = buf.synchronized {
        buf.map { case (t, n) => s"[$t,$n]" }.mkString("[", ",", "]") }
      val src = if (srcLease.get()) "lease" else "status-store"
      s""""executors_timeline":$samples,"executors_timeline_source":"$src","""
    }.getOrElse("")
    // calib_legs rows are [wall_sec, delay_factor] per leg (start,
    // post-cold, end)
    val calibLegsJson = calibLegs
      .map { case (w, d) => s"[${math.rint(1000 * w) / 1000},${math.rint(1000 * d) / 1000}]" }
      .mkString("[", ",", "]")
    val calibPart = s""""box_factor":$boxFactor,"box_load":$boxLoad,"contended_reason":"$contendedReason","calib_legs":$calibLegsJson,"calib_ref_sec":$calibRef,"""
    val delayPart = s""""delay_factor":$delayFactors,"delay_factor_cold":$delayFactorsCold,"delay_median":$delayMedJson,"delay_median_cold":$delayMedColdJson,"delay_suspect":$delaySuspJson,"""
    val line = s"""{"metric":"total","value":$total,"unit":"sec","total_cold":$totalCold,"warm_passes":$warmPasses,"refine_passes":$refines,"contended":$contended,$calibPart$delayPart$execPart"queries":$qs,"warm_spread":$spreads,"noise_suspect":$noiseSuspect,"queries_cold":$qsCold,"queries_warm_passes":$passDetail,"bytes":$bytes,"warmup":"cold-pass@sf","shuffle":${jstr(shuffleMode)},"master":${jstr(masterMode)},"sf":${jstr(sfDir)}}"""
    println(line)
    // stdout of an sbt run gets interleaved/truncated by the harness —
    // persist the full line so the round artifact always parses
    val out = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
    if (out.getParent != null) java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The harness keeps only the TAIL of stdout (BENCH_r0{2..7}.json all
    // lost the head of the full line above). Re-print the driver-contract
    // fields WITHOUT the bytes/cold/per-pass maps as the final line so a
    // complete, parseable JSON object always lands inside the tail
    // window; the full detail stays in target/bench.json. (build.sbt
    // sets Global/showSuccess := false so sbt's "[success] Total time"
    // banner doesn't land AFTER this line — r8's tail showed the banner
    // as the true last line, which is what a last-line parser chokes on.)
    println(s"""{"metric":"total","value":$total,"unit":"sec","total_cold":$totalCold,"warm_passes":$warmPasses,"refine_passes":$refines,"contended":$contended,"contended_reason":"$contendedReason","box_factor":$boxFactor,"box_load":$boxLoad,"delay_median":$delayMedJson,"delay_suspect":$delaySuspJson,"noise_suspect":$noiseSuspect,"queries":$qs,"shuffle":${jstr(shuffleMode)},"master":${jstr(masterMode)},"sf":${jstr(sfDir)}}""")
    spark.stop()
  }
}
