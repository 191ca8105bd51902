package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{PqKernels, VectorFunctions, VectorKernels}

/** Library-facing similarity search: corpus/query DataFrames in, ranked
  * neighbor rows out. The oracled fixture queries
  * ([[graft.operators.SimilarityQueries]]) are thin bindings of these.
  * Inputs: `idCol` (long), `vecCol` (array<float>). Output columns:
  * (q_id, n_id, cos, rank). */
object Similarity extends org.apache.spark.internal.Logging {

  /** Session conf governing the coarse-quantizer sizing check:
    * `enforce` (default) throws on a k₁ outside the √ band, `warn`
    * logs the cost model and proceeds, `off` skips the check. */
  val HierSizingConfKey = "spark.graft.hier.sizing"

  /** Max tolerated per-row routing cost as a multiple of the optimum:
    * cost(k₁) = k₁ + w·k/k₁ is minimized at k₁* = √(w·k) where it is
    * 2√(w·k); a ratio cap of 2 admits k₁ ∈ [≈0.27, ≈3.73]·k₁* and
    * rejects the linearly-growing-k₁ regime whose measured decade-3
    * exponent was 1.3 (STATUS r12 embedding tables). */
  val HierSizingBand = 2.0

  /** The cost-optimal coarse-cell count for a k-centroid codebook
    * probed at width w: k₁* = √(w·k) (min of k₁ + w·k/k₁), which caps
    * per-row routing work at 2√(w·k) dots — √-growth when k grows
    * with the corpus, vs linear under k₁ ∝ k. */
  def coarseSizeFor(k: Long, w: Int): Int =
    math.max(1, math.round(math.sqrt(w.toDouble * k))).toInt

  /** [[HierSizingConfKey]]'s verdict: a pinned k₁ trips when it costs
    * more than [[HierSizingBand]]× the optimal routing — the guard the
    * r12 verdict asked for: the measured third-decade wall was
    * "prevented only by documentation". */
  private def hierSizingVerdict(k: Long, k1: Long, w: Int): Option[String] = {
    val actual = k1 + w.toDouble * k / k1
    val optimal = 2.0 * math.sqrt(w.toDouble * k)
    if (k == 0 || k1 == 0 || actual <= HierSizingBand * optimal) None
    else Some(f"hier routing k1=$k1 is outside the sqrt band for " +
      f"k=$k, w=$w: per-row cost k1 + w*k/k1 = ${actual}%.0f dots vs " +
      f"optimal 2*sqrt(w*k) = ${optimal}%.0f at k1* = " +
      s"${coarseSizeFor(k, w)} (${f"${actual / optimal}%.1f"}x > " +
      s"${HierSizingBand}x band). A k1 that grows linearly with k " +
      "re-creates the n*k1 routing wall; size k1 ~ sqrt(w*k) (or use " +
      s"the auto-sized overload), or set $HierSizingConfKey=warn|off.")
  }

  /** Session conf governing the PQ-family rerank-budget check
    * ([[rerankSizingVerdict]]): `enforce` (default) throws on a
    * caller-pinned rerank an order of magnitude below the calibrated
    * curve, `warn` logs and proceeds, `off` skips. */
  val RerankSizingConfKey = "spark.graft.rerank.sizing"

  /** Tolerated shortfall below the calibrated rerank curve before the
    * sizing check trips: pinned R < [[rerankFor]]/10 is the measured
    * collapse regime (R = 50 at 2 M vectors is 100× under the curve
    * and read recall 0.35; R at the /10 boundary — 500 at 50 k — read
    * 0.85: degraded, tolerated under an explicit pin). */
  val RerankBand = 10

  /** Calibration point of the rerank auto-sizing curve — the r13
    * recall-vs-scale measurement (STATUS r13): R = 5000 at
    * n = 200 k vectors reads recall@5 = 0.97 on the near-uniform
    * fixture (PQ's worst case), and the third decade showed required
    * growth is SUBLINEAR (the SAME R = 5000 still reads 0.91 at 2 M
    * vectors — the required fraction fell 10×), so the curve
    * extrapolates as √n. NB on scale labels: the replica fixtures
    * hold 20 k / 200 k / 2 M EMBEDDINGS at reps = 10/100/1000 (the
    * sf0.1 source has 2 000 vectors); the r12/r13 STATUS tables
    * labeled these decades by the 50 k / 500 k / 5 M DOCUMENT counts —
    * the calibration here uses the true vector counts. */
  val RerankCalibN: Long = 200000L
  val RerankCalibR: Int = 5000

  /** Corpus-derived rerank budget for the PQ family:
    * R(n) = [[RerankCalibR]]·√(n/[[RerankCalibN]]), floored at 10·k
    * and capped at n−1 (more candidates than corpus rows is
    * meaningless). The √ shape is the conservative reading of the r13
    * recall-vs-scale measurement: on near-uniform vectors the count of
    * corpus points whose ADC noise exceeds the true kth-neighbor gap
    * grows ~linearly in n, but codebooks trained on more data quantize
    * better, and the measured requirement for recall ≥ 0.9 grew
    * sublinearly (R/n fell 10× between the second and third measured
    * decades). CONCENTRATION caveat (measured r15, clustered fixture —
    * STATUS r15): heavy manifold concentration
    * does NOT relax this curve — it helps cell ROUTING but compresses
    * within-cluster cosine gaps (~5× on the 8-cluster fixture) below
    * ADC's resolution, so the required R transitions toward the
    * candidate CLUSTER's population (R = clusterSize read recall
    * 1.0000 exactly; the √n auto budget read 0.36 at 200 k). On such
    * corpora the multi-probe LSH family is the better tool (s2p read
    * 0.96 scale-free there) — [[rerankForMeasured]] measures the
    * budget at the corpus's own concentration. */
  def rerankFor(n: Long, k: Int): Int = {
    if (n <= 1) return math.max(1, k)
    val curve = math.ceil(
      RerankCalibR * math.sqrt(n.toDouble / RerankCalibN)).toLong
    math.min(math.max(10L * k, curve), n - 1).toInt
  }

  /** [[RerankSizingConfKey]]'s verdict: a pinned rerank budget trips
    * when it sits [[RerankBand]]× below the calibrated curve for the
    * corpus size — the guard the r13 verdict asked for: the probe
    * measured recall collapsing 0.94 → 0.35 under a fixed tuning-scale
    * R while nothing in the API stopped a caller from pinning it. */
  private def rerankSizingVerdict(n: Long, k: Int,
      rerank: Int): Option[String] = {
    val auto = rerankFor(n, k)
    val floor = math.max(k.toLong, auto.toLong / RerankBand)
    if (n <= 0 || rerank >= floor) None
    else Some(s"PQ rerank budget $rerank is >${RerankBand}x below the " +
      s"calibrated curve for a $n-row corpus: R(n) = $RerankCalibR * " +
      s"sqrt(n/$RerankCalibN) = $auto (floor $floor). A tuning-scale " +
      "constant collapses recall as the corpus grows (measured r13: " +
      "R=50 read recall@5 0.35 at 2M vectors vs 0.91 at the " +
      "corpus-scaled R=5000). Use the auto-sized overload (no rerank " +
      "arg), measure the budget for this corpus with " +
      "Similarity.rerankForMeasured, " +
      s"or set $RerankSizingConfKey=warn|off.")
  }

  /** Session conf governing the PQ-family AUTO paths' concentration
    * floor ([[pqConcVerdict]]): `enforce` (default) throws
    * when the measured corpus concentration sits in the regime where
    * the √n rerank curve is REFUTED, `warn` logs the measurement and
    * proceeds, `off` skips (skips the sample job too). The pinned
    * paths are exempt by design — [[RerankSizingConfKey]] already
    * polices them, and [[rerankForMeasured]]'s output (the measured
    * remedy this floor names) is consumed through a pin. */
  val PqConcConfKey = "spark.graft.pq.concfloor"

  /** Per-query COLLAPSE LEVEL: the kth-NN cosine at or above which a
    * query's neighborhood sits in the regime where the √n rerank
    * curve is refuted. Through r16 this value was compared against
    * the 10th-PERCENTILE statistic; since r17 the floor trips on the
    * FRACTION of queries at/above the level ([[PqConcFrac]]) — the
    * percentile form is measurably blind to mixtures.
    *
    * MEASURED calibration. r16 (STATUS r16, over the r15 recall
    * campaign's own fixtures): the 10th-percentile 5th-NN cosine
    * ([[annRoute]]'s `stat`, k = 5, sampleN = 1024) reads
    * 0.267–0.326 on every diffuse fixture (sf0.001 / sf0.01 / sf0.1
    * sources and the 20 k / 200 k / 2 M sign-cipher decades — the
    * corpora the √n curve was VALIDATED on at 0.91–0.97 recall@5) and
    * 0.837–0.838 on the clustered decades (where the same curve
    * MEASURED 0.23–0.47), so 0.6 separates the two regimes PER QUERY
    * with ≥ 1.8× margin on the diffuse side. r17
    * (STATUS r17, λ ∈ {25, 50, 75}% clustered over the diffuse
    * base at 20 k / 200 k): per-query kth-NN cosines stay bimodal in
    * mixtures — diffuse-side medians 0.42–0.49, clustered-side
    * 0.86–0.89 — so the LEVEL still separates cleanly; what failed
    * there was the 10th-percentile AGGREGATION (it read 0.275–0.296,
    * the diffuse band, at every λ ≤ 0.75 while the auto curve
    * collapsed to 0.58/0.47 at 200 k), which is why the floor now
    * trips on the at-level FRACTION instead ([[PqConcFrac]]). */
  val PqConcStatFloor = 0.6

  /** Tolerated concentrated-query share for the PQ auto paths: the
    * floor trips when more than this fraction of sample queries sit
    * at/above the [[PqConcStatFloor]] collapse level. 0.1 = 1 − the 0.9
    * recall target the calculators size for: if the concentrated
    * slice collapsed to zero recall, a smaller share could not pull
    * the composite below target, while a larger one provably can —
    * measured r17: λ = 0.25 (frac ≈ 0.25) read 0.91 at 200 k with the
    * auto budget right at the cluster population (marginal hold, one
    * decade from collapse); λ = 0.5/0.75 read 0.58/0.47 where the
    * measured remedy ([[rerankForMeasured]]) read 0.99 on the same
    * corpora. The trip is deliberately conservative at small n
    * (20 k mixtures still read 0.89–0.99 — there the remedy costs
    * only ~1.2× the auto budget and reads ≥ 0.97). */
  val PqConcFrac = 0.1

  /** [[PqConcConfKey]]'s verdict: an AUTO-sized PQ-family call trips
    * when it is about to run the √n rerank curve on a corpus where more
    * than [[PqConcFrac]] of the query population sits in the curve's
    * refuted regime: heavy manifold concentration
    * compresses within-cluster cosine gaps below ADC's resolution, so
    * the auto budget silently reads 0.23–0.47 recall@5 where R =
    * cluster population reads 1.0000 (r15 clustered fixture, three
    * decades). Since r17 the statistic is the at-level FRACTION, not
    * the 10th percentile: the mixture campaign (STATUS r17)
    * measured λ = 0.5/0.75 clustered mixtures collapsing the auto
    * curve to 0.58/0.47 at 200 k while the percentile statistic sat
    * at 0.28 — a 10% diffuse minority pins any low percentile in the
    * diffuse band no matter how large the clustered mass. Costs one
    * sample-sized statistic job ([[concentrationSample]]) per auto
    * call; under `off` [[Guard.check]] never runs it. */
  private def pqConcVerdict(cNormed: DataFrame, n: Long,
      k: Int, what: String): Option[String] = {
    // A corpus with n <= k rows cannot be in the collapse regime the
    // floor polices (there is no "cluster population >> rerank budget"
    // at that size, and the exact scan is affordable anyway) — and
    // concentrationSample's n > k contract would hard-fail it, turning
    // the r16 floor into a regression on previously-working tiny-corpus
    // auto calls (warn mode could not proceed either, only off).
    if (n <= k) {
      logWarning(s"$what: corpus holds only $n rows (<= k = $k) — " +
        "concentration floor skipped; a corpus this small cannot " +
        "collapse the sqrt(n) rerank curve")
      return None
    }
    val cs = concentrationSample(cNormed, "vec_id", "embedding", k, 1024,
      Some(n))
    Barrier.release(cs.sample)
    if (cs.concFrac.isNaN || cs.concFrac < PqConcFrac) None
    else Some(f"$what (auto-sized): ${100 * cs.concFrac}%.0f%% of " +
      f"sampled queries have their ${k}th-NN cosine >= $PqConcStatFloor " +
      f"(tolerated share ${100 * PqConcFrac}%.0f%%) — " +
      "that query population sits outside the sqrt(n) rerank " +
      "curve's validated regime (measured r15-r17: diffuse corpora " +
      "hold 0.91-0.97 recall@5 on the curve; clustered ones read " +
      "0.23-0.47, and MIXTURES collapse the same way while keeping " +
      "a diffuse-looking 10th-percentile statistic — lambda=0.5/" +
      "0.75 mixes at 200k read 0.58/0.47 on the auto budget where " +
      "the measured remedy read 0.99; within-cluster cosine gaps " +
      "compress below ADC's resolution, and recall returns only at " +
      "R = cluster population). Use rerankForMeasured (pass its " +
      "budget to the pinned overload), route with annTopK/annRoute " +
      "(it takes the measured-rerank path on this shape), or set " +
      s"$PqConcConfKey=warn|off.")
  }

  /** Session conf governing the IVFADC probe-width check: same
    * enforce|warn|off contract as [[RerankSizingConfKey]]. */
  val ProbeSizingConfKey = "spark.graft.nprobe.sizing"

  /** Cell-probe width for a recall-robust IVFADC scan: half the cells —
    * the measured 0.94-recall point of the r12 IVFADC sweep (STATUS
    * r12: nProbe 4 of 8 + corpus-scaled rerank matches cell-free s6's
    * recall at half the code scan). The committed s8 knee (3 of 8, recall 0.88 at
    * tune scale) sits inside the tolerated band below this. */
  def probeFor(nCells: Int): Int = math.max(1, (nCells + 1) / 2)

  /** [[ProbeSizingConfKey]]'s verdict: a pinned nProbe trips below
    * HALF of [[probeFor]] (i.e. < nCells/4) — the
    * probe-starved regime: the r13 sweep measured s8's recall ceiling
    * as PROBE-limited (nProbe 3 → 8 moved 0.70 → 0.87 at 200 k while
    * 4× the residual codes moved it only 0.70 → 0.73), so too few
    * probed cells is unfixable by any rerank budget: true neighbors
    * in unprobed cells are unreachable. */
  private def probeSizingVerdict(nCells: Int, nProbe: Int): Option[String] = {
    val floor = math.max(1, (nCells + 3) / 4)
    if (nProbe >= floor) None
    else Some(s"IVFADC nProbe=$nProbe of $nCells cells is below the " +
      s"probe-starved floor $floor (= nCells/4; the recall-robust " +
      s"width is probeFor(nCells) = ${probeFor(nCells)}). Recall in " +
      "this regime is PROBE-limited — true neighbors in unprobed " +
      "cells are unreachable at any rerank budget (measured r13: " +
      "nProbe 3->8 moved recall 0.70->0.87 at 200k vectors while 4x " +
      "the residual codes moved it 0.70->0.73). Use the auto-sized " +
      "overload (probeFor(nCells) cells), or set " +
      s"$ProbeSizingConfKey=warn|off.")
  }

  /** Hash tables needed for a target candidate recall given a
    * measured per-table collision rate — the hyperplane-LSH
    * compensation knee: collisions are independent across tables, so
    * recall = 1 − (1−r)^T and T*(R) = ln(1−R)/ln(1−r). `r` is a
    * per-pair property of the similarity regime and the geometry,
    * NOT of the corpus size (measured scale-free across three
    * decades, r14 LSH recall probe: r = 0.301/0.110/0.037 at
    * planes 6/9/12 with full multi-probe on the cos≈0.4–0.5 fixture
    * → T*(0.9) = 7/20/62; STATUS r14) — [[lshPerTableRate]] models r
    * at the operating geometry; size tables from it here. Candidate
    * volume scales as n²·T/2^planes: for LOW-similarity thresholds
    * r(planes) decays faster than 2^planes prunes, so no (T, planes)
    * holds both linear volume and high recall at corpus scale — use
    * the PQ/IVF family there; banded LSH is the high-similarity
    * near-dup tool. */
  def lshTablesFor(recallTarget: Double, perTableRate: Double): Int = {
    require(recallTarget > 0 && recallTarget < 1,
      s"recallTarget must be in (0,1), got $recallTarget")
    require(perTableRate > 0 && perTableRate < 1,
      s"perTableRate must be in (0,1), got $perTableRate")
    math.ceil(math.log1p(-recallTarget) / math.log1p(-perTableRate)).toInt
  }

  /** P(one random hyperplane puts a pair at cosine `cos` on the same
    * side) = 1 − θ/π [Charikar 2002, SimHash] — the per-plane Bernoulli
    * every hyperplane-LSH recall number in this file decomposes into. */
  def planeAgreeProb(cos: Double): Double = {
    val c = math.max(-1.0, math.min(1.0, cos))
    1.0 - math.acos(c) / math.Pi
  }

  /** CLOSED-FORM per-table collision rate for a pair at cosine
    * `threshold` under a (planes, probes) table: p^planes one-shot,
    * plus probes·p^(planes−1)·(1−p) for the Hamming-1 multi-probe
    * expansion (exactly one of the probed bits disagrees). This is the
    * model the r14 MEASURED rates validate: at the cos≈0.4 fixture
    * regime it predicts 0.284/0.0996/0.032 for planes 6/9/12 (full
    * multi-probe) vs measured 0.301/0.110/0.037 — within 10–14%, and
    * ALWAYS on the conservative side (the model under-predicts the
    * rate, so [[lshTablesFor]] sizes slightly more tables than the
    * measurement requires). The rate is a per-pair property of the
    * angle and geometry, NOT the corpus size (measured scale-free
    * across three decades) — which is what makes sizing from the model
    * sound at any n. */
  def lshPerTableRate(threshold: Double, planes: Int, probes: Int): Double =
    lshPerTableRate(threshold, planes, probes, radius = 1)

  /** [[lshPerTableRate]] generalized to probe RADIUS [Lv et al., VLDB
    * 2007 — perturbation sets beyond single-bucket flips]: a pair at
    * cosine `threshold` collides in a table iff its signature xor has
    * ≤ `radius` set bits, all among the `probes` probed positions —
    * rate = Σ_{j=0}^{radius} C(probes, j)·p^(planes−j)·(1−p)^j (the
    * un-flipped planes agree, exactly j probed planes disagree).
    * radius = 1 is the r14-validated model (10–14% conservative vs
    * measured); the r16 diffuse-fixture probe validates radius 2–3
    * the same way (STATUS r16 table). Each +1 of radius multiplies
    * the probed BUCKET count per (query, table) by ~C(probes, j) —
    * recall bought on the query side at candidate-volume cost
    * tables·Σ C(probes, j)·n/2^planes per query, which is the
    * quantity to check before trusting the lift at scale. */
  def lshPerTableRate(threshold: Double, planes: Int, probes: Int,
      radius: Int): Double = {
    require(planes >= 1, s"planes must be >= 1, got $planes")
    require(probes >= 0 && probes <= planes,
      s"probes must be in [0, planes=$planes], got $probes")
    require(radius >= 1 && radius <= MaxProbeRadius,
      s"radius must be in [1, $MaxProbeRadius], got $radius")
    val p = planeAgreeProb(threshold)
    (0 to math.min(radius, probes)).map { j =>
      choose(probes, j) * math.pow(p, planes - j) * math.pow(1 - p, j)
    }.sum
  }

  /** Probe-radius ceiling: bucket count per (query, table) is
    * Σ_{j≤radius} C(probes, j) — combinatorial in radius (probes = 12:
    * 13 / 79 / 299 buckets at radius 1/2/3). Past 3 the probe set
    * approaches scanning the signature space itself. */
  val MaxProbeRadius = 3

  private def choose(n: Int, k: Int): Double =
    (0 until k).map(i => (n - i).toDouble / (i + 1)).product

  /** All XOR masks with ≤ `radius` set bits among the low `probes`
    * bits (mask 0 = the own bucket, first) — the probe set
    * [[lshTopK]]'s radius overload expands each query signature by,
    * and (r18) the probe set [[graft.api.Dedup.incrementalEmbeddingPairs]]
    * expands the INCREMENT side's banded rows by. */
  private[api] def probeMasks(probes: Int, radius: Int): Seq[Long] = {
    require(radius >= 1 && radius <= MaxProbeRadius,
      s"radius must be in [1, $MaxProbeRadius], got $radius")
    val one = (0 until probes).map(1L << _)
    val two =
      if (radius < 2) Nil
      else for { i <- 0 until probes; j <- (i + 1) until probes }
        yield (1L << i) | (1L << j)
    val three =
      if (radius < 3) Nil
      else for { i <- 0 until probes; j <- (i + 1) until probes
        l <- (j + 1) until probes } yield (1L << i) | (1L << j) | (1L << l)
    0L +: (one ++ two ++ three)
  }

  /** The volume-discipline plane count: planes = ⌈log₂ n⌉ (floored at
    * 4) holds expected candidate volume at ~n·tables — the linear
    * regime — since volume scales as n²·tables/2^planes (measured r14,
    * ×100 per decade at FIXED planes). */
  def lshPlanesFor(n: Long): Int =
    math.max(4, math.ceil(
      math.log(math.max(2L, n).toDouble) / math.log(2.0)).toInt)

  /** Session conf governing [[lshGeometryFor]]'s table cap and the
    * pinned-geometry recall check in
    * [[graft.api.Dedup.embeddingPairs]]: enforce (default) throws,
    * warn logs and proceeds (the calculator clamps to the cap), off
    * skips. */
  val LshSizingConfKey = "spark.graft.lsh.sizing"

  /** Ceiling on auto-derived table count (conf
    * [[LshMaxTablesKey]], default 64): every table re-shuffles the
    * corpus's slim banded rows, so a derivation that needs hundreds of
    * tables is the calculator PROVING the caller is outside banded
    * LSH's operating envelope (low similarity at scale — the r14
    * probe's honest conclusion), not a budget to spend. */
  val LshMaxTablesKey = "spark.graft.lsh.maxtables"
  val LshMaxTablesDefault = 64

  /** Ceiling on the auto calculator's expected CANDIDATE volume per
    * query, as a fraction of the corpus (conf [[LshMaxCandFracKey]],
    * default 0.1): cand/query ≈ tables · Σ_{j≤radius} C(probes, j) ·
    * n / 2^planes, so the fraction is tables · buckets / 2^planes —
    * pure geometry, no job. Raising the probe radius multiplies
    * per-table rate WITHOUT re-shuffling the corpus (the r16 measured
    * lift: 0.26 → 0.91 recall@5 at 200 k), but the bucket count is
    * combinatorial in radius; past ~10% of the corpus per query the
    * probe set approaches a scan and the PQ family's measured-rerank
    * path is the honest tool (the r16 radius probe measured ~29% of
    * the corpus per query at its hand-pinned radius-3 geometry —
    * target/r16_recall_radius.log — and named exactly this boundary). */
  val LshMaxCandFracKey = "spark.graft.lsh.maxcandfrac"
  val LshMaxCandFracDefault = 0.1

  /** Expected candidate volume per query as a fraction of the corpus
    * for geometry `g`: tables · Σ_{j≤radius} C(probes, j) / 2^planes
    * (multiply by n for rows). Closed form, no job — printed by the
    * calculator's refusal message and capped by [[LshMaxCandFracKey]]. */
  def lshCandFraction(g: LshGeometry): Double =
    g.tables * probeBucketCount(g.probes, g.radius) / math.pow(2.0, g.planes)

  /** Buckets probed per (query, table) at (probes, radius):
    * Σ_{j=0}^{radius} C(probes, j) — 13/79/299 at probes = 12. */
  private def probeBucketCount(probes: Int, radius: Int): Double =
    (0 to math.min(radius, probes)).map(choose(probes, _)).sum

  /** Model-recall floor for a caller-PINNED embeddingPairs geometry:
    * below this, more than half the threshold-boundary pairs are
    * expected missed — the collapse regime (the r14 probe measured the
    * committed one-shot 4×12 geometry at 1–7% top-5 recall on diffuse
    * corpora; nothing in the API stopped a caller from shipping it as
    * a near-dup geometry). Mirrors [[RerankBand]]'s contract: degraded
    * is tolerated, collapsed is rejected. */
  val LshRecallFloor = 0.5

  /** Derived (tables, planes, probes, radius) for hyperplane-LSH
    * near-dup at `threshold` over an n-row corpus. `radius` (default
    * 1, the pre-r17 geometry exactly) is the probe radius the
    * calculator escalated to when radius 1 could not hold the recall
    * target inside the table cap — consumed by [[lshTopK]]'s radius
    * overload (query-side only; the pair generators execute radius 1). */
  final case class LshGeometry(tables: Int, planes: Int, probes: Int,
      radius: Int = 1)

  /** AUTO-SIZING calculator for the banded-LSH family (r14 verdict
    * task #5 — the PQ family's calculator/enforcement/auto template
    * applied to LSH): planes = ⌈log₂ n⌉ (linear candidate volume by
    * construction), probes = planes (full multi-probe — recall bought
    * on the query/probe side costs slim rows, never a corpus
    * re-shuffle), tables = [[lshTablesFor]](recallTarget, modeled
    * per-table rate at the threshold boundary). Pairs ABOVE the
    * threshold collide at a higher rate, so the target is a floor
    * over the whole qualifying population.
    *
    * When the radius-1 derivation needs more than [[LshMaxTablesKey]]
    * tables, the calculator ESCALATES the probe radius (2, then 3 —
    * the r16-measured axis: radius multiplies the per-table rate
    * without adding tables, so the cap binds later; measured lift
    * 0.26 → 0.91 recall@5 at 200 k with the model conservative at all
    * six points) before giving up, accepting the first rung that fits
    * BOTH the table cap and the candidate budget
    * ([[LshMaxCandFracKey]] — the combinatorial bucket count is the
    * radius axis's price, and past ~10% of the corpus per query the
    * probe set approaches a scan). Only when no rung fits does the
    * geometry not exist inside banded LSH's envelope (low-similarity
    * thresholds at corpus scale: the rate decays faster than 2^planes
    * prunes — measured r14) and the calculator fails loud per
    * [[LshSizingConfKey]] naming the PQ/IVF family, printing the
    * whole ladder (tables + cand/query per radius); warn/off clamp to
    * the caps (an honest recall floor, logged under warn). Callers
    * whose executor cannot expand probe masks (the pair generators)
    * pass `maxRadius = 1` and keep the pre-r17 contract exactly. */
  def lshGeometryFor(n: Long, threshold: Double,
      spark: org.apache.spark.sql.SparkSession,
      recallTarget: Double = 0.9,
      maxRadius: Int = MaxProbeRadius): LshGeometry = {
    val maxTables = spark.conf.get(LshMaxTablesKey,
      LshMaxTablesDefault.toString).toInt
    val maxFrac = spark.conf.get(LshMaxCandFracKey,
      LshMaxCandFracDefault.toString).toDouble
    // conf validated on EVERY call (not just past the cap): a typo'd
    // mode must not pass silently until the first over-cap corpus
    val mode = Guard.mode(spark, LshSizingConfKey)
    val tried = lshRadiusLadder(n, threshold, recallTarget, maxRadius)
    lshRadiusFit(tried, maxTables, maxFrac) match {
      case Some(g) => g
      case None =>
        val ladder = tried.map(g => f"radius ${g.radius}: ${g.tables} " +
          f"tables, cand/query ≈ ${100 * lshCandFraction(g)}%.1f%% of " +
          "corpus").mkString("; ")
        val msg = f"banded LSH cannot hold recall $recallTarget at " +
          f"threshold $threshold and n = $n inside the table cap " +
          f"($maxTables, conf $LshMaxTablesKey) and candidate budget " +
          f"(${100 * maxFrac}%.0f%% of corpus per query, conf " +
          s"$LshMaxCandFracKey) at any probe radius <= $maxRadius " +
          s"[$ladder] — each table re-shuffles the corpus, and each " +
          "+1 of radius multiplies probed buckets combinatorially " +
          "(13/79/299 at probes = 12). This similarity regime is " +
          "outside the banded-LSH envelope (measured r14: the rate " +
          "decays faster than 2^planes prunes at low thresholds; " +
          "measured r16: past ~10% cand/query the probe set " +
          "approaches a scan); use the PQ/IVF family " +
          "(pqTopK/ivfadcTopK) for low-similarity search, or set " +
          s"$LshSizingConfKey=warn|off to clamp to the caps (an " +
          "explicit recall floor)."
        Guard.trip(mode, msg)
        // clamp: cap the tables, then take the largest radius whose
        // candidate fraction still fits the budget at that table count
        // (radius 1 is always admissible — it is the r14-validated
        // volume-disciplined baseline)
        val base = tried.head
        (maxRadius to 2 by -1)
          .map(r => LshGeometry(maxTables, base.planes, base.probes, r))
          .find(lshCandFraction(_) <= maxFrac)
          .getOrElse(LshGeometry(maxTables, base.planes, base.probes, 1))
    }
  }

  /** The calculator's radius ladder: the derived geometry at each
    * probe radius 1..maxRadius (same planes/probes; tables re-sized
    * from the radius-generalized per-table rate). */
  private def lshRadiusLadder(n: Long, threshold: Double,
      recallTarget: Double, maxRadius: Int): Seq[LshGeometry] = {
    require(maxRadius >= 1 && maxRadius <= MaxProbeRadius,
      s"maxRadius must be in [1, $MaxProbeRadius], got $maxRadius")
    val planes = lshPlanesFor(n)
    (1 to maxRadius).map { r =>
      LshGeometry(lshTablesFor(recallTarget,
        lshPerTableRate(threshold, planes, planes, r)), planes, planes, r)
    }
  }

  /** First rung of the ladder inside the envelope. Radius 1 answers to
    * the table cap alone (the r14-validated baseline: volume is held
    * linear by planes = ⌈log₂ n⌉ and the cap — at small n its
    * candidate FRACTION is naturally high while absolute volume is
    * trivial); escalated rungs (radius ≥ 2, the r16 axis) must ALSO
    * fit the candidate budget — radius multiplies per-table rate
    * without re-shuffling the corpus, so the cap binds later, but the
    * bucket count is combinatorial and the budget is what keeps the
    * escalation from quietly approaching a scan. */
  private def lshRadiusFit(ladder: Seq[LshGeometry], maxTables: Int,
      maxFrac: Double): Option[LshGeometry] =
    ladder.find(g => g.tables <= maxTables &&
      (g.radius == 1 || lshCandFraction(g) <= maxFrac))

  /** Non-throwing [[lshGeometryFor]]: Some(geometry) when some probe
    * radius ≤ `maxRadius` fits the table cap (and, for escalated
    * radii, the candidate budget), None when the (n, threshold)
    * regime is outside banded LSH's envelope — the membership test
    * [[annRoute]] routes on. Since r17 the envelope includes the
    * radius ladder: mid-concentration corpora whose radius-1
    * derivation busts the table cap now route LSH at radius 2–3
    * (the r16-measured lift, 0.26 → 0.91 recall@5 at 200 k) instead
    * of falling to the PQ family. */
  def lshGeometryOption(n: Long, threshold: Double,
      spark: org.apache.spark.sql.SparkSession,
      recallTarget: Double = 0.9,
      maxRadius: Int = MaxProbeRadius): Option[LshGeometry] = {
    val maxTables = spark.conf.get(LshMaxTablesKey,
      LshMaxTablesDefault.toString).toInt
    val maxFrac = spark.conf.get(LshMaxCandFracKey,
      LshMaxCandFracDefault.toString).toDouble
    lshRadiusFit(lshRadiusLadder(n, threshold, recallTarget, maxRadius),
      maxTables, maxFrac)
  }

  /** Probe RADIUS for an ASYMMETRIC incremental generator against a
    * persisted signature asset of FIXED (tables, planes) geometry —
    * the r17 verdict's dd9 finding operationalized: a self-join pair
    * generator cannot expand probe masks (both sides would need the
    * expansion, squaring the bucket set), so [[lshGeometryFor]] pins
    * `maxRadius = 1` there — but the INCREMENT side of
    * [[graft.api.Dedup.incrementalEmbeddingPairs]] is query-shaped
    * exactly like [[lshTopK]]'s probe side: expanding its slim
    * (vec_id, tbl, sig) rows to the ≤-radius Hamming masks probes the
    * UNTOUCHED corpus asset's buckets at the radius-r collision rate
    * (signature-XOR adjacency is symmetric, so one-sided probing at
    * radius r finds every pair whose table signatures differ in ≤ r
    * probed bits — the same recall surface symmetric probing would
    * buy, with no asset re-shuffle and no re-band).
    *
    * The ladder here is one-dimensional: tables and planes are fixed
    * by the asset (re-sizing them means re-encoding the corpus), so
    * the calculator walks radius 1..[[MaxProbeRadius]] and returns the
    * FIRST rung whose closed-form model recall
    * (1 − (1 − [[lshPerTableRate]](threshold, planes, probes, r))^tables)
    * meets `recallTarget` while the increment-side candidate volume
    * (tables · Σ_{j≤r} C(probes, j) / 2^planes of the corpus PER
    * INCREMENT ROW — [[lshCandFraction]] at the asset geometry) stays
    * inside [[LshMaxCandFracKey]]; radius 1 is always admissible (the
    * pre-r18 contract exactly). When no rung reaches the target the
    * call fails loud per [[LshSizingConfKey]] printing the whole
    * ladder and naming the remedies (re-generate the asset at a
    * geometry [[lshGeometryFor]] derives, or the PQ family); warn/off
    * clamp to the best admissible rung — the highest-recall radius
    * the budget admits — an explicit recall floor, logged under warn. */
  def lshIncRadiusFor(tables: Int, planes: Int, probes: Int,
      threshold: Double, spark: org.apache.spark.sql.SparkSession,
      recallTarget: Double = 0.9): Int = {
    require(tables >= 1, s"tables must be >= 1, got $tables")
    require(probes >= 0 && probes <= planes,
      s"probes must be in [0, planes=$planes], got $probes")
    val maxFrac = spark.conf.get(LshMaxCandFracKey,
      LshMaxCandFracDefault.toString).toDouble
    val mode = Guard.mode(spark, LshSizingConfKey)
    def recallAt(r: Int): Double = 1.0 - math.pow(
      1.0 - lshPerTableRate(threshold, planes, probes, r), tables)
    def fracAt(r: Int): Double =
      lshCandFraction(LshGeometry(tables, planes, probes, r))
    val ladder = (1 to (if (probes == 0) 1 else MaxProbeRadius))
      .map(r => (r, recallAt(r), fracAt(r)))
    // radius 1 is admitted unconditionally (the pre-r18 contract: the
    // baseline the asset was built to run at), but an over-budget
    // BASELINE should not pass silently — an escalated radius at the
    // same fraction would be rejected (r18 ADVICE)
    if (mode != "off" && ladder.head._3 > maxFrac)
      logWarning(f"lshIncRadiusFor: the radius-1 BASELINE already " +
        f"probes ${100 * ladder.head._3}%.1f%% of the corpus per " +
        f"increment row (> the ${100 * maxFrac}%.0f%% budget, conf " +
        s"$LshMaxCandFracKey) at the $tables-table × $planes-plane " +
        "asset geometry — admitted for contract compatibility, but " +
        "this asset geometry is over budget before any escalation; " +
        "consider re-generating it at Similarity.lshGeometryFor's " +
        "derivation.")
    val admissible = ladder.filter { case (r, _, f) =>
      r == 1 || f <= maxFrac }
    admissible.find(_._2 >= recallTarget) match {
      case Some((r, _, _)) => r
      case None =>
        val rungs = ladder.map { case (r, rec, f) =>
          f"radius $r: model recall $rec%.3f, cand/inc-row ≈ " +
            f"${100 * f}%.1f%% of corpus" }.mkString("; ")
        val msg = f"incremental LSH probing cannot hold recall " +
          f"$recallTarget at threshold $threshold against a " +
          f"$tables-table × $planes-plane signature asset inside the " +
          f"candidate budget (${100 * maxFrac}%.0f%% of corpus per " +
          s"increment row, conf $LshMaxCandFracKey) at any probe " +
          s"radius <= $MaxProbeRadius [$rungs] — the asset's table " +
          "count is fixed (re-sizing it re-encodes the corpus), and " +
          "each +1 of radius multiplies probed buckets " +
          "combinatorially. Re-generate the asset at the geometry " +
          "Similarity.lshGeometryFor derives for this (n, threshold), " +
          "use the PQ/IVF family for low-similarity search, or set " +
          s"$LshSizingConfKey=warn|off to clamp to the best " +
          "admissible rung (an explicit recall floor)."
        Guard.trip(mode, msg)
        admissible.maxBy(_._2)._1
    }
  }

  /** Test-only observability: total [[concentrationSample]] runs in
    * this JVM — the spec-level pin for the router's documented cost
    * contract ("one sample job per routed cold call, zero per cached
    * hit"): a code path that silently re-pays the sample job moves
    * this counter where wall-clock assertions would flake. */
  private[graft] val concentrationSampleRuns =
    new java.util.concurrent.atomic.AtomicLong

  /** One concentration measurement: the barriered hash-stride sample,
    * the 10th-percentile kth-NN cosine (`stat` — the LSH-envelope
    * threshold: the similarity level the WEAKEST typical queries need
    * recalled), the fraction of sample queries whose kth-NN cosine
    * sits at or above the configured collapse level (`concFrac` — the
    * PQ floor's statistic: how much of the query population lives in
    * the regime where the √n curve is refuted), the stride, and the
    * corpus count. Both statistics come from the SAME sample top-k
    * job — adding the fraction costs one more column in the final
    * tiny aggregate, not a second job. */
  private final case class ConcSample(sample: DataFrame, stat: Double,
      concFrac: Double, stride: Long, n: Long)

  /** Shared sample + statistic construction behind [[annRoute]],
    * [[rerankForMeasured]] and the PQ concentration floor (one
    * implementation so the sample definition and the kth-NN
    * percentile cannot drift between them, and callers that need
    * several of (sample, stat, n) pay ONE corpus count). The sample is
    * a deterministic hash-stride subset of ~`sampleN` rows (no sort,
    * no full shuffle — one corpus scan + a sample-sized exact top-k
    * job), densely re-keyed for [[rerankForMeasured]]'s δ measurement
    * (pqTrain seeds by id < ks, and a hash-strided subset of a sparse
    * id space would select ~no seeds); relabeling cannot change the
    * statistic — per-query top-k membership may reorder under exact
    * cosine TIES, but the kth cosine VALUE (and hence the percentile)
    * is tie-invariant. Sampling UNDERESTIMATES the true kth-NN cosine
    * (a sparser corpus has farther neighbors), which errs toward the
    * PQ route — the general-purpose family — never toward
    * over-trusting LSH. Pass `nKnown` when the caller already counted
    * the corpus. Callers must [[Barrier.release]] the sample. */
  private def concentrationSample(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, sampleN: Int,
      nKnown: Option[Long] = None): ConcSample = {
    concentrationSampleRuns.incrementAndGet()
    val n = nKnown.getOrElse(corpus.count())
    require(n > k, s"corpus must hold more than k=$k rows, got $n")
    val stride = math.max(1L, n / sampleN)
    // The window is over ≤ ~sampleN rows — single-partition by design.
    val sample = Barrier(corpus
      .filter(pmod(xxhash64(col(idCol)), lit(stride)) === 0)
      .select(col(idCol).as("_src"), col(vecCol))
      .withColumn(idCol,
        row_number().over(Window.orderBy(col("_src"))).cast("long") - 1)
      .select(col(idCol), col(vecCol)))
    val kk = math.min(k.toLong, sample.count() - 1).toInt
    require(kk >= 1, "hash-stride sample too small to measure concentration")
    val row = cosineTopK(sample, sample, idCol, vecCol, kk)
      .groupBy("q_id").agg(min("cos").as("kcos"))
      .agg(expr("percentile(kcos, 0.1)"),
        avg((col("kcos") >= PqConcStatFloor).cast("double"))).head
    ConcSample(sample, row.getDouble(0), row.getDouble(1), stride, n)
  }

  /** MEASURED-concentration rerank budget — the r15 probe's
    * refutation of the √n curve on concentrated corpora, closed as a
    * calculator: on heavily-clustered data ADC routes candidates to
    * the right cluster but resolves little within it, so the budget
    * must cover the CONFUSABLE population — everything whose true
    * cosine sits within ADC's resolution of the kth-neighbor level.
    * Both factors are MEASURED on the same hash-stride sample as
    * [[annRoute]]'s statistic: δ = the 90th-percentile |adc − true|
    * scoring error of codebooks trained on the sample at the caller's
    * own (m, ks, iters) geometry, and the population = the mean count
    * of sample neighbors with cosine ≥ (kth-NN statistic − δ), scaled
    * back by the sampling stride. Floored at the
    * corpus-calibrated [[rerankFor]] curve (on diffuse corpora the
    * confusable set is ~k·stride — far under the curve, so this
    * degenerates to the measured-correct √n path) and capped at n−1.
    * Measured (r15 clustered fixture): the estimate lands at the
    * cluster population, where recall reads exactly 1.0 vs 0.36 at
    * the √n budget. Costs one corpus count + two sample-sized jobs —
    * pass the result to the pinned [[pqTopK]]/[[pqTopKFromIndex]]
    * (it always satisfies the sizing floor). For corpora
    * concentrated enough to route "lsh" ([[annRoute]]), prefer the
    * LSH family outright: covering a cluster with rerank is the
    * honest-but-expensive PQ fallback. */
  def rerankForMeasured(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, m: Int = 8, ks: Int = 64, iters: Int = 2,
      sampleN: Int = 1024): Int = {
    import graft.functions.PqFunctions
    val cs = concentrationSample(corpus, idCol, vecCol, k, sampleN)
    val (sample, stat, stride, n) = (cs.sample, cs.stat, cs.stride, cs.n)
    // ADC resolution δ at the CALLER's codebook geometry, measured on
    // the sample itself: train books on the sample, score every
    // sample pair both ways, take the 90th-percentile |adc − true|.
    val e = Barrier(normed(sample, idCol, vecCol))
    val booksRow = trainedBooksRow(sample, idCol, vecCol, m, ks, iters)
    val index = pqIndexOf(e, booksRow)
      .join(e.select(col("vec_id"), col("embedding").as("c_emb")), "vec_id")
    val qB = e.crossJoin(broadcast(booksRow))
      .select(col("vec_id").as("qa"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"),
        PqFunctions.pqLut(col("books"), col("embedding")).as("lut"))
    val adcCos = PqFunctions.pqAdc(col("lut"), col("codes")) /
      (col("q_nrm") * col("nrm"))
    val trueCos = VectorFunctions.cosinePre(
      VectorFunctions.dot(col("q_emb"), col("c_emb")),
      col("q_nrm"), col("nrm"))
    val scored = Barrier(index.join(broadcast(qB), col("qa") =!= col("vec_id"))
      .select(col("qa"), trueCos.as("tc"), abs(adcCos - trueCos).as("err")))
    val delta = scored.agg(expr("percentile(err, 0.9)")).head.getDouble(0)
    // CONFUSABLE population: candidates whose true cosine sits within
    // δ of the kth-neighbor level — the set ADC cannot reliably rank
    // below a true neighbor, so the budget must cover it. Averaged
    // over sample points, scaled back by the stride.
    val conf = scored.filter(col("tc") >= stat - delta)
      .groupBy("qa").agg(count(lit(1)).as("cm"))
      .agg(coalesce(avg("cm"), lit(0.0))).head.getDouble(0)
    Barrier.release(scored)
    Barrier.release(e)
    Barrier.release(sample)
    val r = math.min(n - 1,
      math.max(rerankFor(n, k).toLong,
        math.ceil(conf * stride).toLong)).toInt
    // The derived budget IS the family signal: when covering the
    // confusable population means re-ranking a meaningful fraction of
    // the corpus per query, PQ is the wrong tool at this
    // concentration/scale — the r15 third-decade probe DNF'd the
    // R ≈ 12%-of-corpus leg after 45 min where multi-probe LSH (s2p)
    // answered the same corpus at 0.98 recall in minutes.
    if (r.toLong * 20 > n)
      logWarning(f"rerankForMeasured derived R = $r — " +
        f"${100.0 * r / n}%.0f%% of the $n-row corpus. At this " +
        "concentration/scale the PQ family must re-rank a whole " +
        "cluster per query; prefer the multi-probe LSH family " +
        "(annRoute/annTopK or lshTopK), which held 0.96-0.98 recall " +
        "scale-free on such corpora (r15 clustered probe).")
    r
  }

  /** The router's decision record: the chosen family, the
    * 10th-percentile kth-NN cosine (`stat` — the LSH envelope's
    * sizing threshold), the concentrated-query fraction (`concFrac` —
    * the share of sample queries whose kth-NN cosine sits at or above
    * [[PqConcStatFloor]], the PQ floor's collapse statistic), and the
    * derived LSH geometry when that route was taken. Both statistics
    * come from the router's ONE sample job. */
  final case class AnnRoute(family: String, stat: Double,
      concFrac: Double, geometry: Option[LshGeometry])

  /** Which ANN family the corpus SHAPE favors — the r15
    * clustered-fixture measurement operationalized (STATUS r15 item
    * 2: which family wins flips with corpus concentration — banded
    * multi-probe LSH held 0.96–0.98 recall@5 scale-free on
    * manifold-concentrated corpora where the PQ family's √n budget
    * read 0.36; on diffuse corpora the positions reverse). The
    * routing criterion is PRINCIPLED, not a magic threshold: LSH wins
    * iff its sizing calculator can hold the recall target at the
    * measured concentration inside the table cap (and, since r17, the
    * radius ladder) — i.e. envelope membership ([[lshGeometryOption]])
    * at the sample's 10th-percentile statistic. The returned record
    * also carries the concentrated-query FRACTION, which decides the
    * PQ route's budget (measured r17: mixtures keep a diffuse-looking
    * percentile while their clustered majority collapses the √n
    * curve — the fraction is the statistic that sees them).
    *
    * `cacheDir` persists the statistic as a sidecar file (not yet an
    * [[Asset.Sidecar]] of the index generation): concentration is a corpus SHAPE property that drifts
    * slowly, so a routed daily path should not re-pay the sample
    * top-k job per call. The file `<cacheDir>/_concstat` (atomic
    * write-to-temp + rename, any Hadoop FS — park it next to the
    * corpus's signature/PQ index assets) holds one line
    * `v2 <stat> <frac> <n> <k> <sampleN>`; it is REUSED only when
    * (k, sampleN) match and the current corpus count sits within 2×
    * of the cached one — past that the corpus has grown/shrunk a
    * decade's worth and the shape is re-measured (and re-cached).
    * Pre-r17 `v1` lines (percentile only) and unparseable files read
    * as a MISS. The envelope test always uses the CURRENT count; only the
    * sample job is skipped on a hit. Delete the file to force a
    * re-measure. */
  def annRoute(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int = 5, sampleN: Int = 1024,
      cacheDir: Option[String] = None): AnnRoute = {
    val spark = corpus.sparkSession
    // one corpus count, threaded into both the concentration
    // measurement and the envelope test (on a computed, non-parquet
    // corpus a second count would replay the whole lineage)
    val n = corpus.count()
    // totality on tiny corpora: concentrationSample contracts n > k;
    // below that there is no shape to measure and no collapse regime —
    // route "pq" with NaN, and the routed diffuse path's exact-affordable
    // auto budget answers it (the floor skips n <= k for the same reason)
    if (n <= k) return AnnRoute("pq", Double.NaN, 0.0, None)
    def measure(): (Double, Double) = {
      val cs = concentrationSample(corpus, idCol, vecCol, k, sampleN, Some(n))
      Barrier.release(cs.sample)
      (cs.stat, cs.concFrac)
    }
    val (stat, frac) = cacheDir.fold(measure()) { dir =>
      val file = new org.apache.hadoop.fs.Path(dir, "_concstat")
      val fs = file.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val cached = (try {
        val in = fs.open(file)
        try Some(scala.io.Source.fromInputStream(in).mkString.trim)
        finally in.close()
      } catch { case _: java.io.IOException => None })
        .flatMap { line =>
          // Try: a corrupted cache (truncated write, manual edit, a
          // non-numeric token) degrades to a MISS, never a crash
          scala.util.Try {
            line.split("\\s+") match {
              case Array("v2", s, f, cn, ck, cs)
                if ck.toInt == k && cs.toInt == sampleN &&
                  n <= 2 * cn.toLong && cn.toLong <= 2 * n =>
                Some((s.toDouble, f.toDouble))
              case _ => None
            }
          }.toOption.flatten
        }
      cached.getOrElse {
        val (st, fr) = measure()
        val tmp = new org.apache.hadoop.fs.Path(dir, "_concstat.tmp")
        val out = fs.create(tmp, true)
        try out.write(s"v2 $st $fr $n $k $sampleN\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        fs.delete(file, false)
        require(fs.rename(tmp, file), s"failed to publish $file")
        (st, fr)
      }
    }
    val g =
      if (stat.isNaN) None
      else lshGeometryOption(n, stat, spark)
    AnnRoute(if (g.isDefined) "lsh" else "pq", stat, frac, g)
  }

  /** ADAPTIVE top-k: measure the corpus's concentration, route to the
    * ANN family that shape favors, run that family's auto-sized path —
    * the "just answer it" verb for a caller with no recall
    * measurement of their own. LSH route: [[lshTopK]] at the geometry
    * derived FOR the measured concentration (corpus-side cost
    * n·tables slim rows). PQ route: [[pqTopK]]'s auto overload
    * (corpus-calibrated √n rerank) at the given codebook geometry —
    * UNLESS the measured concentrated-query fraction already sits
    * past the floor's tolerated share while the LSH envelope doesn't
    * hold (concentrated or MIXED corpora outside the table cap and
    * radius ladder): there the router pays the honest-but-expensive
    * PQ fallback itself, [[rerankForMeasured]] through the pinned
    * overload, instead of handing the caller an auto path the
    * concentration floor would (rightly) reject — measured
    * (STATUS r17): on λ = 0.5/0.75 clustered mixtures at 200 k
    * the auto curve reads 0.58/0.47 while this fallback reads
    * 0.99. The router is therefore TOTAL: every corpus shape gets an
    * answer with a measured-recall story. Output ≡ the routed verb
    * exactly (property-pinned in DedupSimilaritySpec) — this adds a
    * routing decision, never a new result semantics, so the routed
    * verb's oracle certifies it transitively. Routing cost: two
    * metadata-cheap counts + one sample-sized exact top-k job, or
    * only the counts when `cacheDir` serves the statistic
    * ([[annRoute]]; pinned by the [[concentrationSampleRuns]] spec).
    * (The concentrated-PQ fallback's [[rerankForMeasured]] still
    * samples when taken — it measures ADC resolution at the caller's
    * codebook geometry, not just the statistic.) */
  def annTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int = 8, ks: Int = 64, iters: Int = 2,
      sampleN: Int = 1024, cacheDir: Option[String] = None): DataFrame = {
    val route = annRoute(corpus, idCol, vecCol, k, sampleN, cacheDir)
    if (route.family == "lsh") {
      val geom = route.geometry.get
      lshTopK(corpus, queries, idCol, vecCol, k,
        geom.tables, geom.planes, geom.probes, geom.radius)
    } else if (!route.concFrac.isNaN && route.concFrac >= PqConcFrac)
      pqTopK(corpus, queries, idCol, vecCol, k, m, ks, iters,
        rerankForMeasured(corpus, idCol, vecCol, k, m, ks, iters, sampleN))
    else {
      // Diffuse (or unmeasurably small) route: the router just
      // produced the statistics — measured them, or served them from
      // the `_concstat` sidecar — and the concentrated share sits
      // under the floor's tolerance. Calling the public auto overload
      // here would re-run the concentration floor's sample job (a
      // SECOND sample-sized exact top-k per routed call, contradicting
      // the documented one-sample routing cost — and on a sidecar
      // hit, re-paying the exact job the sidecar exists to skip);
      // worse, a stale cached statistic below the floor beside a
      // freshly-measured one above it would make enforce mode throw
      // INSIDE the routed call, breaking the router's totality. The
      // routing decision IS the validation; run the auto-sized impl
      // directly.
      val c = Barrier(normed(corpus, idCol, vecCol))
      val n = c.count()
      pqTopKImpl(c, queries, idCol, vecCol, k, m, ks, iters, rerankFor(n, k))
    }
  }

  /** Deterministic evenly-id-rank-spaced k₁-row subset of `seeds` —
    * the auto-sizing path's coarse routing table. Spread (not prefix)
    * so the coarse cells sample the seed population; tiny-frame window
    * (seeds are k rows by contract); k₁ = [[coarseSizeFor]](k, w). */
  private def autoCoarseSeeds(seeds: DataFrame, idCol: String, w: Int): DataFrame = {
    val n = seeds.count()
    val k1 = coarseSizeFor(n, w)
    val stride = math.max(1L, n / k1)
    seeds.withColumn("_rk",
        row_number().over(Window.orderBy(col(idCol))).cast("long") - 1)
      // integer form of rank/stride < k1 (no double-valued `/`)
      .filter(col("_rk") % stride === 0 && col("_rk") < lit(stride * k1))
      .drop("_rk")
  }

  private def normed(df: DataFrame, idCol: String, vecCol: String) = {
    VectorFunctions.register(df.sparkSession)
    df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
      VectorFunctions.norm(col(vecCol)).as("nrm"))
  }

  private val rankWindow =
    Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))

  /** Exact top-k: broadcast the (small) query side against the corpus —
    * the corpus streams with no shuffle; the only exchange is the final
    * per-query top-k. O(corpus × queries) dot products: the correctness
    * baseline and the right tool when queries are few. */
  def cosineTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = normed(corpus, idCol, vecCol)
    val q = normed(queries, idCol, vecCol)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val cos = VectorFunctions.cosinePre(
      VectorFunctions.dot(col("q_emb"), col("embedding")),
      col("q_nrm"), col("nrm"))
    c.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), cos.as("cos"))
      .withColumn("rank", row_number().over(rankWindow))
      .filter(col("rank") <= k)
  }

  /** ANN via hyperplane-LSH buckets: candidates from a (tbl, sig)
    * equi-join, exact re-rank inside buckets. O(n·tables) candidate
    * rows — the scale path; planes ~ log(n).
    *
    * RECALL contract (measured, r14 LSH recall probe): a true
    * neighbor is returned only if it shares a bucket — a per-pair
    * Bernoulli whose rate depends on the pair's ANGLE, not the
    * corpus size. One-shot bucketing at the committed 4×12 geometry
    * recalls high-similarity neighbors (near-dups) and almost none
    * of a DIFFUSE corpus's top-k (measured 0.01–0.07 recall@5 on the
    * near-uniform fixture at every scale, where the true top-5
    * cosines sit at 0.4–0.7): this verb is a high-similarity
    * retrieval tool; for top-k on diffuse embeddings use
    * [[cosineTopK]] (small query sets) or the PQ/IVF family
    * ([[pqTopK]]/[[ivfadcTopK]]) with corpus-scaled budgets. The
    * complement was measured in r15: on a manifold-CONCENTRATED
    * corpus (true top-k at high cosine) the multi-probe form holds
    * 0.96–0.97 recall@5 scale-free while the PQ family's √n budget
    * collapses to 0.36 — which family wins flips with corpus
    * concentration, and this one wins exactly where its per-pair
    * Bernoulli is strong. Size tables from a measured per-table rate
    * via [[lshTablesFor]]; `probes` buys back recall on the QUERY
    * side without touching the corpus (see below). */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      tables: Int, planes: Int): DataFrame =
    lshTopK(corpus, queries, idCol, vecCol, k, tables, planes, probes = 0)

  /** Multi-probe [[lshTopK]] [Lv et al., "Multi-Probe LSH: Efficient
    * Indexing for High-Dimensional Similarity Search", VLDB 2007 —
    * the perturbation-sequence idea specialized to Hamming-1 bucket
    * flips] — the measured fix for the one-shot
    * recall floor: each query additionally probes `probes` Hamming-1
    * neighbor buckets per table (bit p flipped, p < probes — the
    * [[graft.api.Dedup.embeddingPairs]] mechanics applied to the
    * query side). The corpus side is UNTOUCHED — n·tables slim rows
    * as before — and the probe expansion multiplies only the (tiny)
    * broadcast query bucket set by (1+probes), so recall per table
    * rises from p^planes to p^planes + probes·p^(planes−1)(1−p) at
    * ~zero corpus-side cost. The r14 probe measured the one-shot
    * committed geometry at 0.01–0.07 recall@5 on the diffuse fixture;
    * full multi-probe lifts the per-table rate several-fold (see the
    * dd5 one-shot-vs-probed columns in the same table: 0.43 → 0.93 at
    * 8×6). For high recall on DIFFUSE corpora the PQ family remains
    * the scale path — multi-probe raises the floor, not the law. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      tables: Int, planes: Int, probes: Int): DataFrame =
    lshTopK(corpus, queries, idCol, vecCol, k, tables, planes, probes,
      radius = 1)

  /** [[lshTopK]] at probe RADIUS > 1 [Lv et al. 2007's perturbation
    * sets, specialized to Hamming-≤radius bucket flips]: each query
    * visits every bucket whose signature differs in ≤ `radius` of the
    * `probes` probed bits — Σ_{j≤radius} C(probes, j) buckets per
    * (query, table), still entirely QUERY-side (the corpus's n·tables
    * slim rows are untouched). Adjacency by xor-weight is symmetric,
    * so one-sided expansion stays complete. Per-table rate model:
    * [[lshPerTableRate]]'s radius overload — measured r16 on the
    * diffuse fixture (STATUS table): the radius axis lifts the
    * committed geometry's mid-similarity recall at a candidate-volume
    * price of tables·Σ C(probes, j)·n/2^planes per query; check that
    * price against the corpus before preferring it to the PQ family. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      tables: Int, planes: Int, probes: Int, radius: Int): DataFrame = {
    require(probes >= 0 && probes <= planes,
      s"probes must be in [0, planes=$planes], got $probes")
    def tagged(df: DataFrame) = normed(df, idCol, vecCol).select(
        col("vec_id"), col("embedding"), col("nrm"),
        posexplode(VectorFunctions.lshSignatures(col("embedding"), tables, planes)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "sig")
    val c = tagged(corpus)
    // the query side visits its own bucket plus every ≤radius-bit
    // flip of the probed bits; xor-weight adjacency is symmetric, so
    // expanding the query side alone finds every pair within radius
    val buckets = array(probeMasks(probes, radius).map(lit): _*)
    val q = tagged(queries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("tbl").as("q_tbl"),
        explode(transform(buckets, f => col("sig").bitwiseXOR(f)))
          .as("q_sig"))
    val cos = VectorFunctions.cosinePre(
      VectorFunctions.dot(col("q_emb"), col("embedding")),
      col("q_nrm"), col("nrm"))
    c.join(broadcast(q),
        col("q_tbl") === col("tbl") && col("q_sig") === col("sig") &&
          col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), cos.as("cos"))
      .distinct() // a pair may share buckets in several tables/probes
      .withColumn("rank", row_number().over(rankWindow))
      .filter(col("rank") <= k)
  }

  /** AUTO-SIZED [[lshTopK]]: the geometry is derived from the corpus
    * row count and `simFloor` — the cosine level above which neighbors
    * must be recalled — via [[lshGeometryFor]] (planes = ⌈log₂ n⌉,
    * full multi-probe, tables from the modeled per-table rate at the
    * floor). The honest contract stays what [[lshTopK]]'s scaladoc
    * states: this recalls neighbors ABOVE simFloor with probability ≥
    * the target; true top-k entries BELOW it (diffuse corpora) remain
    * the PQ/IVF family's job, and a simFloor the calculator cannot
    * hold inside the table cap fails loud naming that family. The
    * corpus count is one metadata-only job on a parquet-backed frame
    * (the [[pqTopK]] auto overload's contract). */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, simFloor: Double): DataFrame = {
    val g = lshGeometryFor(corpus.count(), simFloor, corpus.sparkSession)
    lshTopK(corpus, queries, idCol, vecCol, k,
      g.tables, g.planes, g.probes, g.radius)
  }

  /** Fixed-point scale for the k-means centroid mean: coordinates are
    * quantized to `floor(x * 2^20)` BIGINTs before summation so the
    * per-cluster mean is an exact integer aggregate (order-free) instead
    * of a float sum whose value depends on reduction order. The 2^-20
    * quantization error is ~1e-6 per coordinate — far below any
    * clustering-relevant signal — and buys bit-identical centroids on
    * any engine/partitioning (the DuckDB oracle replays the same
    * integer arithmetic). Scaling by a power of two is exact in binary
    * floating point, so the only lossy step is the floor itself. */
  val KMeansQuantScale: Long = 1L << 20

  /** Deterministic Lloyd k-means over an `array<float>` column:
    * `iters` rounds of (assign to nearest centroid by cosine, recompute
    * centroids as the quantized fixed-point mean), then a final
    * assignment. No RNG: seeds are a caller-provided DataFrame (same
    * id/vec columns). The rounds run in [[lloyd]] (one aggregate job
    * each over driver-held centroids); the final assignment is the
    * map-only [[assignCells]] pass — the corpus is never shuffled. Empty
    * clusters drop out of the centroid set (both here and in the SQL
    * oracle). Output: (vec_id, embedding, nrm, cent_id, ccos) with
    * ccos = cosine to the final centroid. Ties in assignment break to
    * the lowest cent_id.
    *
    * Scale shape: each round is one corpus pass against centroids that
    * ride the task closure; k should grow ~corpus/targetCellSize so
    * downstream per-cell work stays bounded. */
  def kmeansAssign(corpus: DataFrame, seeds: DataFrame,
      idCol: String, vecCol: String, iters: Int): DataFrame =
    assignCells(normed(corpus, idCol, vecCol),
      kmeansCentroids(corpus, seeds, idCol, vecCol, iters))

  /** The trained CODEBOOK itself — final (cent_id, c_emb, c_nrm) after
    * `iters` Lloyd rounds over `corpus` — for callers that index OTHER
    * data with it (the IVF-with-trained-codebook shape: train once,
    * assign corpus cells, probe at query time). Same determinism
    * contract as [[kmeansAssign]]; cent_id keeps the seeds' id type. */
  def kmeansCentroids(corpus: DataFrame, seeds: DataFrame,
      idCol: String, vecCol: String, iters: Int): DataFrame =
    cosineLloyd(corpus, seeds, idCol, vecCol, iters, Cosine)

  /** [[kmeansCentroids]] with every Lloyd-round assignment routed
    * through the coarse quantizer — codebook training that stays
    * affordable when k grows with the corpus (see
    * [[kmeansAssignHier]]). */
  def kmeansCentroidsHier(corpus: DataFrame, seeds: DataFrame,
      coarseSeeds: DataFrame, idCol: String, vecCol: String,
      iters: Int, w: Int): DataFrame = {
    Guard.check(corpus.sparkSession, HierSizingConfKey)(
      hierSizingVerdict(seeds.count(), coarseSeeds.count(), w))
    cosineLloyd(corpus, seeds, idCol, vecCol, iters,
      Hier(collectCents(normed(coarseSeeds, idCol, vecCol))._2, w))
  }

  /** AUTO-SIZED [[kmeansCentroidsHier]]: derives k₁ = √(w·k) from the
    * seed count and routes through an evenly-spaced k₁-row subset of
    * the seeds — the sizing-by-construction path the r12 verdict asked
    * for (a caller cannot recreate the linear-k₁ wall through it). */
  def kmeansCentroidsHier(corpus: DataFrame, seeds: DataFrame,
      idCol: String, vecCol: String, iters: Int, w: Int): DataFrame =
    kmeansCentroidsHier(corpus, seeds, autoCoarseSeeds(seeds, idCol, w),
      idCol, vecCol, iters, w)

  /** [[kmeansAssign]] with every corpus-wide assignment (the Lloyd
    * rounds AND the final one) routed through the two-level
    * coarse-quantizer ([[hierAssign]]) — the shape that keeps k-means
    * affordable when k grows with the corpus: each round costs
    * n·(k₁ + w·k/k₁) dot products instead of n·k. `coarseSeeds` is the
    * FIXED routing table (k₁ rows, untrained); the fine centroids
    * refine per round as usual. The trade is the coarse-boundary
    * approximation (a row routed away from its true nearest fine
    * centroid) — `w` buys it back. */
  def kmeansAssignHier(corpus: DataFrame, seeds: DataFrame,
      coarseSeeds: DataFrame, idCol: String, vecCol: String,
      iters: Int, w: Int): DataFrame =
    hierAssignImpl(normed(corpus, idCol, vecCol),
      kmeansCentroidsHier(corpus, seeds, coarseSeeds, idCol, vecCol, iters, w),
      centCols(normed(coarseSeeds, idCol, vecCol)), w)

  /** AUTO-SIZED [[kmeansAssignHier]]: k₁ = √(w·k) derived from the
    * seed count, coarse table = evenly-spaced seed subset (see
    * [[coarseSizeFor]]). */
  def kmeansAssignHier(corpus: DataFrame, seeds: DataFrame,
      idCol: String, vecCol: String, iters: Int, w: Int): DataFrame =
    kmeansAssignHier(corpus, seeds, autoCoarseSeeds(seeds, idCol, w),
      idCol, vecCol, iters, w)

  /** Nearest-centroid assignment by cosine — MAP-ONLY: the centroid
    * table collapses to a single sorted-array row that rides a 1-row
    * broadcast nested-loop join, and the per-row argmax is the native
    * [[graft.functions.NearestCentroid]] expression. The declarative
    * twin (fan-out join + window top-1) would exchange the whole
    * corpus once per Lloyd round just to run row_number; here the
    * corpus is never shuffled. Keeps ccos for downstream keep/drop
    * rules. */
  private def assignCells(c: DataFrame, cents: DataFrame): DataFrame = {
    val centsRow = cents.groupBy().agg(
      array_sort(collect_list(struct(
        longId, col("c_emb"), col("c_nrm")))).as("cents"))
    c.crossJoin(broadcast(centsRow))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        VectorFunctions.nearestCentroid(
          col("cents"), col("embedding"), col("nrm")).as("best"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("best.cent_id").as("cent_id"), col("best.ccos").as("ccos"))
  }

  /** cent_id as the kernels' Long (a trained frame keeps the caller's
    * id type; the cast is a no-op on Long ids). */
  private def longId = col("cent_id").cast(LongType).as("cent_id")

  /** TWO-LEVEL nearest-centroid assignment — the coarse-quantizer shape
    * that keeps codebook assignment affordable when k grows with the
    * corpus (FAISS practice; see
    * [[graft.functions.HierNearestCentroid]]): `coarseCents` (k₁ rows)
    * routes each corpus row to its top-`w` coarse cells, and only the
    * `cents` (k rows) whose OWN nearest coarse cell matches are
    * scanned — n·(k₁ + w·k/k₁) dot products instead of n·k, still
    * MAP-ONLY (the whole two-level tree rides one 1-row broadcast).
    * Same output columns as the flat assignment; `w` = k₁ degenerates
    * to the exact flat argmax (spec-pinned). `corpus` = (vec_id,
    * embedding, nrm) — i.e. already-normed rows from this object's
    * operators — `cents`/`coarseCents` = (cent_id, c_emb, c_nrm). */
  def hierAssign(corpus: DataFrame, cents: DataFrame,
      coarseCents: DataFrame, w: Int): DataFrame = {
    Guard.check(corpus.sparkSession, HierSizingConfKey)(
      hierSizingVerdict(cents.count(), coarseCents.count(), w))
    hierAssignImpl(corpus, cents, coarseCents, w)
  }

  /** [[hierAssign]] body without the sizing check — the per-round
    * callee for loops that validated ONCE on the seed frames (the
    * check costs two counts; a Lloyd loop would pay it every round,
    * and a corpus-derived coarse frame would re-scan the corpus). */
  private def hierAssignImpl(corpus: DataFrame, cents: DataFrame,
      coarseCents: DataFrame, w: Int): DataFrame = {
    // tag every fine centroid with ITS nearest coarse cell (flat argmax
    // over k₁ — a k-row input, not the corpus), then fold the grouped
    // result into the single two-level tree row
    val fineTagged = assignCells(
      cents.select(col("cent_id").as("vec_id"), col("c_emb").as("embedding"),
        col("c_nrm").as("nrm")),
      coarseCents)
      .select(col("cent_id").as("coarse_id"),
        struct(col("vec_id").cast(LongType).as("cent_id"),
          col("embedding").as("c_emb"), col("nrm").as("c_nrm")).as("fine"))
    val cells = fineTagged.groupBy("coarse_id")
      .agg(array_sort(collect_list(col("fine"))).as("fines"))
    val treeRow = cells
      .join(coarseCents, cells("coarse_id") === coarseCents("cent_id"))
      .select(struct(
        struct(longId, col("c_emb"), col("c_nrm")).as("coarse"),
        col("fines")).as("node"))
      .groupBy().agg(array_sort(collect_list(col("node"))).as("tree"))
    corpus.crossJoin(broadcast(treeRow))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        VectorFunctions.hierNearestCentroid(
          col("tree"), col("embedding"), col("nrm"), w).as("best"))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("best.cent_id").as("cent_id"), col("best.ccos").as("ccos"))
  }

  /** [[hierAssign]] over raw (id, vec) frames — norms derived here. */
  def hierarchicalAssign(corpus: DataFrame, centroids: DataFrame,
      coarseCentroids: DataFrame, idCol: String, vecCol: String,
      w: Int): DataFrame = {
    def cents(df: DataFrame) = centCols(normed(df, idCol, vecCol))
    hierAssign(normed(corpus, idCol, vecCol),
      cents(centroids), cents(coarseCentroids), w)
  }

  /** ANN via IVF cells: corpus rows assigned to their nearest centroid,
    * queries probe the `nProbe` nearest cells. No driver-side training
    * loop; the corpus-side top-1 assignment is the MAP-ONLY
    * [[assignCells]] path (native argmax over a 1-row broadcast
    * centroid array — no corpus exchange), the query side keeps the
    * window top-n for its nProbe cells (the query set is tiny by
    * contract). Pass [[kmeansCentroids]] output as `centroids` (with
    * cent_id/c_emb as id/vec columns) for the trained-codebook
    * variant. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int): DataFrame = {
    val cents = centCols(normed(centroids, idCol, vecCol))
    val corpusCells = assignCells(normed(corpus, idCol, vecCol), cents)
      .drop("ccos")
    ivfProbe(corpusCells, normed(queries, idCol, vecCol), cents, k, nProbe)
  }

  /** [[ivfTopK]] with the corpus-side cell assignment routed through
    * the two-level coarse quantizer ([[hierAssign]]) — the variant for
    * codebooks that grow with the corpus. Query-side probing is
    * unchanged (the query set is tiny by contract). */
  def ivfTopKHier(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, coarseCentroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int, w: Int): DataFrame = {
    val cents = centCols(normed(centroids, idCol, vecCol))
    val corpusCells = hierAssign(normed(corpus, idCol, vecCol), cents,
      centCols(normed(coarseCentroids, idCol, vecCol)), w).drop("ccos")
    ivfProbe(corpusCells, normed(queries, idCol, vecCol), cents, k, nProbe)
  }

  /** AUTO-SIZED [[ivfTopKHier]]: the coarse routing table is an
    * evenly-spaced √(w·k)-row subset of the (trained) centroids
    * themselves — centroids make ideal coarse cells since they already
    * summarize the corpus geometry. */
  def ivfTopKHier(corpus: DataFrame, queries: DataFrame,
      centroids: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int, w: Int): DataFrame =
    ivfTopKHier(corpus, queries, centroids, autoCoarseSeeds(centroids, idCol, w),
      idCol, vecCol, k, nProbe, w)

  /** PQ sub-quantizer codebooks [Jégou et al. 2011]: the vector space
    * splits into `m` contiguous subspaces of width dim/m, and each gets
    * an independent L2 Lloyd codebook of `ks` codes (seeds = the
    * subvectors of the rows with id < `ks`; `iters` rounds of
    * argmin-L2 assignment + the quantized fixed-point mean — which IS
    * the exact L2 minimizer). All m codebooks train together in
    * [[lloyd]], one aggregate job per round. Returns (m, code_id,
    * c_emb), code_id in the corpus id type. Determinism contract as
    * [[kmeansAssign]]: no RNG, ties → lowest id, integer mean — the
    * DuckDB oracle replays the whole chain ([[graft.functions.PqFunctions
    * .l2KmeansCtes]]).
    *
    * Scale shape: training cost is m small k-means over the corpus
    * slices; at real corpus sizes train on a SAMPLE (standard PQ
    * practice — pass a sampled `corpus`): encode/score stay exact
    * full-corpus map-only passes regardless of what trained the books. */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ks: Int, iters: Int): DataFrame = {
    val (idType, books) = l2Lloyd(corpus, idCol, vecCol, m, ks, iters)
    centsFrame(corpus.sparkSession, "code_id", idType,
      Seq(StructField("m", IntegerType, nullable = false),
        StructField("code_id", LongType), CentFields(1)),
      books.map { case (g, c) => Row(g, c.id, c.emb.toSeq) })
  }

  // Design: the centroids of every trained codebook live on the
  // DRIVER, and each Lloyd round is ONE treeAggregate job over the
  // lazily barriered input. The SQL rounds it replaced paid a broadcast
  // aggregate, the per-(centroid, coordinate) mean aggregates and a
  // barrier per round, each submitted as its own AQE stage job.
  // Measured on perfbench daily_pipeline (seed 1, traced, 4-core box,
  // median of 3): pqTrain 18 → 5 jobs and 1624 → 439 ms; at sf0.001 the
  // call-time jobs of pqTrain read 12 → 3, ivfadcTopK 38 → 17, s6
  // 29 → 14 and s8 48 → 25 (JobBudgetSpec pins the verbs). Trained
  // output is a frame over ONE driver-built partition, never a
  // LocalRelation: r21 measured book rows embedded in every consuming
  // plan at ~2× wall (plan canonicalization and hashing over the data).

  /** One centroid: its id and its vector (a PQ subspace slice or a whole
    * embedding). */
  private final case class Cent(id: Long, emb: Array[Float]) {
    def arr: ArrayData = UnsafeArrayData.fromPrimitiveArray(emb)
    /** c_nrm by the vec_dot kernel, as [[normed]] computes it. */
    def nrm: Double = math.sqrt(VectorKernels.dot(arr, arr))
    /** The kernels' centroid struct: (id, c_emb[, c_nrm]). */
    def struct(withNrm: Boolean): InternalRow = new GenericInternalRow(
      if (withNrm) Array[Any](id, arr, nrm) else Array[Any](id, arr))
  }

  private def structs(cs: Seq[Cent], withNrm: Boolean): ArrayData =
    new GenericArrayData(cs.map(_.struct(withNrm)).toArray[Any])

  /** How [[lloyd]] assigns a row — with the kernels the SQL assignments
    * call: L2 argmin within each subspace (PQ books, IVFADC cells),
    * cosine argmax (k-means), or the two-level cosine route through the
    * fixed `coarse` cells ([[hierAssign]]). */
  private sealed trait Assign extends Serializable
  private case object L2 extends Assign
  private case object Cosine extends Assign
  private final case class Hier(coarse: Seq[Cent], w: Int) extends Assign

  /** One round's kernel-side centroid arrays, one per group. */
  private def kernelInput(cents: Array[Array[Cent]], how: Assign): Array[ArrayData] =
    how match {
      case L2 | Cosine => cents.map(structs(_, withNrm = how == Cosine))
      case Hier(coarse, _) =>
        // each fine centroid sits under its nearest coarse cell; cells
        // holding none are left out, as hierAssignImpl's join leaves them
        val cs = structs(coarse, withNrm = true)
        val under = cents(0).groupBy(f =>
          VectorKernels.nearestCentroid(cs, f.arr, f.nrm).getLong(0))
        Array(new GenericArrayData(coarse.filter(c => under.contains(c.id))
          .map(c => new GenericInternalRow(Array[Any](c.struct(withNrm = true),
            structs(under(c.id), withNrm = true)))).toArray[Any]))
    }

  /** THE Lloyd engine: `iters` rounds over `rows` = (embedding[, nrm]),
    * centroids held on the driver as `groups × k` [[Cent]]s (group g
    * reads the embedding slice at g·width). Each round is one
    * treeAggregate job: every task assigns its rows with the native
    * kernel (ties → lowest id) and sums floor(x · [[KMeansQuantScale]])
    * per (centroid, coordinate) as longs, plus counts; the driver
    * divides. Long sums are associative, so the centroids are
    * bit-identical to the SQL `sum` the oracle replays at any
    * partitioning. Empty clusters drop out. Task memory is the dense
    * Σk × (width + 1) longs. */
  private def lloyd(rows: DataFrame, seeds: Array[Array[Cent]], iters: Int,
      how: Assign): Array[Array[Cent]] = {
    val rdd = rows.queryExecution.toRdd
    val scale = KMeansQuantScale.toDouble
    (0 until iters).foldLeft(seeds) { (cents, _) =>
      val kin = kernelInput(cents, how)
      val ids = cents.map(_.map(_.id))
      val base = ids.scanLeft(0)(_ + _.length)
      val d = cents.flatten.headOption.fold(0)(_.emb.length)
      val tot = rdd.mapPartitions { it =>
        val acc = new Array[Long](base.last * (d + 1))
        it.foreach { r =>
          val emb = r.getArray(0)
          var g = 0
          while (g < kin.length) {
            val id = (how match {
              case L2 => PqKernels.nearestCentroidL2(kin(g), emb, g * d)
              case Cosine => VectorKernels.nearestCentroid(kin(g), emb, r.getDouble(1))
              case Hier(_, w) =>
                VectorKernels.hierNearestCentroid(kin(g), emb, r.getDouble(1), w)
            }).getLong(0)
            val at = (base(g) + java.util.Arrays.binarySearch(ids(g), id)) * (d + 1)
            acc(at) += 1
            var i = 0
            while (i < d) {
              acc(at + 1 + i) += math.floor(emb.getFloat(g * d + i).toDouble * scale).toLong
              i += 1
            }
            g += 1
          }
        }
        Iterator.single(acc)
      }.treeAggregate(null: Array[Long])(addInto, addInto)
      // the new means; a centroid that drew no row drops out
      Array.tabulate(cents.length)(g => ids(g).indices
        .map(j => (ids(g)(j), (base(g) + j) * (d + 1)))
        .collect { case (id, at) if tot != null && tot(at) > 0 =>
          Cent(id, Array.tabulate(d)(i =>
            (tot(at + 1 + i).toDouble / (scale * tot(at).toDouble)).toFloat))
        }.toArray)
    }
  }

  private def addInto(a: Array[Long], b: Array[Long]): Array[Long] =
    if (a == null || b == null) Option(a).getOrElse(b)
    else { a.indices.foreach(i => a(i) += b(i)); a }

  /** (id type, centroids sorted by id) from a (vec_id, embedding) frame. */
  private def collectCents(df: DataFrame): (DataType, Array[Cent]) =
    (df.schema("vec_id").dataType, df.select("vec_id", "embedding").collect()
      .map(r => Cent(r.getAs[Number](0).longValue, r.getSeq[Float](1).toArray)).sortBy(_.id))

  /** L2 Lloyd over `m` subspaces at once (m = 1: whole vectors, the
    * IVFADC coarse cells); seeds are the rows with id < `ks`. Returns
    * the id type and (subspace, centroid) pairs. The input is read
    * through one lazy barrier, released when training ends. */
  private def l2Lloyd(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, ks: Int, iters: Int): (DataType, Seq[(Int, Cent)]) = {
    // the seed collect scans every row of b: it is the filling action
    val (b, (idType, seeds)) = Barrier.filled(corpus.select(
      col(idCol).as("vec_id"), col(vecCol).as("embedding")))(
      b => collectCents(b.filter(col("vec_id") < ks)))
    try {
      require(seeds.nonEmpty, s"no seed rows ($idCol < $ks) to train on")
      val (dim, d) = (seeds.head.emb.length, seeds.head.emb.length / m)
      require(dim % m == 0, s"pqTrain: dim $dim not divisible by m=$m")
      (idType, lloyd(b.select("embedding"), Array.tabulate(m)(g =>
        seeds.map(s => Cent(s.id, s.emb.slice(g * d, g * d + d)))), iters, L2)
        .toSeq.zipWithIndex.flatMap { case (cs, g) => cs.map(g -> _) })
    } finally Barrier.release(b)
  }

  /** Cosine Lloyd (flat or [[Hier]]) from the caller's `seeds`: returns
    * (cent_id, c_emb, c_nrm), cent_id in the seeds' id type. */
  private def cosineLloyd(corpus: DataFrame, seeds: DataFrame, idCol: String,
      vecCol: String, iters: Int, how: Assign): DataFrame = {
    val (idType, init) = collectCents(normed(seeds, idCol, vecCol))
    // the first round's aggregate scans every row of b: it fills it
    val (b, cents) = Barrier.filled(
      normed(corpus, idCol, vecCol).select("embedding", "nrm"))(
      lloyd(_, Array(init), iters, how).head)
    Barrier.release(b)
    centsFrame(corpus.sparkSession, "cent_id", idType, CentFields,
      cents.toSeq.map(c => Row(c.id, c.emb.toSeq, c.nrm)))
  }

  private val CentFields = Seq(StructField("cent_id", LongType),
    StructField("c_emb", ArrayType(FloatType), nullable = false),
    StructField("c_nrm", DoubleType))

  /** Driver-held rows as a one-partition frame, the Long id column
    * `idCol` cast back to `idType` (a no-op the optimizer drops on Long). */
  private def centsFrame(spark: SparkSession, idCol: String, idType: DataType,
      fields: Seq[StructField], rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), StructType(fields))
      .withColumn(idCol, col(idCol).cast(idType))

  private def centCols(normedDf: DataFrame): DataFrame =
    normedDf.select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
      col("nrm").as("c_nrm"))

  /** Map-only L2 argmin assignment; every input column passes through
    * plus `cent_id` (the Lloyd loop passes (vec_id, embedding), IVFADC
    * passes (vec_id, embedding, nrm)). */
  private def assignCellsL2(c: DataFrame, cents: DataFrame): DataFrame = {
    import graft.functions.PqFunctions
    val centsRow = cents.groupBy().agg(array_sort(
      collect_list(struct(longId, col("c_emb")))).as("cents"))
    val cols = c.columns.map(col).toSeq
    c.crossJoin(broadcast(centsRow))
      .select(cols :+
        PqFunctions.nearestCentroidL2(col("cents"), col("embedding")).as("best"): _*)
      .select(cols :+ col("best.cent_id").as("cent_id"): _*)
  }

  /** ANN via product quantization + ADC + exact re-rank — the
    * memory/IO-bound scale path: the corpus is encoded ONCE into M
    * byte-ish codes per row (a (vec_id, codes, nrm) index asset ~2
    * orders of magnitude smaller than the embeddings), each query
    * precomputes per-subspace dot-product lookup tables, and the
    * candidate scan reads codes only — Σ_m lut[m][code] reconstructs
    * dot(query, decode(codes)), divided by the TRUE stored norms to
    * approximate cosine. The `rerank` best ADC candidates per query
    * (selected by the bounded [[TopKPerKey]] aggregate: O(rerank) state
    * per query, map-side pre-reduction — NOT a full-corpus window sort)
    * join back to the base table for exact-cosine scoring, and the
    * final top-`k` of those is returned. Every stage is map-only or
    * broadcast except the candidate top-R aggregate (whose exchange is
    * ≤ maps × queries × rerank rows).
    *
    * Approximation contract: a true neighbor outside the ADC top-R is
    * lost (quantization error decides R's recall); within the returned
    * rows the cosines and ranking are EXACT.
    *
    * SIZING `rerank` (measured, STATUS r13): R is a
    * per-corpus-size knob, not a constant. On near-uniform vectors —
    * PQ's worst case — the number of corpus points whose ADC noise
    * exceeds the true kth-neighbor gap grows ~linearly in n, so
    * holding R fixed while the corpus grows collapses recall (0.90 at
    * the 20 k tuning-fixture decade → 0.43/0.40 at 200 k/2 M with R = 50);
    * R ∝ n restores it. Concentration does NOT relax the knob — the
    * r15 clustered-fixture measurement read the √n auto budget at
    * 0.36 recall where R = clusterSize read exactly 1.0 (see
    * [[rerankFor]]'s caveat) — so size R at the operating scale AND
    * concentration ([[rerankForMeasured]]) rather than shipping the
    * tuning-scale constant. Since r14 this is
    * ENFORCED, not advisory: a pinned rerank more than [[RerankBand]]×
    * below the calibrated [[rerankFor]] curve throws (conf-gated,
    * [[RerankSizingConfKey]]), and the no-rerank overload derives the
    * budget from the corpus count. */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int, ks: Int, iters: Int, rerank: Int): DataFrame = {
    // the sizing count is the job that fills the lazy barrier
    val (c, n) = Barrier.counted(normed(corpus, idCol, vecCol))
    Guard.check(corpus.sparkSession, RerankSizingConfKey)(
      rerankSizingVerdict(n, k, rerank))
    pqTopKImpl(c, queries, idCol, vecCol, k, m, ks, iters, rerank)
  }

  /** AUTO-SIZED [[pqTopK]]: the rerank budget is derived from the
    * corpus row count ([[rerankFor]]) — the sizing-by-construction
    * path (a caller cannot recreate the measured fixed-R recall
    * collapse through it), concentration-floored since r16
    * ([[pqConcVerdict]]: the √n curve's OTHER measured
    * failure mode — corpus shape, not corpus size). */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int, ks: Int, iters: Int): DataFrame = {
    val (c, n) = Barrier.counted(normed(corpus, idCol, vecCol))
    Guard.check(corpus.sparkSession, PqConcConfKey)(
      pqConcVerdict(c, n, k, "pqTopK"))
    pqTopKImpl(c, queries, idCol, vecCol, k, m, ks, iters, rerankFor(n, k))
  }

  private def pqTopKImpl(c: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      m: Int, ks: Int, iters: Int, rerank: Int): DataFrame = {
    val booksRow = trainedBooksRow(c, "vec_id", "embedding", m, ks, iters)
    pqQueryTail(pqIndexOf(c, booksRow), c,
      normed(queries, idCol, vecCol), booksRow, k, rerank)
  }

  /** The m per-subspace codebooks packed ON THE DRIVER into the single
    * broadcastable row the native expressions consume: books[m] =
    * code-id-ascending array of (code_id, c_emb), subspaces in m order
    * — position order IS id order, the contract
    * [[graft.functions.PqEncode]]/[[graft.functions.PqAdc]] and the
    * oracle rely on. One collect of the (small, immutable) books; the
    * row is a one-partition frame like [[pqTrain]]'s output. */
  private def booksRowOf(books: DataFrame): DataFrame =
    packBooks(books.sparkSession, books.schema("c_emb").nullable,
      books.select(col("m"), col("code_id").cast(LongType), col("c_emb"))
        .collect().toSeq
        .map(r => (r.getInt(0), Cent(r.getLong(1), r.getSeq[Float](2).toArray))))

  /** [[pqTrain]] packed straight into the books row (no collect). */
  private def trainedBooksRow(corpus: DataFrame, idCol: String,
      vecCol: String, m: Int, ks: Int, iters: Int): DataFrame =
    packBooks(corpus.sparkSession, embNullable = false,
      l2Lloyd(corpus, idCol, vecCol, m, ks, iters)._2)

  private def packBooks(spark: SparkSession, embNullable: Boolean,
      books: Seq[(Int, Cent)]): DataFrame = {
    val entry = StructType(Seq(StructField("code_id", LongType),
      StructField("c_emb", ArrayType(FloatType), embNullable)))
    val row = Row(books.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._2).sortBy(_.id).map(c => Row(c.id, c.emb.toSeq))))
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(row), 1), StructType(Seq(
      StructField("books", ArrayType(ArrayType(entry, false), false), nullable = false))))
  }

  private def pqIndexOf(cNormed: DataFrame, booksRow: DataFrame): DataFrame = {
    import graft.functions.PqFunctions
    cNormed.crossJoin(broadcast(booksRow))
      .select(col("vec_id"), col("nrm"),
        PqFunctions.pqEncode(col("books"), col("embedding")).as("codes"))
  }

  /** Encode (id, vec) rows against FROZEN codebooks — the
    * daily-increment verb of a persisted PQ index: one map-only pass,
    * no training, no shuffle. `books` = [[pqTrain]] output (read back
    * from its parquet asset). Output (vec_id, nrm, codes) is the index
    * schema — ~M+12 bytes/row against 4·dim+12 for the embeddings —
    * and parquet-round-trips exactly (ints + the float-derived norm). */
  def pqEncodeIndex(df: DataFrame, books: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    pqIndexOf(normed(df, idCol, vecCol), booksRowOf(books))
  }

  /** ANN over a PREBUILT PQ index (persisted codes + frozen books —
    * [[pqEncodeIndex]] rows from any mix of asset generations and
    * fresh increments): ADC-score the index, bounded top-`rerank` per
    * query, exact re-rank against `base` (the full-vector table, joined
    * only for the ≤ queries × rerank survivor rows). This is [[pqTopK]]
    * minus training/encoding — the query path a production deployment
    * runs per request. */
  def pqTopKFromIndex(index: DataFrame, base: DataFrame, queries: DataFrame,
      books: DataFrame, idCol: String, vecCol: String,
      k: Int, rerank: Int): DataFrame = {
    VectorFunctions.register(queries.sparkSession)
    // n for the sizing check is the BASE corpus row count (the index
    // covers the base table by contract): counting the base is a
    // metadata-only parquet count in the production shape, where
    // counting the index frame could replay the increment's encode.
    // Evaluated inside the check: `off` mode must skip the count job
    // entirely (a computed, non-parquet base would replay its lineage
    // per call)
    Guard.check(queries.sparkSession, RerankSizingConfKey)(
      rerankSizingVerdict(base.count(), k, rerank))
    pqQueryTail(
      index.select(col(idCol).as("vec_id"), col("nrm"), col("codes")),
      normed(base, idCol, vecCol),
      normed(queries, idCol, vecCol), booksRowOf(books), k, rerank)
  }

  /** AUTO-SIZED [[pqTopKFromIndex]]: rerank derived from the base
    * corpus row count ([[rerankFor]]), concentration-floored since
    * r16 (the base table is the corpus whose shape decides the
    * curve's validity — the floor samples it once per call). */
  def pqTopKFromIndex(index: DataFrame, base: DataFrame, queries: DataFrame,
      books: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    VectorFunctions.register(queries.sparkSession)
    val b = normed(base, idCol, vecCol)
    val n = base.count()
    Guard.check(queries.sparkSession, PqConcConfKey)(
      pqConcVerdict(b, n, k, "pqTopKFromIndex"))
    pqQueryTail(
      index.select(col(idCol).as("vec_id"), col("nrm"), col("codes")),
      b, normed(queries, idCol, vecCol), booksRowOf(books), k,
      rerankFor(n, k))
  }

  /** Shared PQ query tail: per-query LUTs (broadcast), ADC scoring of
    * the (vec_id, nrm, codes) index, bounded [[TopKPerKey]] candidate
    * selection, exact-cosine re-rank of the survivors against the
    * normed base table. */
  private def pqQueryTail(index: DataFrame, cNormed: DataFrame,
      queriesNormed: DataFrame, booksRow: DataFrame,
      k: Int, rerank: Int): DataFrame = {
    import graft.functions.PqFunctions
    // the query count fills the lazy barrier; qB is one row per query
    // by construction, so counting it needs no distinct (r18 ADVICE)
    val (qB, nq) = Barrier.counted(queriesNormed.crossJoin(broadcast(booksRow))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"),
        PqFunctions.pqLut(col("books"), col("embedding")).as("lut")))
    val adcCos = PqFunctions.pqAdc(col("lut"), col("codes")) /
      (col("q_nrm") * col("nrm"))
    val scored = index.join(broadcast(qB), col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), adcCos.as("adc"))
    adcSelectRerank(scored,
      qB.select(col("q_id"), col("q_emb"), col("q_nrm")), cNormed, k, rerank, nq)
  }

  /** Ceiling on queries × rerank ENTRIES the heap-based ADC candidate
    * selection may hold per task (conf [[PqHeapSelectMaxKey]], default
    * 2²¹ ≈ 2.1 M ≈ 100 MB/task worst case): [[TopKPerKey]]'s partial
    * state is one (id, score) heap per query PER TASK — every task
    * scans rows of every query, so the aggregation holds queries ×
    * rerank entries in each of the N parallel tasks. The r18 mixture
    * campaign measured the wall this guards: at the 2 M λ-mixture
    * decade the routed measured-rerank budget lands at the at-level
    * population (R ~ λ·n ≈ 10⁵⁻⁶), and 30 queries × R heaps × 32
    * tasks put an 8 GB driver-JVM into a GC death spiral — the r17
    * campaign's ">70 min, killed" 2 M leg reproduced and explained.
    * Past the ceiling the selection switches to a rank-based
    * distributed sort (memory Θ(partition), shuffle n·queries slim
    * rows) and the re-rank join stops broadcasting the
    * queries × R survivor set. */
  val PqHeapSelectMaxKey = "spark.graft.pq.heapselect.max"
  val PqHeapSelectMaxDefault: Long = 1L << 21

  /** Salt count for the sort path's two-phase rank (conf
    * [[PqSortSelectSaltsKey]]): 0 (default) derives it as
    * clamp(⌈4 · shuffle.partitions / queries⌉, 2, 64) — enough
    * (q_id, salt) groups that the phase-1 local rank runs at scan
    * width instead of one task per query (the r18 verdict's
    * parallelism finding: a ~30-query batch ran its selection on 30
    * tasks however wide the cluster), with the 4× overpartition
    * factor measured at the 2 M routed decade (30 q × 1e5 rerank,
    * min-of-2: 22.5 s at 1 salt group/query, 20.7 s at 2, 13.6 s at
    * 8 — group-per-partition balance, not raw group count, is what
    * pays; target/r19_sortsel_2m.log). The 64 cap bounds phase 2's
    * TOTAL survivor volume (≤ 64 · rerank rows per query,
    * corpus-size-free); since r20 phase 2 is a fold tree
    * ([[PqSortSelectFoldKey]]) whose per-task sort is additionally
    * bounded at fold · rerank rows, so the cap prices shuffle volume,
    * not a single-task sort. A positive conf value pins the count. */
  val PqSortSelectSaltsKey = "spark.graft.pq.sortselect.salts"

  /** Fold factor for the sort path's phase-2 rank (conf
    * [[PqSortSelectFoldKey]]): phase 2 reduces the phase-1 salt
    * groups to the global per-query top-`rerank` by merging at most
    * `fold` groups per level (salt → salt mod ⌈s/fold⌉, rank within
    * the merged group, keep `rerank`) until one group remains. Each
    * level's group input is ≤ fold·rerank rows, so no single task
    * ever sorts the full rerank·salts survivor set — the r19 shape
    * (one spillable task per query of ≤ 64·rerank ≈ 6.4 M rows at the
    * cap) becomes log_fold(salts) levels of bounded sorts at
    * (queries × live-groups)-task width. Correctness is the phase-1
    * superset argument applied inductively: a globally-top-`rerank`
    * row has < rerank rows ordered ahead of it in ANY group it lands
    * in, so it survives every level; the final single-group rank is
    * exact, and the (adc desc, n_id) ordering is total per query —
    * byte-identical rows at every fold (spec-pinned alongside the
    * salt pins in DedupSimilaritySpec). Default 8, committed from the
    * r20 A/B at the 10 M synthetic corpus with 4 queries × 1e5 rerank
    * and salts pinned at the 64 cap — the worst committed phase-2
    * shape (few queries: the per-query task cannot fill the machine;
    * the cap: maximum survivor volume): min-wall 55.4 s single-level
    * (fold ≥ salts ≡ the r19 shape) vs 14.5/12.3 s at fold=8 (run +
    * repeat), 12.4 s at fold=4, 17.0 s at fold=2 (the extra levels'
    * shuffles outweigh their smaller sorts), and the derived-salt
    * auto path reads 11.9 s at the default
    * (target/r20_treefold_10m{,_b}.log). Wide batches are untouched
    * by construction: at ≥ 16 queries the derived salt count is ≤ 8,
    * so the tree is a single level — identical to r19. */
  val PqSortSelectFoldKey = "spark.graft.pq.sortselect.fold"
  val PqSortSelectFoldDefault: Int = 8

  /** Bounded ADC-candidate selection + exact re-rank (shared by the PQ
    * and IVFADC paths). Small queries × rerank products (every auto
    * path; the benched s6/s7/s8 geometries): [[TopKPerKey]] keeps the
    * top-`rerank` per query map-side — no shuffle of the scored set —
    * and the survivor pairs broadcast into the re-rank join. Past
    * [[PqHeapSelectMaxKey]] entries (measured-rerank budgets on
    * clustered corpora at scale, R ~ concentrated population): a
    * SALTED two-phase rank selects the same survivors with memory
    * bounded by partition size — phase 1 ranks within (q_id, salt =
    * hash(n_id) mod S) and keeps each group's top-`rerank` (a
    * superset of the global top-`rerank`: any globally-surviving row
    * survives its own salt group), phase 2 folds the salt groups down
    * to the exact global top-`rerank` ≤ `fold` groups at a time
    * ([[PqSortSelectFoldKey]] — r20: no single task sorts the full
    * rerank · S survivor set) — and the re-rank joins by shuffle. Same
    * rows out as the heap path (deterministic (adc desc, n_id)
    * ordering in both phases), different resource shape; the salt
    * restores scan-width parallelism the r18 single-phase
    * Window.partitionBy(q_id) fallback gave up (#queries tasks).
    * `nq` is the (exact or contractual) query-row count, threaded
    * from callers that already hold a barrier'd query frame — the
    * r18 ADVICE finding: counting the qSmall projection here paid a
    * distinct+shuffle job per call on the IVFADC path. */
  private def adcSelectRerank(scored: DataFrame, qSmall: DataFrame,
      cNormed: DataFrame, k: Int, rerank: Int, nq: Long): DataFrame = {
    val spark = scored.sparkSession
    val heapMax = spark.conf.get(PqHeapSelectMaxKey,
      PqHeapSelectMaxDefault.toString).toLong
    if (nq * rerank <= heapMax) {
      // the query table is ≤ queries rows BY CONTRACT — broadcast
      // explicitly (post-aggregate stats are unknown, so the planner
      // otherwise falls back to a sort-merge join of two tiny sides)
      val survivors = TopKPerKey(scored, "q_id", "adc", "n_id", rerank)
        .select(col("q_id").as("s_q_id"), col("n_id"))
        .join(broadcast(qSmall), col("s_q_id") === col("q_id"))
        .select(col("q_id"), col("q_emb"), col("q_nrm"), col("n_id"))
      val cos = VectorFunctions.cosinePre(
        VectorFunctions.dot(col("q_emb"), col("embedding")),
        col("q_nrm"), col("nrm"))
      cNormed.join(broadcast(survivors), col("vec_id") === col("n_id"))
        .select(col("q_id"), col("n_id"), cos.as("cos"))
        .withColumn("rank", row_number().over(rankWindow))
        .filter(col("rank") <= k)
    } else {
      val saltsConf = spark.conf.get(PqSortSelectSaltsKey, "0").toInt
      val shufflePart = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val salts =
        if (saltsConf > 0) saltsConf
        else math.min(64L, math.max(2L,
          (4L * shufflePart + nq - 1) / math.max(1L, nq))).toInt
      val fold = math.max(2, spark.conf.get(PqSortSelectFoldKey,
        PqSortSelectFoldDefault.toString).toInt)
      val saltW = Window.partitionBy(col("q_id"), col("salt"))
        .orderBy(col("adc").desc, col("n_id"))
      var cur = scored
        .withColumn("salt", pmod(xxhash64(col("n_id")), lit(salts.toLong)))
        .withColumn("rk", row_number().over(saltW))
        .filter(col("rk") <= rerank)
        .select(col("q_id"), col("n_id"), col("adc"), col("salt"))
      // phase 2 as a fold tree (see PqSortSelectFoldKey): merge ≤ fold
      // salt groups per level until one remains; each level's rank is
      // over ≤ fold·rerank rows per group, and the survivor invariant
      // (cur ⊇ the global per-query top-rerank) holds inductively
      var live = salts
      while (live > 1) {
        val next = if (live <= fold) 1 else (live + fold - 1) / fold
        cur = cur.withColumn("salt", pmod(col("salt"), lit(next.toLong)))
          .withColumn("rk", row_number().over(saltW))
          .filter(col("rk") <= rerank)
          .select(col("q_id"), col("n_id"), col("adc"), col("salt"))
        live = next
      }
      val pairs = cur.select(col("q_id"), col("n_id"))
      val cos = VectorFunctions.cosinePre(
        VectorFunctions.dot(col("q_emb"), col("embedding")),
        col("q_nrm"), col("nrm"))
      cNormed.join(pairs, col("vec_id") === col("n_id"))
        .join(broadcast(qSmall), "q_id")
        .select(col("q_id"), col("n_id"), cos.as("cos"))
        .withColumn("rank", row_number().over(rankWindow))
        .filter(col("rank") <= k)
    }
  }

  /** IVFADC [Jégou et al. 2011, §IV]: the canonical composition of the
    * coarse quantizer and PQ — the corpus is partitioned into `nCells`
    * L2 cells (trained by the shared L2 Lloyd loop), each vector's
    * RESIDUAL (x − cell centroid) is PQ-encoded, and a query probes
    * only its `nProbe` nearest cells: the candidate scan is pruned
    * nProbe/nCells-fold AND reads only codes. The inner-product
    * estimate decomposes exactly — dot(q, c + decode(codes)) =
    * dot(q, c) + Σ_m lut[m][code_m] — with dot(q, c) computed once per
    * (query, probed cell) and the LUT once per query (residual books
    * are cell-independent). Residuals concentrate near 0, so the same
    * code budget quantizes them better than raw vectors. Exact-cosine
    * re-rank of the top-`rerank` as everywhere in this family; all
    * stages map-only or broadcast except the bounded candidate
    * aggregate. */
  def ivfadcTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int, coarseIters: Int, m: Int, ks: Int, pqIters: Int,
      nProbe: Int, rerank: Int): DataFrame = {
    val (c, n) = Barrier.counted(normed(corpus, idCol, vecCol))
    Guard.check(corpus.sparkSession, ProbeSizingConfKey)(
      probeSizingVerdict(nCells, nProbe))
    Guard.check(corpus.sparkSession, RerankSizingConfKey)(
      rerankSizingVerdict(n, k, rerank))
    ivfadcTopKImpl(c, queries, idCol, vecCol, k, nCells, coarseIters,
      m, ks, pqIters, nProbe, rerank)
  }

  /** AUTO-SIZED [[ivfadcTopK]]: nProbe = [[probeFor]] (half the
    * cells — the measured recall-robust width) and rerank =
    * [[rerankFor]] (the corpus-calibrated √n curve) are both derived —
    * the path a caller gets when they have no operating-scale recall
    * measurement of their own. */
  def ivfadcTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int, coarseIters: Int, m: Int, ks: Int,
      pqIters: Int): DataFrame = {
    val (c, n) = Barrier.counted(normed(corpus, idCol, vecCol))
    Guard.check(corpus.sparkSession, PqConcConfKey)(
      pqConcVerdict(c, n, k, "ivfadcTopK"))
    ivfadcTopKImpl(c, queries, idCol, vecCol, k, nCells, coarseIters,
      m, ks, pqIters, probeFor(nCells), rerankFor(n, k))
  }

  private def ivfadcTopKImpl(c: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int, coarseIters: Int, m: Int, ks: Int, pqIters: Int,
      nProbe: Int, rerank: Int): DataFrame = {
    import graft.functions.PqFunctions
    val (idType, cells) = l2Lloyd(c, "vec_id", "embedding", 1, nCells, coarseIters)
    val coarse = centsFrame(c.sparkSession, "cent_id", idType, CentFields.take(2),
      cells.map { case (_, x) => Row(x.id, x.emb.toSeq) })
    // residual index: (vec_id, cent_id, nrm, codes) — nrm is the TRUE
    // vector norm (cosine denominators), codes quantize the residual
    val res = Barrier(assignCellsL2(c, coarse)
      .join(broadcast(coarse), "cent_id")
      .select(col("vec_id"), col("cent_id"), col("nrm"),
        zip_with(col("embedding"), col("c_emb"), (x, cc) => x - cc)
          .as("embedding")))
    val booksRow = trainedBooksRow(res, "vec_id", "embedding", m, ks, pqIters)
    val index = res.crossJoin(broadcast(booksRow))
      .select(col("vec_id"), col("cent_id"), col("nrm"),
        PqFunctions.pqEncode(col("books"), col("embedding")).as("codes"))
    // query side: top-nProbe cells by ELEMENTWISE L2 (FloatVecL2 — the
    // oracle's exact arithmetic; a norm-expansion would flip near-ties),
    // dot(q, cell) per probed cell, one LUT per query
    val probeW = Window.partitionBy(col("vec_id"))
      .orderBy(col("d2").asc, col("cent_id"))
    val qB = Barrier(normed(queries, idCol, vecCol)
      .join(broadcast(coarse))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cent_id"),
        PqFunctions.vecL2(col("c_emb"), col("embedding")).as("d2"),
        VectorFunctions.dot(col("embedding"), col("c_emb")).as("cell_dot"))
      .withColumn("r", row_number().over(probeW))
      .filter(col("r") <= nProbe)
      .crossJoin(broadcast(booksRow))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cent_id"), col("cell_dot"),
        PqFunctions.pqLut(col("books"), col("embedding")).as("lut")))
    val adcCos = (col("cell_dot") +
      PqFunctions.pqAdc(col("lut"), col("codes"))) /
      (col("q_nrm") * col("nrm"))
    val scored = index.join(broadcast(qB),
        qB("cent_id") === index("cent_id") && col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), adcCos.as("adc"))
    // qB carries nProbe rows per query — barrier the distinct query
    // projection so the dedup shuffle runs ONCE (the pre-r19 shape
    // re-ran it per consumer: one distinct+shuffle job just to count,
    // another under the re-rank join — the r18 ADVICE finding).
    // The count fills that barrier.
    val (qSmall, nq) = Barrier.counted(
      qB.select(col("q_id"), col("q_emb"), col("q_nrm")).distinct())
    adcSelectRerank(scored, qSmall, c, k, rerank, nq)
  }

  /** Shared IVF probe + exact re-rank tail: queries pick their nProbe
    * nearest cells (window top-n over the broadcast centroid table —
    * query sets are small by contract), candidates come from the cell
    * equi-join, exact cosine re-ranks. */
  private def ivfProbe(corpusCells: DataFrame, queriesNormed: DataFrame,
      cents: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val cellCos = VectorFunctions.cosinePre(
      VectorFunctions.dot(col("c_emb"), col("embedding")),
      col("c_nrm"), col("nrm"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cell_cos").desc, col("cent_id"))
    val queryCells = queriesNormed.join(broadcast(cents))
      .select(col("vec_id"), col("embedding"), col("nrm"),
        col("cent_id"), cellCos.as("cell_cos"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") <= nProbe)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"), col("cent_id"))
    val cos = VectorFunctions.cosinePre(
      VectorFunctions.dot(col("q_emb"), col("embedding")),
      col("q_nrm"), col("nrm"))
    corpusCells.join(broadcast(queryCells),
        queryCells("cent_id") === corpusCells("cent_id") &&
          col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id").as("n_id"), cos.as("cos"))
      .distinct() // nProbe cells may repeat a candidate
      .withColumn("rank", row_number().over(rankWindow))
      .filter(col("rank") <= k)
  }
}
