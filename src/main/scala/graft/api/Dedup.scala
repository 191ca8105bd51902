package graft.api

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType,
  StructField, StructType}
import graft.functions.{HashFunctions, MinHashConstants, VectorFunctions}

/** Library-facing deduplication operators: DataFrame in, DataFrame out,
  * caller's column names. The oracled fixture queries
  * ([[graft.operators.DedupQueries]]) are thin bindings of these — the
  * operators themselves are reusable on any input.
  *
  * All candidate generation is banded equi-joins (O(n·bands) shuffled
  * rows); band geometry is the caller's selectivity knob and should
  * grow ~log(n) at cluster scale.
  */
object Dedup extends org.apache.spark.internal.Logging {
  import MinHashConstants.Prime

  /** Exact dedup groups: one row per distinct normalized content, with
    * the minimum id as the keeper and the copy count. */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(graft.functions.TextFunctions.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Shingle-hash projection behind a materialization barrier (see
    * [[Barrier]], conf `spark.graft.barrier`): (id, hs sorted distinct
    * mod-P 3-shingle hashes, nh). */
  def shingled(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    HashFunctions.register(df.sparkSession)
    // r20 A/B note: widening below the shingle kernel was measured and
    // REJECTED (target/r20opt_ab1.log — dd2/dd3/dd6/dd7/dd12/p1 all
    // slower with it: the kernel is ~0.1 s serial here, and the widened
    // barrier turns every downstream guard/band stage into 32 trivial
    // tasks whose scheduling overhead exceeds the saving)
    Barrier(df.select(
      col(idCol).as("doc_id"),
      HashFunctions.shingleHashes(col(textCol)).as("hs"))
      .withColumn("nh", size(col("hs"))))
  }

  private def bandKey(sig: Column, b: Column, rows: Int): Column =
    (0 until rows).foldLeft(lit(0L)) { (acc, i) =>
      (acc * 31 + element_at(sig, (b * rows + i + 1).cast("integer"))) % Prime
    }

  /** Near-duplicate pairs by n-gram Jaccard: MinHash band candidates
    * (bands × rows must equal [[MinHashConstants.K]]=32 signatures),
    * exact-Jaccard verification at `threshold`. Output: (doc_a, doc_b,
    * jac), doc_a < doc_b, each pair once. Banding s-curve midpoint ≈
    * (1/bands)^(1/rows) — pick it below your threshold. */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rows: Int, threshold: Double): DataFrame = {
    require(bands * rows == MinHashConstants.K,
      s"bands*rows must equal ${MinHashConstants.K}")
    jaccardPairsFromShingled(
      shingled(df, idCol, textCol).filter(col("nh") > 0),
      bands, rows, threshold)
  }

  /** [[jaccardPairs]] body over an already-shingled barriered
    * (doc_id, hs, nh) frame — the callee [[jaccardGroups]] reuses on
    * its CONTRACTED representative set (one row per distinct shingle
    * set), where the heap guard below is structurally silent. */
  private def jaccardPairsFromShingled(docs: DataFrame,
      bands: Int, rows: Int, threshold: Double): DataFrame = {
    // Slim band join: only (doc_id, band, bkey) shuffles during candidate
    // generation — the hs arrays would otherwise be copied bands× through
    // the exchange. Candidates dedupe BEFORE verification, so the exact
    // intersect runs once per pair, not once per colliding band.
    // The signature frame gets its own (slim: id + 32 longs) barrier so
    // the budget precheck reads materialized rows and the band explosion
    // never recomputes the K minhashes; it is released as soon as the
    // banded rows are materialized.
    val sigged = Barrier(docs
      .select(col("doc_id"), HashFunctions.minhashSig(col("hs")).as("sig")))
    // r15 guard (the r14 verdict's top task): identical texts ⇒
    // identical minhash signatures ⇒ every band collides AND every
    // pair survives verification at jac = 1.0, with the full hs
    // shingle arrays re-attached per pair — the exact duplicate-heap
    // blowup hammingPairs got guarded against in r14, one signature
    // family over.
    Guard.run(docs.sparkSession, heapPairBudget(sigged, col("sig"),
      "jaccardPairs",
      "Use Dedup.jaccardGroups (contracts to distinct shingle sets " +
        "first — linear in n, heap members never pair-expanded), or " +
        "exact-dedup by fingerprint (Dedup.exactGroups) and near-dup " +
        "only the keepers"))
    val banded = Barrier(sigged
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => bandKey(col("sig"), b, rows))))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey"))
    Barrier.release(sigged)
    val cands = banded.alias("a").join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Re-attach the shingle sets once per surviving candidate side.
    val da = docs.select(col("doc_id"), col("hs").as("hs_a"), col("nh").as("nh_a"))
    val db = docs.select(col("doc_id"), col("hs").as("hs_b"), col("nh").as("nh_b"))
    val inter = HashFunctions.sortedIntersectCount(col("hs_a"), col("hs_b"))
    val jac = inter.cast("double") / (col("nh_a") + col("nh_b") - inter)
    cands.join(da, cands("doc_a") === da("doc_id")).drop("doc_id")
      .join(db, col("doc_b") === db("doc_id")).drop("doc_id")
      .select(col("doc_a"), col("doc_b"), jac.as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Persistable MinHash signature asset for INCREMENTAL dedup: one row
    * per doc with nh > 0 — (doc_id, hs, nh, bkeys), where bkeys(b) is
    * the band-b key of the doc's [[MinHashConstants.K]]-minhash
    * signature (bands × rows must equal K). All columns are plain
    * parquet types (bigint, array&lt;bigint&gt;, bigint, array&lt;bigint&gt;):
    * write this once per corpus generation and feed it back to
    * [[incrementalJaccardPairs]] — the daily increment then never
    * re-shingles or re-pairs the existing corpus. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rows: Int): DataFrame = {
    require(bands * rows == MinHashConstants.K,
      s"bands*rows must equal ${MinHashConstants.K}")
    shingled(df, idCol, textCol).filter(col("nh") > 0)
      .select(col("doc_id"), col("hs"), col("nh"),
        HashFunctions.minhashSig(col("hs")).as("sig"))
      .select(col("doc_id"), col("hs"), col("nh"),
        transform(sequence(lit(0), lit(bands - 1)),
          b => bandKey(col("sig"), b, rows)).as("bkeys"))
  }

  /** dd7 — incremental near-dup: every pair (doc_a, doc_b, jac) with
    * jac ≥ threshold where AT LEAST one side is in `incSigs`
    * (increment×corpus and increment×increment); corpus×corpus is never
    * re-paired. Both inputs come from [[minhashSignatures]] under the
    * same band geometry; increment ids must not collide with corpus ids
    * (an increment is new by definition).
    *
    * Equivalence: a pair survives iff the two docs share a (band, bkey)
    * bucket and verify at jac ≥ threshold — the same candidate geometry
    * and verification as [[jaccardPairs]] — so the output is EXACTLY the
    * inc-touching subset of `jaccardPairs(corpus ∪ inc)`
    * (property-pinned in DedupSimilaritySpec).
    *
    * Scale shape: the probe side of the band join is only the
    * increment's slim (doc_id, band, bkey) rows — O(|inc|·bands). For a
    * daily-sized increment Spark broadcasts that side, so the corpus
    * signature table (the 100 TB asset) is scanned once and never
    * shuffled; comparable-sized inputs degrade gracefully to dd3's
    * shuffled equi-join.
    *
    * `corpusHist` (r16): the [[Asset.pairHistogram]] sidecar (keyed
    * by [[jaccardGuardKeys]]) makes the pair-budget precheck
    * Θ(increment) instead of a second full scan of the corpus asset
    * per call — pass it on every daily/streaming invocation whose
    * asset has been compacted with the deriver. */
  def incrementalJaccardPairs(corpusSigs: DataFrame, incSigs: DataFrame,
      threshold: Double, corpusHist: Option[DataFrame] = None): DataFrame = {
    def explodeBands(sigs: DataFrame): DataFrame = sigs
      .select(col("doc_id"), posexplode(col("bkeys")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bkey")
    // r15 guard: the full band-key ARRAY is the asset's stored stand-in
    // for the minhash signature (equal texts ⇒ equal signatures ⇒ equal
    // bkeys ⇒ every band collides and every pair verifies at jac = 1.0)
    Guard.run(incSigs.sparkSession, incHeapPairBudget(corpusSigs, incSigs,
      col("bkeys"), corpusHist, "incrementalJaccardPairs",
      "Exact-dedup the increment first (Dedup.exactGroups) or contract " +
        "heaps with Dedup.jaccardGroups before pairing"))
    // barrier: the increment's banded rows are probed against the union
    // below, so they would otherwise be derived twice
    val incBanded = Barrier(explodeBands(incSigs))
    val allBanded = incBanded.union(explodeBands(corpusSigs))
    // The inc side probes the union, so inc-inc pairs arrive in both
    // orientations and inc-corpus pairs in one; canonicalize + distinct.
    val cands = incBanded.alias("a").join(allBanded.alias("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    // Shingle sets attach once per surviving candidate side, from either
    // table — same verification tail as jaccardPairs.
    val docs = corpusSigs.select(col("doc_id"), col("hs"), col("nh"))
      .union(incSigs.select(col("doc_id"), col("hs"), col("nh")))
    val da = docs.select(col("doc_id"), col("hs").as("hs_a"), col("nh").as("nh_a"))
    val db = docs.select(col("doc_id"), col("hs").as("hs_b"), col("nh").as("nh_b"))
    val inter = HashFunctions.sortedIntersectCount(col("hs_a"), col("hs_b"))
    val jac = inter.cast("double") / (col("nh_a") + col("nh_b") - inter)
    cands.join(da, cands("doc_a") === da("doc_id")).drop("doc_id")
      .join(db, col("doc_b") === db("doc_id")).drop("doc_id")
      .select(col("doc_a"), col("doc_b"), jac.as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Session conf governing [[hammingPairs]]' candidate-pair budget
    * check: `enforce` (default) throws when the banded self-join's
    * estimated output exceeds [[PairBudgetMaxKey]], `warn` logs and
    * proceeds, `off` skips (also skips the precheck aggregate). */
  val PairBudgetConfKey = "spark.graft.dedup.pairbudget"

  /** Candidate-pair ceiling for the budget check (long). The default
    * 1e8 sits well under the measured wall: the r13 multimodal probe
    * OOM'd a 32-slot/8 g session at Σc² ≈ 6.5×10⁸ intra-bucket pairs
    * (500 k docs whose ahash space saturates at 716 distinct values —
    * mm8's all-pairs form IS quadratic on duplicate-heaped data). */
  val PairBudgetMaxKey = "spark.graft.dedup.pairbudget.max"
  val PairBudgetDefault: Long = 100000000L

  /** Session conf governing [[embeddingPairs]]' candidate-VOLUME
    * check: `enforce` (default) throws when the LSH band join's
    * estimated candidate count exceeds [[CandBudgetMaxKey]], `warn`
    * logs and proceeds, `off` skips. Distinct from
    * [[PairBudgetConfKey]] in SEMANTICS and scale: hammingPairs'
    * budget bounds pairs that SURVIVE to the output (exact-dup heaps
    * — an output/downstream explosion at ~1e8), while LSH candidates
    * are mostly filtered by the exact-cosine verification and cost
    * compute/shuffle linearly — the wall is later (default 1e10
    * ≈ hundreds of GB of candidate shuffle; the r14 probe measured
    * the committed dd5 geometry at 1.8e12 candidates on 2 M rows —
    * DNF territory — growing ×100 per decade at fixed planes). */
  val CandBudgetConfKey = "spark.graft.dedup.candbudget"
  val CandBudgetMaxKey = "spark.graft.dedup.candbudget.max"
  val CandBudgetDefault: Long = 10000000000L

  /** A [[Guard.priced]] budget check: trips when the estimate exceeds
    * the long budget read from `maxKey`, with `msg(estimate, budget)`. */
  private def overBudget(spark: org.apache.spark.sql.SparkSession,
      key: String, maxKey: String, default: Long)(est: => DataFrame)(
      msg: (Double, Long) => String): Guard.Priced =
    Guard.priced(key)(est) { e =>
      val budget = spark.conf.get(maxKey, default.toString).toLong
      if (e > budget) Some(msg(e, budget)) else None
    }

  /** Estimate the LSH band join's candidate volume from the bucket
    * histogram — Σ C(c,2) same-bucket plus, under multi-probe, the
    * Hamming-1 cross-bucket products — checked against
    * [[CandBudgetMaxKey]] per [[CandBudgetConfKey]]. The histogram
    * is one map-side-combined aggregate over the slim banded rows
    * (≤ tables·2^planes result rows), and the probe cross-terms join
    * that tiny histogram against itself `probes` times — trivial next
    * to the join it guards. Candidate volume scales as
    * n²·tables/2^planes (measured, r14 LSH probe): the remedy at
    * corpus scale is planes ~ log n with tables resized per
    * [[graft.api.Similarity.lshTablesFor]], or the PQ/IVF family for
    * low-similarity regimes (see [[embeddingPairs]]' scaladoc). */
  private def lshCandBudget(banded: DataFrame, probes: Int): Guard.Priced =
    overBudget(banded.sparkSession, CandBudgetConfKey, CandBudgetMaxKey,
        CandBudgetDefault) {
      val hist = Barrier(banded.groupBy(col("tbl"), col("sig"))
        .agg(count(lit(1)).cast("double").as("c")))
      val oneShot = hist
        .agg(coalesce(sum(col("c") * (col("c") - 1.0) / 2.0), lit(0.0)).as("one"))
      // all probed flips in ONE union → one aggregate, not `probes`
      if (probes == 0) oneShot
      else {
        val flips = (0 until probes).map(p => hist.select(col("tbl"),
            col("sig").bitwiseXOR(lit(1L << p)).as("sig"), col("c").as("cn")))
          .reduce(_ union _)
        oneShot.crossJoin(hist.join(flips, Seq("tbl", "sig"))
            .agg(coalesce(sum(col("c") * col("cn")), lit(0.0)).as("cross")))
          .select(col("one") + col("cross") / 2.0)
      }
    } { (est, budget) =>
      f"embeddingPairs: the band join would generate ~$est%.3g candidate " +
        s"pairs (> budget $budget, conf $CandBudgetMaxKey) — candidate " +
        "volume grows as n^2*tables/2^planes at a fixed geometry " +
        "(measured r14: 1.8e12 at 2M rows for the 8x6 fixture " +
        "geometry, x100 per decade). Grow planes ~ log(n) and resize " +
        "tables from the measured per-table rate " +
        "(Similarity.lshTablesFor), use the PQ/IVF family for " +
        s"low-similarity search, or set $CandBudgetConfKey=warn|off."
    }

  /** Two-sided [[lshCandBudget]] for [[incrementalEmbeddingPairs]]:
    * the probe join's candidate volume is Σ over (tbl, sig) buckets of
    * c_inc·c_corpus + C(c_inc, 2), plus — under multi-probe, which
    * lives on the INC side only — Σ over probed bit flips of
    * c_inc(sig⊕bit)·c_all(sig) (one-sided probing: no /2). A daily
    * increment is small, so the one-shot terms are usually tiny — the
    * wall this guards is a hot bucket in the corpus ASSET (a saturated
    * signature space at a too-small `planes` geometry): every
    * increment row landing in it drags the whole bucket through the
    * join, day after day. Costs one map-side-combined aggregate over
    * both sides' slim banded rows (the corpus side is one streamed
    * scan of the signature asset's sigs column) — or, with
    * `corpusHist` (the [[Asset.pairHistogram]] sidecar keyed by
    * [[embeddingGuardKeys]]), Θ(increment + histogram) with NO corpus
    * scan: the increment's bucket counts join the persisted corpus
    * bucket counts, with a `+ 1.0` floor standing in for the 0-or-1
    * true copies the c ≥ 2-truncated sidecar cannot see (always
    * conservative, over by ≤ (1+probes)·|inc banded rows|). */
  private def incLshCandBudget(corpusBanded: DataFrame,
      incBanded: DataFrame, probes: Int, corpusHist: Option[DataFrame],
      radius: Int): Guard.Priced =
    overBudget(incBanded.sparkSession, CandBudgetConfKey, CandBudgetMaxKey,
        CandBudgetDefault) {
      // r18: the probe targets are the FULL ≤-radius mask set (1-bit
      // flips at the pre-r18 radius 1; +2-bit/3-bit masks under the
      // asymmetric ladder) — the estimate must cover exactly the buckets
      // the expanded probe join will visit, or an escalated radius could
      // smuggle a hot 2-bits-away bucket past the guard
      val flipMasks = Similarity.probeMasks(probes, radius).drop(1)
      val (oneShot, crossTerms) = corpusHist match {
        case Some(h0) =>
          // Θ(increment): inc-only bucket counts, corpus counts looked up
          // in the sidecar with the +1 floor. The cross-term targets are
          // the FLIPPED buckets — their corpus population must come from
          // the sidecar too (an inc row probing a hot corpus-only bucket
          // is exactly the wall this guards), so flips LEFT-join both the
          // inc counts and the sidecar; a target absent from both gets
          // the floor's cin·1 (conservative, never a miss).
          val h = Barrier(h0.select(col("k.tbl").as("tbl"),
            col("k.sig").as("sig"), col("cc").cast("double").as("hcc")))
          val incAgg = Barrier(incBanded.groupBy(col("tbl"), col("sig"))
            .agg(count(lit(1)).cast("double").as("ci")))
          val ccOf = coalesce(col("hcc"), lit(0.0)) + 1.0
          (incAgg.join(h, Seq("tbl", "sig"), "left")
            .agg(coalesce(sum(ccOf * col("ci") +
              col("ci") * (col("ci") - 1.0) / 2.0), lit(0.0)).as("one")),
            flippedCounts(incAgg, "ci", flipMasks)
              .join(incAgg, Seq("tbl", "sig"), "left")
              .join(h, Seq("tbl", "sig"), "left")
              .agg(coalesce(sum(col("cin") *
                (ccOf + coalesce(col("ci"), lit(0.0)))), lit(0.0)).as("cross")))
        case None =>
          val hist = Barrier(
            corpusBanded.select(col("tbl"), col("sig"), lit(0).as("side"))
              .union(incBanded.select(col("tbl"), col("sig"), lit(1).as("side")))
              .groupBy("tbl", "sig")
              .agg(sum(when(col("side") === 0, 1.0).otherwise(0.0)).as("cc"),
                sum(when(col("side") === 1, 1.0).otherwise(0.0)).as("ci")))
          (hist.agg(coalesce(sum(col("ci") * col("cc") +
              col("ci") * (col("ci") - 1.0) / 2.0), lit(0.0)).as("one")),
            hist.join(flippedCounts(hist, "ci", flipMasks), Seq("tbl", "sig"))
              .agg(coalesce(sum(col("cin") * (col("cc") + col("ci"))),
                lit(0.0)).as("cross")))
      }
      if (probes == 0) oneShot
      else oneShot.crossJoin(crossTerms).select(col("one") + col("cross"))
    } { (est, budget) =>
      f"incrementalEmbeddingPairs: the probe join would generate ~$est%.3g " +
        s"candidate pairs (> budget $budget, conf $CandBudgetMaxKey) — " +
        "a hot bucket in the corpus signature asset drags its whole " +
        "population through the join for every increment row landing " +
        "in it. Re-generate the asset at planes ~ log(n) with tables " +
        "from the measured per-table rate (Similarity.lshTablesFor), " +
        "use the PQ/IVF family for low-similarity search, or set " +
        s"$CandBudgetConfKey=warn|off."
    }

  /** Per-bucket counts re-keyed to every probe-mask flip: one row per
    * (source bucket, mask) at the FLIPPED signature — the probe-target
    * population the incremental guard's cross terms sum over. The mask
    * list ships as a broadcast literal frame (one crossJoin of a
    * counts aggregate against ≤ 1 + C(p,1)+C(p,2)+C(p,3) rows), not a
    * per-mask union — at radius 2–3 the mask set is hundreds wide and
    * a union chain that size is a plan, not a query. */
  private def flippedCounts(counts: DataFrame, cntCol: String,
      masks: Seq[Long]): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    counts.crossJoin(broadcast(masks.toDF("m")))
      .select(col("tbl"), col("sig").bitwiseXOR(col("m")).as("sig"),
        col(cntCol).as("cin"))
  }

  /** Check the GUARANTEED pair output — Σ over exact-signature
    * buckets of C(c, 2), every one of which survives verification
    * (equal signatures come from equal inputs: hamming 0 / jac 1.0) —
    * against [[PairBudgetMaxKey]] per [[PairBudgetConfKey]]: pair
    * output on duplicate-heaped corpora is QUADRATIC (a
    * 10 k-copy image is 5×10⁷ pairs), and no downstream consumer
    * survives what the join emits. Exact-sig heaps — not band-bucket
    * collisions — are the killer the r13 probe measured: random
    * band-bucket collisions at large n stream through the verification
    * filter and vanish, but equal-sig pairs all land in the result
    * (and its distinct). The precheck is one map-side-combined
    * aggregate over the slim keyed rows — trivial next to the join it
    * guards. Double arithmetic: the estimate saturates instead of
    * overflowing (precision is irrelevant at the 1e8 boundary).
    *
    * `key` is the full-signature column equal values of which
    * GUARANTEE a surviving pair: the 64-bit sig for the hamming
    * family, the 32-minhash signature array for the jaccard family
    * (identical texts ⇒ identical signatures ⇒ every band collides
    * AND every pair verifies at jac = 1.0 — the r14 verdict's
    * duplicate-heap mechanism, one signature family over from mm8's
    * measured wall). `remedy` names the contraction verb the caller
    * should compose instead. */
  private def heapPairBudget(docs: DataFrame, key: Column, what: String,
      remedy: String): Guard.Priced =
    overBudget(docs.sparkSession, PairBudgetConfKey, PairBudgetMaxKey,
        PairBudgetDefault) {
      docs.groupBy(key.as("k"))
        .agg(count(lit(1)).cast("double").as("c"))
        .agg(coalesce(sum(col("c") * (col("c") - 1.0) / 2.0), lit(0.0)))
    } { (est, budget) =>
      f"$what: equal-signature heaps alone guarantee ~$est%.3g " +
        s"output pairs (> budget $budget, conf $PairBudgetMaxKey) — the " +
        "quadratic all-pairs regime on duplicate-heaped signatures " +
        "(measured r13: 6.5e8 intra-bucket pairs at 500k docs OOM'd a " +
        s"32-slot/8g session). $remedy, or set " +
        s"$PairBudgetConfKey=warn|off."
    }

  /** Two-sided [[heapPairBudget]] for the INCREMENTAL pair
    * generators: the guaranteed surviving pairs of the probe join are
    * Σ over exact-signature buckets of c_corpus·c_inc + C(c_inc, 2)
    * (inc×corpus plus inc×inc; corpus×corpus is never paired by
    * construction). A duplicate heap ALREADY IN the corpus asset costs
    * nothing until an increment doc lands in it — then every corpus
    * copy pairs with it, which is exactly how a re-crawled boilerplate
    * page detonates a daily run.
    *
    * COST (r16, the r15 verdict's top task): with `corpusHist` — the
    * persisted signature-count sidecar ([[Asset.pairHistogram]])
    * — the precheck aggregates ONLY the increment and joins the slim
    * histogram: Θ(increment + histogram), no corpus scan (the full
    * union aggregate re-read the whole 100 TB-scale asset on every
    * dd7–dd9 call and every streaming micro-batch — doubling the
    * daily path's corpus I/O). Without it, the full aggregate over
    * the union of both sides' slim keyed rows remains the fallback.
    * The sidecar stores only keys with ≥ 2 corpus copies, so a key
    * absent from it has 0 or 1 true copies — modeled as 1 (the
    * `+ 1.0` floor below): the histogram estimate is ALWAYS ≥ the
    * exact one, over by at most Σ c_inc = |increment| pairs.
    *
    * SCOPE (widened by the r19 hamming band, per the r19 ADVICE):
    * the estimate counts EXACT-signature heaps only — the pairs the
    * join GUARANTEES to emit at any distance threshold — so it is a
    * LOWER bound on output, tight for the duplicate-heap detonation
    * it exists to catch. At `maxHamming` ∈ [4, 7] a cluster of
    * near-equal-but-unequal signatures (hamming ≤ 7 pairwise, e.g.
    * re-encodes of one image whose perceptual hashes wobble a few
    * bits) also yields quadratic join output, and this guard cannot
    * see it: those pairs collide on FLIP-ADJACENT piece values, not
    * equal keys. The hamming callers close that gap at maxHamming > 3
    * with a separate piece-collision CANDIDATE estimate
    * ([[hamCandBudget]], r20): the (piece, pval) histogram is
    * bounded at 4·2¹⁶ rows at ANY corpus size, so the flip-adjacent
    * term is priceable there where the full-signature flip
    * enumeration (C(64, ≤ 7) masks) is not. */
  private def incHeapPairBudget(corpus: DataFrame, inc: DataFrame,
      key: Column, corpusHist: Option[DataFrame], what: String,
      remedy: String): Guard.Priced =
    overBudget(inc.sparkSession, PairBudgetConfKey, PairBudgetMaxKey,
        PairBudgetDefault) {
      corpusHist match {
        case Some(hist) =>
          inc.select(key.as("k")).groupBy("k")
            .agg(count(lit(1)).cast("double").as("ci"))
            .join(hist.select(col("k"), col("cc")), Seq("k"), "left")
            .agg(coalesce(sum(
              (coalesce(col("cc").cast("double"), lit(0.0)) + 1.0) * col("ci") +
                col("ci") * (col("ci") - 1.0) / 2.0), lit(0.0)))
        case None =>
          corpus.select(key.as("k"), lit(0).as("side"))
            .union(inc.select(key.as("k"), lit(1).as("side")))
            .groupBy("k")
            .agg(sum(when(col("side") === 0, 1.0).otherwise(0.0)).as("cc"),
              sum(when(col("side") === 1, 1.0).otherwise(0.0)).as("ci"))
            .agg(coalesce(sum(col("cc") * col("ci") +
              col("ci") * (col("ci") - 1.0) / 2.0), lit(0.0)))
      }
    } { (est, budget) =>
      f"$what: equal-signature heaps alone guarantee ~$est%.3g " +
        s"inc-touching output pairs (> budget $budget, conf " +
        s"$PairBudgetMaxKey) — an increment doc landing in a corpus " +
        "duplicate heap pairs with EVERY copy (the r13-measured " +
        s"quadratic regime, incremental form). $remedy, or set " +
        s"$PairBudgetConfKey=warn|off."
    }

  /** Piece-collision CANDIDATE budget for the extended hamming band
    * (maxHamming ∈ [4, 7] — r19 ADVICE, the option it offered beyond
    * a doc note): the pair-output guards above count EXACT-signature
    * heaps — a LOWER bound that goes blind on clusters of near-equal-
    * but-unequal signatures (hamming ≤ 7 pairwise: re-encodes whose
    * perceptual hashes wobble a few bits), whose pairs collide on
    * FLIP-ADJACENT piece values, not equal keys. This guard prices
    * the probe join's physical candidate volume instead:
    * Σ over (piece, pval, mask ∈ {0} ∪ 16 one-bit flips) of
    * cp(piece, pval) · cb(piece, pval ⊕ mask) — an UPPER bound on
    * joined rows (self-matches and the doc_a < doc_b halving are not
    * subtracted; a guard wants the ceiling). Priceable where the
    * full-signature flip enumeration (C(64, ≤7) masks) is not: a
    * (piece, pval) histogram is bounded at 4·2¹⁶ rows at ANY corpus
    * size, so the 17-mask probe expansion tops out at ~4.5 M slim
    * rows and the estimate is two map-side-combined aggregates plus
    * a bounded join. Reuses the LSH family's candidate budget conf
    * ([[CandBudgetConfKey]]/[[CandBudgetMaxKey]]) — the same
    * semantic: rows the banded join materializes before exact
    * verification. `hists` builds the (probe, build) histograms;
    * `partial` marks a build histogram that UNDERcounts
    * (the sidecar path's ≥ 2-copy truncation hides singleton corpus
    * sigs) — the Θ(increment + histogram) daily-path contract is kept
    * at the price of that documented gap, and the message says so. */
  private def hamCandBudget(spark: org.apache.spark.sql.SparkSession,
      what: String, remedy: String, partial: Boolean)(
      hists: => (DataFrame, DataFrame)): Guard.Priced =
    overBudget(spark, CandBudgetConfKey, CandBudgetMaxKey,
        CandBudgetDefault) {
      val (probeHist, buildHist) = hists
      probeHist.select(col("piece"),
          explode(array(col("pval") +:
            (0 until 16).map(b => col("pval").bitwiseXOR(lit(1L << b))): _*))
            .as("pval"),
          col("c").as("cp"))
        .join(buildHist, Seq("piece", "pval"))
        .agg(coalesce(sum(col("cp") * col("c")), lit(0.0)))
    } { (est, budget) =>
      val part = if (!partial) "" else " (an UNDERcount here: the " +
        "sidecar histogram's >=2-copy truncation hides singleton " +
        "corpus sigs, so the true volume is higher still)"
      f"$what: the one-bit piece probe join at the extended " +
        f"hamming band would materialize ~$est%.3g candidate rows$part " +
        s"(> budget $budget, conf $CandBudgetMaxKey) — near-equal " +
        "signature clusters collide on flip-adjacent piece values the " +
        "exact-heap pair guard cannot see. At this signature density " +
        "the h >= 4 probe join is quadratic-shaped; " +
        s"$remedy, or set $CandBudgetConfKey=warn|off."
    }

  /** (piece, pval) histogram of slim piece rows — bounded at 4·2¹⁶
    * rows at any corpus size (the property [[hamCandBudget]]
    * prices with). */
  private def pieceHistOf(pieces: DataFrame): DataFrame =
    pieces.groupBy(col("piece"), col("pval"))
      .agg(count(lit(1)).cast("double").as("c"))

  /** The Hamming family's distance wall and its ladder (r18 verdict
    * item #4 — "does the dd9 radius hole exist here?"): NO for
    * hamming ≤ 3 — unlike hyperplane LSH, whose per-table collision
    * is a Bernoulli in the pair's angle (the model-recall hole dd9's
    * ladder fixes), the 16-bit-piece banding is DETERMINISTIC:
    * h ≤ 3 differing bits across 4 pieces leaves ≥ 1 piece with 0
    * differing bits (pigeonhole), so the piece equi-join's recall is
    * exactly 1.0 at every corpus size — there is no radius to buy
    * back. The REAL gap was the hard wall at 3: realistic 64-bit
    * perceptual-hash near-dup thresholds run past it (pHash/aHash
    * practice commonly accepts distance ≤ 10), and the family
    * refused them outright. The same pigeonhole extends one rung:
    * h ≤ 7 leaves ≥ 1 piece with ≤ 1 differing bit (4 pieces × ≥ 2
    * would need ≥ 8), so probing each PROBE-side piece value at its
    * 16 one-bit flips (+ itself — 17 masks, [[piecesProbed]]) is
    * complete for h ≤ 7, at 17× the probe side's slim piece rows
    * and ZERO touch to the build side (the incremental verb's corpus
    * asset). Past 7 the next rung needs 2-bit piece masks (137/piece,
    * complete to h ≤ 11) — ~8× the probe volume again; at that
    * distance band the signature is no longer a near-dup sketch and
    * the embedding family is the honest tool, so the wall moves to 7
    * and fails loud. */
  private[api] val MaxPieceHamming = 7

  /** Probe-side piece rows for `maxHamming`: exact (piece, pval) rows
    * at h ≤ 3 (pigeonhole: some piece matches exactly), plus the 16
    * one-bit flips of each piece value at 4 ≤ h ≤ 7 (some piece is
    * within 1 bit). One-sided by symmetry: piece values within 1 bit
    * of each other see each other's flip sets. */
  private def piecesProbed(pieces: DataFrame, maxHamming: Int): DataFrame =
    if (maxHamming <= 3) pieces
    else pieces.select(col("doc_id"), col("sig"), col("piece"),
      explode(array(col("pval") +:
        (0 until 16).map(b => col("pval").bitwiseXOR(lit(1L << b))): _*))
        .as("pval"))

  /** Hamming-distance near-dup pairs over PRECOMPUTED 64-bit signatures
    * (SimHash, perceptual image hashes, any 64-bit sketch):
    * pigeonhole-complete 16-bit piece banding — hamming ≤ 3 implies at
    * least one of the 4 pieces is identical, so an equi-join on
    * (piece_idx, piece_value) finds ALL qualifying pairs with
    * O(n·4) shuffled rows at any corpus size. `maxHamming` ∈ [4, 7]
    * (r19) probes each left-side piece at its 16 one-bit flips —
    * complete by the same pigeonhole ([[MaxPieceHamming]]), candidate
    * volume 17× the slim probe rows, exact `bit_count` verification
    * unchanged. Output: (doc_a, doc_b, hamming), doc_a < doc_b, each
    * pair once.
    *
    * PAIR-OUTPUT caveat (guarded since r14, [[PairBudgetConfKey]]):
    * shuffled INPUT is linear, but the join's OUTPUT is Σ C(c, 2) over
    * band buckets — quadratic when many rows share a signature (exact
    * duplicate heaps: re-crawled images, boilerplate). The budget
    * precheck throws with the estimate before the join runs; the
    * scale-shaped form for such corpora is [[hammingGroups]].
    *
    * PROBE-SIDE choice at maxHamming ≥ 4 (r19 verdict item #4): the
    * 17× expansion is ONE-sided by symmetry (piece values within one
    * bit see each other's flip sets), so it should land on the
    * SMALLER relation. In this self-join form both sides are the full
    * corpus — there is no smaller side to pick, and the expansion
    * pays 17× n·4 probe rows; [[hammingGroups]] is the scale form at
    * h ≥ 4 (its probes run over DISTINCT signatures only — ≤ the
    * smaller of any framing — and members are never pair-expanded),
    * and [[incrementalHammingPairs]] already probes the increment.
    * At h ≥ 4 the flip-adjacent candidate volume is additionally
    * priced by [[hamCandBudget]] (r19 ADVICE: near-equal
    * signature clusters are invisible to the exact-heap pair guard),
    * one bounded aggregate before the join runs. */
  def hammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= MaxPieceHamming,
      s"16-bit piece banding with 1-bit probes is complete only for " +
        s"hamming <= $MaxPieceHamming (got $maxHamming); past that " +
        "band the signature is not a near-dup sketch — use the " +
        "embedding family (Dedup.embeddingPairs)")
    // barrier: both sides of the self-join re-derive the signature
    // input — without it the (possibly expensive) signature computation
    // runs twice per row (for mm8 that is a full image decode per side;
    // the broadcast side gets no exchange Spark could reuse)
    val docs = Barrier(
      sigs.select(col(idCol).as("doc_id"), col(sigCol).as("sig")))
    val pieces = docs.select(
        col("doc_id"), col("sig"),
        posexplode(array((0 until 4).map(i =>
          shiftright(col("sig"), 16 * i).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "piece").withColumnRenamed("col", "pval")
    // the pair guard and (at the extended band) the candidate guard
    // evaluate in ONE fused precheck job
    val candGuard = if (maxHamming <= 3) Nil else Seq(
      hamCandBudget(sigs.sparkSession, "hammingPairs",
        "Use Dedup.hammingGroups (the 17x probe expansion then runs " +
          "over DISTINCT signatures) or tighten maxHamming to <= 3",
        partial = false) {
        // both sides of the candidate estimate read one histogram — a
        // barrier keeps the (possibly expensive) signature input from
        // being aggregated twice
        val hist = Barrier(pieceHistOf(pieces))
        (hist, hist)
      })
    Guard.run(sigs.sparkSession, heapPairBudget(docs, col("sig"),
      "hammingPairs",
      "Use Dedup.hammingGroups (contracts to distinct signatures " +
        "first — linear in n, members never pair-expanded)") +: candGuard: _*)
    val a = piecesProbed(pieces, maxHamming).alias("a")
    val b = pieces.alias("b")
    val hamming = bit_count(col("a.sig").bitwiseXOR(col("b.sig")))
    a.join(b,
        col("a.piece") === col("b.piece") && col("a.pval") === col("b.pval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Hamming duplicate GROUPS via exact-signature contraction — the
    * scale-shaped composition of [[hammingPairs]] + [[duplicateGroups]]
    * for corpora where many rows share one signature (re-crawled
    * images, boilerplate pages — and the r13 mm probe's measured wall:
    * the synthetic image fixture saturates at 716 distinct ahash
    * values at EVERY corpus size, so all-pairs output grows
    * quadratically — 6.5×10⁸ intra-bucket pairs at 500 k docs OOM'd
    * the probe). Output ≡ `duplicateGroups(hammingPairs(sigs))` —
    * (doc_id, group_id = min doc id of the component) for every member
    * of every component with ≥ 2 members (property-pinned in
    * DedupSimilaritySpec) — but the work is linear in n:
    *
    *  - contract to DISTINCT signatures (one pass, map-side combine);
    *  - band + pair over the contracted table only (≤ distinct-sig
    *    rows — 716² candidate pairs instead of n²);
    *  - connected components over the SIG graph (the dd10 contraction
    *    argument: a fixpoint over ≤ distinct-sig nodes, never members);
    *  - label members through one sig→group join (AQE picks broadcast
    *    when the contracted table is small; no forced hint — the
    *    distinct-sig count is corpus-dependent).
    *
    * Member-level pairs are never materialized: a 10 k-copy image is
    * 10 k rows here, not 5×10⁷ pairs. */
  def hammingGroups(sigs: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3): DataFrame = {
    val docs = Barrier(
      sigs.select(col(idCol).as("doc_id"), col(sigCol).as("sig")))
    val perSig = Barrier(docs.groupBy("sig")
      .agg(count(lit(1)).as("n_members"), min("doc_id").as("min_doc")))
    val sigPairs = hammingPairs(
      perSig.select(col("sig").as("s_id"), col("sig")), "s_id", "sig",
      maxHamming)
    val sigComp = duplicateGroups(sigPairs, "doc_a", "doc_b")
      .select(col("doc_id").as("sig"), col("group_id").as("gsig"))
    val labeled = perSig.join(sigComp, Seq("sig"), "left")
      .withColumn("gsig", coalesce(col("gsig"), col("sig")))
    val comp = labeled.groupBy("gsig")
      .agg(sum("n_members").as("c_members"), min("min_doc").as("group_id"))
    val keep = labeled.join(comp, "gsig")
      .filter(col("c_members") >= 2)
      .select(col("sig"), col("group_id"))
    docs.join(keep, "sig").select(col("doc_id"), col("group_id"))
  }

  /** Jaccard duplicate GROUPS via exact-shingle-set contraction — the
    * [[hammingGroups]] analogue for the MinHash text family (r14
    * verdict task #1's compose pattern), and the verb the
    * [[jaccardPairs]] pair-budget guard points at. Output ≡
    * `duplicateGroups(jaccardPairs(df, …))` — (doc_id, group_id = min
    * doc id of the component) for every member of every component with
    * ≥ 2 members (property-pinned in DedupSimilaritySpec) — but the
    * work is linear in n on duplicate-heaped corpora (boilerplate,
    * re-crawls — exactly where jaccardPairs' output is quadratic):
    *
    *  - contract to DISTINCT shingle sets (one groupBy on the hs
    *    array; equal texts always contract, as do distinct texts with
    *    equal 3-shingle sets — which are jac = 1.0 duplicates anyway);
    *  - band + verify over one representative per distinct set
    *    (threshold ≤ 1 keeps every heap internally connected at
    *    jac = 1.0, so contraction loses no component structure);
    *  - connected components over the REPRESENTATIVE graph;
    *  - label members back through one hs-keyed join (heap members
    *    are never pair-expanded: a 10 k-copy boilerplate page is 10 k
    *    rows here, not 5×10⁷ pairs). */
  def jaccardGroups(df: DataFrame, idCol: String, textCol: String,
      bands: Int, rows: Int, threshold: Double): DataFrame = {
    require(bands * rows == MinHashConstants.K,
      s"bands*rows must equal ${MinHashConstants.K}")
    require(threshold <= 1.0,
      s"threshold must be <= 1.0 (jaccard is bounded), got $threshold")
    val docs = shingled(df, idCol, textCol).filter(col("nh") > 0)
    val perSet = Barrier(docs.groupBy("hs")
      .agg(count(lit(1)).as("n_members"), min("doc_id").as("min_doc")))
    val reps = perSet.select(col("min_doc").as("doc_id"), col("hs"),
      size(col("hs")).as("nh"))
    val repPairs = jaccardPairsFromShingled(reps, bands, rows, threshold)
    val comp = duplicateGroups(repPairs, "doc_a", "doc_b")
      .select(col("doc_id").as("min_doc"), col("group_id").as("grep"))
    val labeled = perSet.join(comp, Seq("min_doc"), "left")
      .withColumn("grep", coalesce(col("grep"), col("min_doc")))
    val cgroups = labeled.groupBy("grep")
      .agg(sum("n_members").as("c_members"), min("min_doc").as("group_id"))
    val keep = labeled.join(cgroups, "grep")
      .filter(col("c_members") >= 2)
      .select(col("hs"), col("group_id"))
    docs.join(keep, "hs").select(col("doc_id"), col("group_id"))
  }

  /** dd8 — incremental Hamming near-dup over PRECOMPUTED 64-bit
    * signatures: pairs (doc_a, doc_b, hamming) with hamming ≤
    * maxHamming where AT LEAST one side is in `incSigs`. The corpus
    * side is the persisted (id, sig) asset — SimHash for text,
    * perceptual average-hash for images (mm8) — so the daily image or
    * text increment dedups against the corpus without re-pairing it.
    * Same pigeonhole-complete 16-bit-piece banding as [[hammingPairs]];
    * output ≡ the inc-touching subset of `hammingPairs(corpus ∪ inc)`
    * (property-pinned in DedupSimilaritySpec). Only the increment's
    * 4 piece rows per doc probe; a daily-sized increment broadcasts,
    * leaving the corpus scan shuffle-free.
    *
    * `maxHamming` ∈ [4, 7] (r19) is the family's asymmetric ladder in
    * the dd9 sense, with a stronger guarantee: the increment side's
    * piece rows expand to their 16 one-bit flips ([[piecesProbed]] —
    * 17× the increment's slim rows, the corpus signature asset
    * untouched), and completeness at h ≤ 7 is DETERMINISTIC
    * (pigeonhole, [[MaxPieceHamming]]) where dd9's escalation buys
    * model recall. Exact `bit_count` verification unchanged. */
  def incrementalHammingPairs(corpusSigs: DataFrame, incSigs: DataFrame,
      idCol: String, sigCol: String, maxHamming: Int = 3,
      corpusHist: Option[DataFrame] = None): DataFrame = {
    require(maxHamming <= MaxPieceHamming,
      s"16-bit piece banding with 1-bit probes is complete only for " +
        s"hamming <= $MaxPieceHamming (got $maxHamming); past that " +
        "band the signature is not a near-dup sketch — use the " +
        "embedding family (Dedup.incrementalEmbeddingPairs)")
    def pieces(sigs: DataFrame): DataFrame = sigs
      .select(col(idCol).as("doc_id"), col(sigCol).as("sig"))
      .select(col("doc_id"), col("sig"),
        posexplode(array((0 until 4).map(i =>
          shiftright(col("sig"), 16 * i).bitwiseAND(0xFFFFL)): _*)))
      .withColumnRenamed("pos", "piece").withColumnRenamed("col", "pval")
    // barrier: the increment's pieces are probed against the union below
    // AND feed both guards' increment aggregates, so the (possibly
    // expensive) signature computation would otherwise run 3x per
    // increment row
    val incPieces = Barrier(pieces(incSigs))
    // r20: the extended band's NO-SIDECAR path reads the corpus pieces
    // up to three times (pair-guard fallback scan + candidate histogram
    // + the join's build side) — barrier them so an EXPENSIVE signature
    // input (simhash over text, perceptual hash over decoded images)
    // computes once: slim (id, sig, piece, pval) rows are far cheaper
    // to materialize than to re-derive (measured r20: dd13's bench row
    // paid ~1.6x for the triple derivation). The sidecar path never
    // scans the corpus and skips the barrier; guard mode `off` skips
    // it too (nothing would read it twice).
    val guardedFallback = maxHamming > 3 && corpusHist.isEmpty &&
      Guard.mode(corpusSigs.sparkSession, CandBudgetConfKey) != "off"
    val corpusPieces =
      if (guardedFallback) Barrier(pieces(corpusSigs)) else pieces(corpusSigs)
    val allPieces = incPieces.union(corpusPieces)
    // one keyed (doc_id, sig) row per doc out of the piece frames —
    // the guards read these so they hit the barriers above instead of
    // re-deriving the signature column
    def keyed(p: DataFrame): DataFrame =
      p.filter(col("piece") === 0).select(col("doc_id"), col("sig"))
    // r15 guard: two-sided exact-signature heap estimate (an increment
    // image landing in a corpus duplicate heap pairs with every copy);
    // r16: Θ(increment) when the hammingGuardKeys sidecar is passed.
    // r20 (r19 ADVICE): at the extended band, ALSO price the
    // flip-adjacent candidate volume the exact-heap pair guard cannot
    // see. Probe histogram is Θ(increment); the build histogram is the
    // sidecar's heap sigs exploded to weighted piece rows when the
    // sidecar is present (Θ(histogram) — the daily path's
    // no-corpus-scan contract kept; its >= 2-copy truncation makes
    // the estimate partial, which the failure message says) or one
    // corpus-scan aggregate otherwise (the same cost shape as the
    // pair guard's own fallback).
    // r21 (r20 verdict item 3 — dd13 paid ~0.5 s/run re-pricing an
    // unchanged corpus): BOTH guards' estimates evaluate in ONE fused
    // job over the shared piece barriers, instead of a
    // barrier + head job per guard — at the extended band that is 1
    // precheck job where r20 ran 3 (incHist barrier + 2 heads). The
    // incHist barrier is kept ONLY on the sidecar path, where the
    // build histogram unions the probe histogram (two reads in the
    // fused job); the fallback path reads each histogram once.
    val spark = corpusSigs.sparkSession
    val candGuard = if (maxHamming <= 3) Nil else Seq(
      hamCandBudget(spark, "incrementalHammingPairs",
        "Contract the corpus heaps with Dedup.hammingGroups " +
          "(persist the contracted signature asset), exact-dedup the " +
          "increment first, or tighten maxHamming to <= 3",
        partial = corpusHist.isDefined) {
        corpusHist match {
          case Some(h) =>
            val incHist = Barrier(pieceHistOf(incPieces))
            val corpusPieceHist = h.select(col("k").as("sig"),
                col("cc").cast("double").as("cc"))
              .select(col("cc"), posexplode(array((0 until 4).map(i =>
                shiftright(col("sig"), 16 * i).bitwiseAND(0xFFFFL)): _*)))
              .withColumnRenamed("pos", "piece")
              .withColumnRenamed("col", "pval")
              .groupBy(col("piece"), col("pval"))
              .agg(sum(col("cc")).as("c"))
            // split (piece, pval) keys across the two sides sum
            // linearly through the estimate's Σ cp·cb — no re-aggregate
            (incHist, corpusPieceHist.union(incHist))
          case None => (pieceHistOf(incPieces), pieceHistOf(allPieces))
        }
      })
    Guard.run(spark, incHeapPairBudget(keyed(corpusPieces), keyed(incPieces),
      col("sig"), corpusHist, "incrementalHammingPairs",
      "Contract the corpus heaps with Dedup.hammingGroups " +
        "(persist the contracted signature asset) or exact-dedup the " +
        "increment first") +: candGuard: _*)
    val hamming = bit_count(col("a.sig").bitwiseXOR(col("b.sig")))
    // inc probes the union: inc-inc pairs arrive in both orientations,
    // inc-corpus in one; canonicalize + distinct (hamming is symmetric
    // — and so is piece-value 1-bit adjacency, which keeps the
    // maxHamming > 3 probe expansion one-sided-complete)
    piecesProbed(incPieces, maxHamming).alias("a").join(allPieces.alias("b"),
        col("a.piece") === col("b.piece") && col("a.pval") === col("b.pval") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"),
        hamming.as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SimHash near-dup pairs: fused 64-bit text signature +
    * [[hammingPairs]] banding. Output: (doc_a, doc_b, hamming). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    HashFunctions.register(df.sparkSession)
    // r20 A/B note: widening below the simhash kernel measured and
    // REJECTED (target/r20opt_ab1.log — dd4 slower: ~0.1 s of serial
    // kernel saved, more lost to 32-task trivial piece-join stages)
    hammingPairs(
      df.select(col(idCol).as("doc_id"),
        HashFunctions.simhashText(col(textCol)).as("sig")),
      "doc_id", "sig", maxHamming)
  }

  /** Embedding near-dup pairs: hyperplane-LSH band candidates, exact
    * cosine verification. Output: (vec_a, vec_b, cos).
    *
    * `probes` enables multi-probe LSH: the probe side of the band join
    * also visits that many Hamming-1 neighbor buckets per table (bit p
    * flipped, p < probes), finding every pair whose table signatures
    * differ in ≤1 of the probed bits. Hamming-1 adjacency is symmetric,
    * so expanding ONE side of the self-join is complete. Candidates stay
    * O(n·tables·(1+probes)) — recall at the low-similarity end grows
    * ~linearly in probes without adding hash tables (each of which
    * would re-shuffle the corpus).
    *
    * SIZING at corpus scale (measured, r14 LSH recall probe — three
    * decades to 2 M vectors): candidate-generation recall is
    * SCALE-FREE (a collision is a per-pair Bernoulli in the pair's
    * angle — 0.94 at the committed 8×6 geometry at every decade; the
    * PQ fixed-R collapse has no analogue here), but candidate VOLUME
    * grows as n²·tables/2^planes (measured ×100 per decade —
    * 1.8×10¹² at 2 M rows at the committed geometry). The documented
    * planes ~ log(n) discipline controls volume at a measured recall
    * price (0.94 → 0.61 → 0.26 at planes 6/9/12), compensated by
    * tables per [[Similarity.lshTablesFor]] (T*(0.9) = 7/20/62 —
    * from the scale-free measured per-table rate). For
    * LOW-similarity thresholds (≈0.4, this fixture's regime) the
    * rate decays faster than 2^planes prunes, so at corpus scale
    * banded LSH cannot hold both linear volume and 0.9 recall there:
    * it is the HIGH-similarity near-dup tool; use the PQ/IVF family
    * for low-similarity search. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
      tables: Int, planes: Int, threshold: Double, probes: Int = 0): DataFrame = {
    require(probes >= 0 && probes <= planes,
      s"probes must be in [0, planes=$planes], got $probes")
    // pinned-geometry MODEL recall, no job: 1-(1-rate)^tables at the
    // closed-form per-pair rate; pairs above the threshold collide at a
    // higher rate, so the check is conservative for them
    Guard.check(df.sparkSession, Similarity.LshSizingConfKey) {
      val modelRecall = 1.0 - math.pow(
        1.0 - Similarity.lshPerTableRate(threshold, planes, probes), tables)
      if (modelRecall >= Similarity.LshRecallFloor) None
      else Some(f"embeddingPairs geometry ${tables}x$planes " +
        f"(probes=$probes) has model recall $modelRecall%.3f at the " +
        f"$threshold verification threshold — below the " +
        f"${Similarity.LshRecallFloor} collapse floor: most qualifying " +
        "pairs are expected MISSED (the r14 probe measured a committed " +
        "one-shot geometry at 1-7% recall on diffuse corpora). Use the " +
        "auto-sized overload (threshold only), size tables from " +
        "Similarity.lshTablesFor at a measured or modeled per-table " +
        "rate (Similarity.lshPerTableRate), or set " +
        s"${Similarity.LshSizingConfKey}=warn|off.")
    }
    VectorFunctions.register(df.sparkSession)
    // r20 A/B note: widening below this projection (the full e frame)
    // measured MIXED (−0.5 s on one quiet-window A/B, +0.3–0.7 under
    // host steal — the widened band join's min-pass delay factors read
    // 1.5–1.8 vs 1.09–1.12 unwidened,
    // target/r20opt_bench_opt_{c..f}.json) and was reverted.
    val e = df
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
        VectorFunctions.norm(col(vecCol)).as("nrm"))
    // Same slim-candidate shape as jaccardPairs: only (vec_id, tbl, sig)
    // shuffles through the band join; embeddings attach once per pair.
    // barrier the slim (vec_id, tbl, sig) rows: the probe and build
    // sides of the band join both re-derive `tagged`, which would
    // otherwise run the tables×planes hyperplane hashing twice per
    // vector.
    // r21 (verdict item 7): widen the SLIM barrier itself — the r20
    // StageProbe re-attribution put dd5's wall at 42% in the ONE-task
    // candidate-generation stage above this barrier (1.09 s serial,
    // 7.7 MB of candidate shuffle written by one core); the widen
    // moves only the (vec_id, tbl, sig) rows, not the embeddings, and
    // the probe-side Generate + band join then run core-wide.
    val tagged = Scan.widen(Barrier(e.select(col("vec_id"),
        posexplode(VectorFunctions.lshSignatures(col("embedding"), tables, planes)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "sig")),
      col("vec_id"))
    Guard.run(df.sparkSession, lshCandBudget(tagged, probes))
    val probed =
      if (probes == 0) tagged
      else tagged.select(col("vec_id"), col("tbl"),
        explode(array(col("sig") +:
          (0 until probes).map(p => col("sig").bitwiseXOR(lit(1L << p))): _*)).as("sig"))
    val cands = probed.alias("a").join(tagged.alias("b"),
        col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val ea = e.select(col("vec_id"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val eb = e.select(col("vec_id"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val cos = VectorFunctions.cosinePre(
      VectorFunctions.dot(col("emb_a"), col("emb_b")), col("nrm_a"), col("nrm_b"))
    cands.join(ea, cands("vec_a") === ea("vec_id")).drop("vec_id")
      .join(eb, col("vec_b") === eb("vec_id")).drop("vec_id")
      .select(col("vec_a"), col("vec_b"), cos.as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** AUTO-SIZED [[embeddingPairs]] (r14 verdict task #5): the whole
    * (tables, planes, probes) geometry is derived from the corpus row
    * count and the caller's own `threshold` via
    * [[Similarity.lshGeometryFor]] — planes = ⌈log₂ n⌉ keeps candidate
    * volume linear by construction, full multi-probe buys recall on
    * the probe side, tables come from the closed-form per-table rate
    * at the threshold boundary (validated against the r14 measured
    * rates, conservative side). A threshold/scale combination banded
    * LSH cannot hold fails loud naming the PQ/IVF family — the caller
    * cannot reconstruct the measured volume wall or the one-shot
    * recall collapse through this path. The count is one
    * metadata-only job on a parquet-backed frame. */
  def embeddingPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // maxRadius = 1: the pair generator's self-join collides exact
    // banded buckets — the probe-radius axis is a QUERY-side lshTopK
    // capability (masks expand the query signature), so a geometry the
    // calculator could only hold at radius >= 2 must fail toward the
    // PQ family here rather than silently run at radius-1 recall
    val g = Similarity.lshGeometryFor(df.count(), threshold,
      df.sparkSession, maxRadius = 1)
    embeddingPairs(df, idCol, vecCol, g.tables, g.planes, threshold, g.probes)
  }

  /** Persistable hyperplane-LSH signature asset for INCREMENTAL
    * embedding dedup: one row per vector — (vec_id, embedding, nrm,
    * sigs), where sigs(t) is the table-t signature. Plain parquet
    * types; write once per corpus generation and feed back to
    * [[incrementalEmbeddingPairs]]. */
  def lshSignatureTable(df: DataFrame, idCol: String, vecCol: String,
      tables: Int, planes: Int): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    // r20 A/B note: widening here measured and REJECTED (dd9 slower,
    // target/r20opt_ab1.log — the probe side is increment-sized)
    df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"),
      VectorFunctions.norm(col(vecCol)).as("nrm"),
      VectorFunctions.lshSignatures(col(vecCol), tables, planes).as("sigs"))
  }

  /** dd9 — incremental embedding near-dup: pairs (vec_a, vec_b, cos)
    * with cos ≥ threshold where AT LEAST one side is in `incSigs`;
    * corpus×corpus is never re-paired. Both inputs come from
    * [[lshSignatureTable]] under the same (tables, planes) geometry.
    *
    * Multi-probe lives on the increment side only — signature-XOR
    * adjacency is symmetric, so probing one side finds every pair
    * whose table signatures differ in ≤ `radius` probed bits, the
    * same recall surface symmetric probing would buy (at radius 1,
    * [[embeddingPairs]]' exact band condition at equal probes).
    * Output ≡ the inc-touching subset of `embeddingPairs(corpus ∪
    * inc)` (property-pinned in DedupSimilaritySpec). A daily-sized
    * increment's slim (vec_id, tbl, sig) probe rows broadcast; the
    * corpus signature asset is scanned once, never shuffled.
    *
    * `radius` (default 1, the pre-r18 contract exactly) expands the
    * increment side's probe set to every ≤-radius Hamming mask
    * ([[Similarity.probeMasks]]) — the r17 verdict's asymmetric
    * ladder: the increment side is query-shaped like [[Similarity
    * .lshTopK]]'s probe side, so a mid-concentration corpus whose
    * radius-1 model recall cannot hold the target probes at radius
    * 2–3 WITHOUT touching the corpus asset (no re-band, no
    * re-shuffle; candidates are a superset of radius 1, and the exact
    * cos ≥ threshold verify is unchanged). Size it with
    * [[Similarity.lshIncRadiusFor]] or use the (tables, planes)
    * auto overload below.
    *
    * `probes` must not exceed the `planes` of the asset's geometry
    * (unknowable from the signatures themselves, so not `require`-able
    * here): bits ≥ planes are always 0 in real signatures, so probing
    * them can't match anything — it only wastes candidate rows. */
  def incrementalEmbeddingPairs(corpusSigs: DataFrame, incSigs: DataFrame,
      threshold: Double, probes: Int = 0,
      corpusHist: Option[DataFrame] = None, radius: Int = 1): DataFrame = {
    require(probes >= 0, s"probes must be non-negative, got $probes")
    require(radius >= 1 && radius <= Similarity.MaxProbeRadius,
      s"radius must be in [1, ${Similarity.MaxProbeRadius}], got $radius")
    def banded(sigs: DataFrame): DataFrame = sigs
      .select(col("vec_id"), posexplode(col("sigs")))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "sig")
    val incBanded = Barrier(banded(incSigs))
    // r15 guard: candidate-volume precheck, two-sided (the r14
    // embeddingPairs guard extended to the incremental generator);
    // r16: Θ(increment) when the embeddingGuardKeys sidecar is passed;
    // r18: cross terms cover the full ≤-radius probe-mask set
    Guard.run(incSigs.sparkSession, incLshCandBudget(banded(corpusSigs),
      incBanded, probes, corpusHist, radius))
    val probed =
      if (probes == 0) incBanded
      else incBanded.select(col("vec_id"), col("tbl"),
        explode(array(Similarity.probeMasks(probes, radius)
          .map(m => col("sig").bitwiseXOR(lit(m))): _*)).as("sig"))
    val allBanded = incBanded.union(banded(corpusSigs))
    val cands = probed.alias("a").join(allBanded.alias("b"),
        col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"))
      .distinct()
    val e = corpusSigs.select(col("vec_id"), col("embedding"), col("nrm"))
      .union(incSigs.select(col("vec_id"), col("embedding"), col("nrm")))
    val ea = e.select(col("vec_id"), col("embedding").as("emb_a"), col("nrm").as("nrm_a"))
    val eb = e.select(col("vec_id"), col("embedding").as("emb_b"), col("nrm").as("nrm_b"))
    val cos = VectorFunctions.cosinePre(
      VectorFunctions.dot(col("emb_a"), col("emb_b")), col("nrm_a"), col("nrm_b"))
    cands.join(ea, cands("vec_a") === ea("vec_id")).drop("vec_id")
      .join(eb, col("vec_b") === eb("vec_id")).drop("vec_id")
      .select(col("vec_a"), col("vec_b"), cos.as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** AUTO-RADIUS [[incrementalEmbeddingPairs]] (r17 verdict item #3 —
    * the radius ladder for the asymmetric incremental generators):
    * `tables`/`planes` are the geometry the signature ASSET was built
    * at ([[lshSignatureTable]]'s arguments — fixed; re-sizing them
    * means re-encoding the corpus), probes = planes (full multi-probe,
    * dd9's committed discipline), and the probe RADIUS comes from
    * [[Similarity.lshIncRadiusFor]]: the first rung of the 1–3 ladder
    * whose closed-form model recall holds 0.9 at `threshold` inside
    * the [[Similarity.LshMaxCandFracKey]] candidate budget. On
    * mid-concentration corpora whose radius-1 model recall cannot
    * hold the target (the spread fixtures: radius 1 at the
    * lshGeometryFor-derived asset geometry models ~0.6–0.7 there)
    * this routes radius 2–3 — measured r18 on the spread fixtures at
    * 200 k and 2 M (STATUS table) — widening the incremental-dedup
    * envelope with ZERO touch to the corpus side: candidates are a
    * strict superset of radius 1 and the exact cos ≥ threshold verify
    * is unchanged, so output still ≡ the inc-touching subset of the
    * symmetric generator at equal radius. */
  def incrementalEmbeddingPairs(corpusSigs: DataFrame, incSigs: DataFrame,
      threshold: Double, tables: Int, planes: Int,
      corpusHist: Option[DataFrame]): DataFrame = {
    val radius = Similarity.lshIncRadiusFor(tables, planes, planes,
      threshold, corpusSigs.sparkSession)
    incrementalEmbeddingPairs(corpusSigs, incSigs, threshold, planes,
      corpusHist, radius)
  }

  /** Connected components over near-dup pairs: (doc_id, group_id) with
    * group_id = the minimum doc id in the component — the step that
    * turns PAIRS into KEEP/DROP decisions (keep group_id, drop the
    * rest), which is what a dedup pipeline actually executes. One row
    * per id appearing in some pair, a self-pair included; unpaired docs
    * are their own trivial groups by definition, and a pair with a null
    * endpoint links nothing. Ids must be integral; both output columns
    * keep the ids' type.
    *
    * Algorithm — union-find inside partitions, level by level:
    *  1. every partition of the edge list runs union-find over its own
    *     edges ([[localRoots]]); a local root is the minimum id of its
    *     local component. No shuffle.
    *  2. ONE groupBy on the node gives each node the minimum of its
    *     local roots, and a RESIDUE edge from that minimum to each other
    *     local root of a node seen in more than one partition. The
    *     residue's components are the graph's components contracted to
    *     local roots, so it has at most one node per local root.
    *  3. An empty residue ends it: every component lay inside one
    *     partition, and the level's one count was its only action.
    *     Otherwise the residue's labels, computed by the next level,
    *     compose over this level's with one join. A level whose residue
    *     is more than half the previous level's hands it to
    *     large-star/small-star rounds ([[starComponents]]) instead.
    *
    * A residue is a groupBy's output, which AQE coalesces to a few
    * partitions, so the second level usually ends it. Levels halve the
    * residue and star contraction converges in O(log²) rounds of its
    * size; the graph's diameter bounds neither. These levels and rounds
    * are the one loop on the driver; the rounds are capped at
    * [[MaxStarRounds]]. */
  def duplicateGroups(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val idType = pairs.select(col(aCol).as("id"))
      .union(pairs.select(col(bCol).as("id"))).schema("id").dataType
    require(IntegralIds.contains(idType),
      s"duplicateGroups needs integral ids, got $idType")
    components(
      pairs.filter(col(aCol).isNotNull && col(bCol).isNotNull)
        .select(col(aCol).cast("long"), col(bCol).cast("long")),
      above = Long.MaxValue, top = true)
      .select(col("node").cast(idType).as("doc_id"),
        col("lbl").cast(idType).as("group_id"))
  }

  /** One level of [[duplicateGroups]] over (long, long) edges: (node,
    * lbl = component min) for every node. `above` is the previous
    * level's residue size. Below the top level the labels compose into
    * ONE barrier and the level's own barriers are released, so the top
    * level's (lazy) output reads two barriers however many levels ran;
    * the caller releases a lower level's result once it has composed
    * it. */
  private def components(edges: DataFrame, above: Long, top: Boolean): DataFrame = {
    // the residue size is the full-scan aggregate that fills the barrier
    val (local, residueSize) = Barrier.filled(
      edges.as(LongPairs).mapPartitions(localRoots)(LongPairs).toDF("node", "root")
        .groupBy("node")
        .agg(min("root").as("lbl"), collect_set("root").as("roots")))(
      _.agg(coalesce(sum(size(col("roots")) - 1), lit(0L))).head.getLong(0))
    if (residueSize == 0L) local
    else {
      val residue = local
        .select(col("lbl").as("u"), explode(col("roots")).as("v"))
        .filter(col("u") =!= col("v"))
      val (sub, subLabels) =
        if (2 * residueSize <= above) {
          val c = components(residue, residueSize, top = false)
          (c, c.select(col("node").as("r"), col("lbl").as("rl")))
        } else {
          val c = starComponents(residue, residueSize)
          (c, c.select(col("u").as("r"), col("v").as("rl")))
        }
      val labels = local.join(subLabels, col("lbl") === col("r"), "left")
        .select(col("node"), coalesce(col("rl"), col("lbl")).as("lbl"))
      if (top) labels
      else {
        val composed = Barrier(labels)
        Barrier.release(local)
        Barrier.release(sub)
        composed
      }
    }
  }

  private val IntegralIds: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)

  private val LongPairs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** The distinct values of `xs(0 until n)`, sorted. */
  private def sortedDistinct(xs: Array[Long], n: Int): Array[Long] = {
    val s = java.util.Arrays.copyOf(xs, n)
    java.util.Arrays.sort(s)
    var k = 0
    for (i <- 0 until n if k == 0 || s(i) != s(k - 1)) { s(k) = s(i); k += 1 }
    java.util.Arrays.copyOf(s, k)
  }

  /** Round cap of [[starComponents]]: the rounds grow with the log of
    * the residue size (an 8 801-edge residue of a 10⁴-hop chain
    * converges in 15), so the cap only turns a residue that does not
    * converge into a loud failure. */
  private val MaxStarRounds = 100

  /** Union-find over one partition's edges (or, in
    * [[incrementalGroups]], the driver's contracted label edges):
    * (node, local root) for each distinct node of the edges, the root
    * being the minimum id of the node's local component. Primitive
    * arrays only — the endpoints as read (16 B an edge), their sorted
    * distinct ids (16 B an edge before de-duplication) and an int
    * parent array (4 B a node). Ids map to indexes by binary search,
    * so a smaller index is a smaller id, and linking every union under
    * its smaller root roots each set at its minimum. */
  private def localRoots(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    var ends = new Array[Long](256)
    var n = 0
    edges.foreach { case (a, b) =>
      if (n == ends.length) ends = java.util.Arrays.copyOf(ends, 2 * n)
      ends(n) = a; ends(n + 1) = b; n += 2
    }
    val ids = sortedDistinct(ends, n)
    val k = ids.length
    val parent = Array.range(0, k)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def root(id: Long): Int = find(java.util.Arrays.binarySearch(ids, id))
    for (i <- 0 until n by 2) {
      val ra = root(ends(i))
      val rb = root(ends(i + 1))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    Iterator.range(0, k).map(i => (ids(i), ids(find(i))))
  }

  /** Connected components of a (long) edge list by alternating
    * large-star / small-star contraction [Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14], which converges in
    * O(log²) rounds on any graph. Returns the barrier holding (u,
    * v = min of u's component) for every node but the component
    * minimums. `residueSize` names the input in the error when the
    * rounds hit [[MaxStarRounds]].
    *
    * Each round is two groupBy-min + join passes over the edge list:
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m(u) = min(Γ(u) ∪ {u});
    *  - small-star(u): every neighbor v ≤ u, and u itself, attaches
    *    to m(u);
    * alternated until the canonical edge set reaches its fixpoint, at
    * which point every node holds an edge to its component minimum. */
  private def starComponents(residue: DataFrame, residueSize: Long): DataFrame = {
    def canon(e: DataFrame): DataFrame = e
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v")) // u > v canonical direction
      .distinct()
    def sym(e: DataFrame): DataFrame =
      e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
    // m(u) = min(neighbors ∪ {u}) under the symmetric view
    def mins(se: DataFrame): DataFrame = se
      .groupBy(col("u").as("c")).agg(least(min(col("v")), col("c")).as("m"))

    // Barrier.counted fills each round's barrier and counts it in one
    // job, and carrying each round's count forward drops the previous
    // round's re-count; with the equal-count precondition
    // short-circuiting the except, a round is 1-2 actions. `barriered`
    // holds the round's barrier and `edges` reads it through
    // Barrier.leaf, so the next round's plan does not nest this one's.
    var (barriered, edgeCount) = Barrier.counted(canon(residue))
    var edges = Barrier.leaf(barriered)
    var rounds = 0
    var converged = false
    while (!converged) {
      if (rounds == MaxStarRounds) {
        Barrier.release(barriered)
        throw new IllegalStateException(s"connected components: star " +
          s"contraction over a residue of $residueSize edges did not " +
          s"converge in $MaxStarRounds rounds")
      }
      // large-star over the symmetric view: every neighbor above the
      // center re-attaches to the center's minimum
      val se = sym(edges)
      val m = mins(se)
      val large = canon(se.join(m, col("u") === col("c"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")))
      // small-star over the canonical (u > v) orientation: center u's
      // below-neighbors and u itself attach to their minimum
      val m2 = large.groupBy(col("u").as("c")).agg(min(col("v")).as("m"))
      val small = canon(
        large.join(m2, col("u") === col("c"))
          .select(col("v").as("u"), col("m").as("v"))
        .union(m2.select(col("c").as("u"), col("m").as("v"))))
      val (next, nextCount) = Barrier.counted(small)
      converged = nextCount == edgeCount && next.except(edges).isEmpty
      Barrier.release(barriered) // persist mode: one cached copy per round otherwise
      barriered = next
      edges = Barrier.leaf(next)
      edgeCount = nextCount
      rounds += 1
    }
    barriered
  }

  /** dd11 — SEMANTIC dedup over an embedding column, the SemDeDup shape
    * [Abbas et al., "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication", 2023]: cluster the corpus with
    * deterministic Lloyd k-means ([[Similarity.kmeansAssign]]), find
    * near-dup pairs by exact cosine WITHIN each cluster only, connect
    * pairs into duplicate groups, and keep ONE member per group — the
    * one FARTHEST from its centroid (lowest ccos; the paper's rule:
    * cluster outliers carry the most marginal information). Ties break
    * to the lowest id. Unpaired members all survive. Output:
    * (vec_id, cent_id) for every survivor.
    *
    * Scale shape: clustering never shuffles the corpus (one aggregate
    * job per Lloyd round over driver-held centroids — see
    * kmeansAssign); the pair step shuffles the corpus ONCE on cent_id
    * and pays O(Σ|cell|²) dot products — the SemDeDup cost model — so
    * k is the knob that bounds cell size (grow k ~ corpus/targetCell;
    * a skewed cell can further reuse the dd5 LSH banding *inside* the
    * cell). Cross-cluster near-dups are invisible by construction —
    * that is the approximation SemDeDup trades for never pairing the
    * whole corpus. */
  def semanticSurvivors(corpus: DataFrame, seeds: DataFrame,
      idCol: String, vecCol: String, iters: Int, threshold: Double): DataFrame =
    // r20 A/B note: widening the assignment input measured and
    // REJECTED (dd11 slower, target/r20opt_ab1.log — the Lloyd-round
    // aggregates repeat over the widened frame as 32 trivial tasks)
    semanticSurvivorsFrom(Barrier(
      Similarity.kmeansAssign(corpus, seeds, idCol, vecCol, iters)), threshold)

  /** [[semanticSurvivors]] with the clustering routed through the
    * two-level coarse quantizer ([[Similarity.kmeansAssignHier]]) —
    * the variant that holds when k grows with the corpus (the flat
    * argmax's n·k term is quadratic under that discipline; the
    * coarse-routed form is n·(k₁ + w·k/k₁)). Same keep rule; the
    * approximation is inherited from the router (coarse-boundary
    * misses can split a near-dup pair across cells, which SemDeDup
    * already accepts for cross-cluster pairs). */
  def semanticSurvivorsHier(corpus: DataFrame, seeds: DataFrame,
      coarseSeeds: DataFrame, idCol: String, vecCol: String,
      iters: Int, threshold: Double, w: Int): DataFrame =
    semanticSurvivorsFrom(Barrier(
      Similarity.kmeansAssignHier(corpus, seeds, coarseSeeds,
        idCol, vecCol, iters, w)), threshold)

  /** AUTO-SIZED [[semanticSurvivorsHier]]: the coarse table is derived
    * inside [[Similarity.kmeansAssignHier]] at k₁ = √(w·k) — the
    * routing cost stays √-shaped no matter how the caller grows the
    * codebook (the sizing rule [[Similarity.coarseSizeFor]] enforces). */
  def semanticSurvivorsHier(corpus: DataFrame, seeds: DataFrame,
      idCol: String, vecCol: String,
      iters: Int, threshold: Double, w: Int): DataFrame =
    semanticSurvivorsFrom(Barrier(
      Similarity.kmeansAssignHier(corpus, seeds,
        idCol, vecCol, iters, w)), threshold)

  /** The pair → components → keep-one-per-group step over an assigned
    * (vec_id, embedding, nrm, cent_id, ccos) frame (must already be
    * barriered — it feeds both sides of the pair self-join). */
  private def semanticSurvivorsFrom(assigned: DataFrame,
      threshold: Double): DataFrame = {
    val cos = VectorFunctions.cosinePre(
      VectorFunctions.dot(col("a.embedding"), col("b.embedding")),
      col("a.nrm"), col("b.nrm"))
    val pairs = assigned.alias("a")
      .join(assigned.alias("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        cos.as("cos"))
      .filter(col("cos") >= threshold)
    // no re-barrier — duplicateGroups' output is a projection of its
    // own checkpoints (live until the enclosing scope exits), so both
    // consumers below read materialized blocks; a Barrier here would be
    // one more materialization job of the same rows
    val groups = duplicateGroups(pairs, "va", "vb")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group_id"))
      .orderBy(col("ccos").asc, col("vec_id").asc)
    val keepers = groups
      .join(assigned, groups("doc_id") === assigned("vec_id"))
      .select(col("group_id"), col("vec_id"), col("ccos"))
      .withColumn("r", row_number().over(w))
      .filter(col("r") === 1)
      .select(col("vec_id"))
    // NO broadcast hint on groups/keepers: SemDeDup prunes up to ~50%
    // of a web corpus, so group membership scales with the corpus dup
    // rate — a forced broadcast of an O(corpus)-row frame would OOM at
    // the 100 TB scale this file targets. A shuffled anti/semi join on
    // vec_id is safe at any dup rate, and AQE converts it to broadcast
    // at runtime when the side measures small (the p1/p2 pattern,
    // PLANS.md "AQE final plans").
    assigned.join(groups,
        assigned("vec_id") === groups("doc_id"), "left_anti")
      .select(col("vec_id"), col("cent_id"))
      .union(assigned.join(keepers, Seq("vec_id"))
        .select(col("vec_id"), col("cent_id")))
  }

  /** dd10 — INCREMENTAL connected components: the daily-pipeline group
    * step dd7–dd9 pairs feed into. `asset` is the persisted
    * (doc_id, group_id) table from a previous [[duplicateGroups]] run
    * over the corpus; `incPairs` is the increment's near-dup pairs
    * (dd7/dd8/dd9 output — every pair touches the increment). Output:
    * (doc_id, group_id) for every member of every component TOUCHED by
    * the increment — new docs mapped to existing-or-new groups, plus
    * the updated rows for existing groups whose id changed (an
    * increment doc bridged two groups, or carries a smaller id than
    * the old minimum). Untouched groups are not emitted: their rows in
    * the asset are still current, so the caller upserts this output
    * over the asset to produce the next generation. A pair with a null
    * endpoint links nothing, and neither does a self-pair: an increment
    * doc paired only with itself is a trivial group, not emitted like
    * every unpaired doc. Ids must be integral; the output columns keep
    * the type the asset's and the pairs' ids widen to.
    *
    * Equivalence (property-pinned in DedupSimilaritySpec and ApiSpec):
    * the output is EXACTLY
    * `duplicateGroups(corpusPairs ∪ incPairs)` restricted to components
    * containing an increment doc — group ids are the component-min doc
    * ids of the merged graph.
    *
    * Algorithm — the increment-sized part runs on the driver:
    *  1. `incPairs` is collected as packed primitive longs (one job);
    *  2. the asset is scanned once against a broadcast of the pairs'
    *     distinct endpoints, and the matched (doc_id, group_id) rows —
    *     at most one per endpoint — are collected;
    *  3. an endpoint's label is its group id, or its own id when the
    *     asset does not hold it (a new doc, or a corpus doc paired for
    *     the first time); the pairs contract to label edges, self-edges
    *     drop, and [[localRoots]] gives each touched label its new
    *     group, the minimum label of its component (an old label is
    *     already its group's minimum doc id);
    *  4. the returned frame is lazy: the asset joined to a broadcast of
    *     the touched (group, new group) rows, plus the rows of the
    *     touched endpoints the asset does not hold.
    *
    * Scale shape: the corpus asset (the 100 TB table) is STREAMED
    * twice and never shuffled — the scan of step 2 and the caller's
    * scan of the output — so a bridge merging two billion-doc groups
    * costs union-find over 2 labels, not 2×10⁹ rows. The driver holds
    * O(|incPairs|) primitives — 16 B a pair, and an endpoint's id,
    * label and asset row (~33 B) — bounded upstream by the pair budget
    * (`spark.graft.dedup.pairbudget.max`, 10⁸ pairs). Preconditions:
    * increment ids are disjoint from corpus ids (an increment is new
    * by definition) and each incPair touches the increment; a
    * corpus-corpus pair inside ONE existing group is tolerated (its
    * contracted edge self-collapses — the group is simply not
    * touched). */
  def incrementalGroups(asset: DataFrame, incPairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val spark = asset.sparkSession
    def widened(c: String) = asset.select(c).union(incPairs.select(aCol))
      .union(incPairs.select(bCol)).schema(0).dataType
    val (docType, groupType) = (widened("doc_id"), widened("group_id"))
    require(IntegralIds(docType) && IntegralIds(groupType),
      s"incrementalGroups needs integral ids, got $docType / $groupType")
    // 1. pair i is (pairs(2i), pairs(2i + 1))
    val pairs = collectPairs(incPairs
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .select(col(aCol).cast("long"), col(bCol).cast("long")))
    val ids = sortedDistinct(pairs, pairs.length)
    def at(id: Long) = java.util.Arrays.binarySearch(ids, id)
    // 2. (doc_id, group_id) of the endpoints the asset holds
    val matched = if (ids.isEmpty) ids else collectPairs(asset
      .join(broadcast(packedFrame(spark, ids, "e")), col("doc_id") === col("e"))
      .select(col("doc_id").cast("long"), col("group_id").cast("long")))
    // 3. label each endpoint, contract, and union-find the labels
    val label = ids.clone()
    val inAsset = new Array[Boolean](ids.length)
    for (i <- matched.indices by 2; j = at(matched(i))) {
      label(j) = matched(i + 1); inAsset(j) = true
    }
    // a touched label is an endpoint the asset lacks, or a group id
    val touched, fresh = Array.newBuilder[Long]
    localRoots(Iterator.range(0, pairs.length, 2)
        .map(i => (label(at(pairs(i))), label(at(pairs(i + 1)))))
        .filter { case (la, lb) => la != lb })
      .foreach { case (l, root) =>
        val i = at(l)
        (if (i >= 0 && !inAsset(i)) fresh else touched) += l += root
      }
    // 4. touched groups' members, plus the touched endpoints new to the asset
    asset.join(broadcast(packedFrame(spark, touched.result(), "tg", "new_group")),
        col("group_id") === col("tg"))
      .select(col("doc_id"), col("new_group").as("group_id"))
      .union(packedFrame(spark, fresh.result(), "doc_id", "group_id"))
      .select(col("doc_id").cast(docType), col("group_id").cast(groupType))
  }

  /** The (long, long) rows of `df` as one packed array, pair i at
    * (2i, 2i + 1): one job, and no row objects on the driver. */
  private def collectPairs(df: DataFrame): Array[Long] =
    Array.concat(df.queryExecution.toRdd.mapPartitions(rows => Iterator(
      rows.flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toArray)).collect(): _*)

  /** Packed driver-held longs as a one-partition frame of long columns
    * `names`, one row per `names.size` longs: the task builds the rows,
    * so the plan carries one array instead of embedded rows. */
  private def packedFrame(spark: SparkSession, packed: Array[Long],
      names: String*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(packed), 1)
        .flatMap(_.grouped(names.size).map(r => Row.fromSeq(r.toSeq))),
      StructType(names.map(StructField(_, LongType))))

  // ------------------------------------------------------------------
  // Asset lifecycle: the persisted signature and groups assets live in
  // [[Asset]]. The six verbs below are one-line forwarders kept under
  // their historical names for existing callers (the repo benchmark
  // among them); new code calls [[Asset]] directly.
  // ------------------------------------------------------------------

  /** Guard-key projection for the MinHash/Jaccard family's signature
    * asset ([[minhashSignatures]] schema): the stored band-key array
    * is the asset's stand-in for the full minhash signature (equal
    * texts ⇒ equal bkeys ⇒ every pair survives at jac = 1.0). Pass to
    * [[Asset.pairHistogram]]; [[Increment.Family.jaccard]] carries it. */
  val jaccardGuardKeys: DataFrame => DataFrame =
    sigs => sigs.select(col("bkeys").as("k"))

  /** Guard-key projection for the 64-bit Hamming family's (id, sig)
    * asset — `sigCol` is the asset's signature column name. */
  def hammingGuardKeys(sigCol: String): DataFrame => DataFrame =
    sigs => sigs.select(col(sigCol).as("k"))

  /** Guard-key projection for the hyperplane-LSH embedding family's
    * [[lshSignatureTable]] asset: one key per banded (tbl, sig) row —
    * the buckets [[incrementalEmbeddingPairs]]' candidate-volume
    * precheck counts (hot-bucket populations, probe targets
    * included). */
  val embeddingGuardKeys: DataFrame => DataFrame =
    sigs => sigs.select(posexplode(col("sigs")))
      .select(struct(col("pos").cast("integer").as("tbl"),
        col("col").as("sig")).as("k"))

  /** [[Asset.writeSidecar]] of the family's [[Asset.pairHistogram]]. */
  def writeSignatureHistogram(spark: org.apache.spark.sql.SparkSession,
      genDir: String, guardKeys: DataFrame => DataFrame): Unit =
    Asset.writeSidecar(spark, genDir, Asset.pairHistogram(guardKeys))

  /** [[Asset.readSidecar]] of the family's [[Asset.pairHistogram]]. */
  def readSignatureHistogram(spark: org.apache.spark.sql.SparkSession,
      dir: String, guardKeys: DataFrame => DataFrame,
      excludeInc: Option[String] = None): Option[DataFrame] =
    Asset.readSidecar(spark, dir, Asset.pairHistogram(guardKeys), excludeInc)

  /** [[Asset.read]]. */
  def readSignatureAsset(spark: org.apache.spark.sql.SparkSession, dir: String,
      excludeInc: Option[String] = None): DataFrame =
    Asset.read(spark, dir, excludeInc)

  /** [[Asset.compact]], with the family's [[Asset.pairHistogram]] when
    * `guardKeys` is given. */
  def compactSignatureAsset(spark: org.apache.spark.sql.SparkSession,
      dir: String, keepSuperseded: Int = 1,
      guardKeys: Option[DataFrame => DataFrame] = None): Int =
    Asset.compact(spark, dir, keepSuperseded, guardKeys.map(Asset.pairHistogram))

  /** [[Asset.readUpserts]]. */
  def readGroupsAsset(spark: org.apache.spark.sql.SparkSession, dir: String,
      excludeInc: Option[String] = None,
      maxUpsertDirs: Int = Asset.DefaultMaxUpsertDirs): DataFrame =
    Asset.readUpserts(spark, dir, excludeInc, maxUpsertDirs)

  /** [[Asset.compactUpserts]]. */
  def compactGroupsAsset(spark: org.apache.spark.sql.SparkSession,
      dir: String, keepSuperseded: Int = 1): Int =
    Asset.compactUpserts(spark, dir, keepSuperseded)

  /** Opt-in precondition check for the incremental operators: corpus
    * and increment ids must be disjoint (an increment is new by
    * definition). A colliding id — e.g. re-ingesting an existing doc
    * through the streaming path — does NOT fail by itself: it silently
    * duplicates rows in the verification union and produces duplicate
    * or incorrect pairs. This assertion costs one streamed scan of the
    * corpus asset against a broadcast of the increment's ids, so it is
    * a flag on the streaming ops rather than always-on. */
  def assertDisjointIds(corpus: DataFrame, inc: DataFrame, idCol: String): Unit = {
    val collisions = corpus.select(col(idCol))
      .join(broadcast(inc.select(col(idCol)).distinct()), idCol)
      .limit(5).collect()
    require(collisions.isEmpty,
      s"increment re-uses ${collisions.length}+ corpus ids (e.g. " +
        s"${collisions.take(3).map(_.get(0)).mkString(", ")}) — an " +
        "increment must be disjoint from the corpus; deduplicate ingestion " +
        "or re-key the increment")
  }
}
