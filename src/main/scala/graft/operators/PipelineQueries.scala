package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The capstone composition: the end-to-end training-corpus cleaning
  * pipeline a 100 TB data run actually executes, built ENTIRELY from
  * the already-oracled operators —
  *
  *   quality scoring (t3) → language filter (t2) → exact dedup keeper
  *   selection (dd1) → MinHash near-dup removal (dd3) → clean corpus
  *
  * Each stage is a join/semi-join/anti-join against another operator's
  * output, so Catalyst fuses the whole pipeline into one distributed
  * plan (shared scans, broadcast of the small pair/keeper sides at this
  * scale). The near-dup policy is the standard cheap one: of each
  * detected pair, the lower doc_id survives.
  *
  * The oracle composes the SAME stage SQLs as subqueries — proving the
  * operators compose identically in both engines, not just in
  * isolation.
  */
object PipelineQueries {

  private def defOf(defs: Seq[QueryDef], name: String): QueryDef =
    defs.find(_.name == name).get

  private val t3 = defOf(TextQueries.all, "t3_quality")
  private val t2 = defOf(TextQueries.all, "t2_langid")
  private val dd1 = defOf(DedupQueries.all, "dd1_exact_dedup")
  private val dd3 = defOf(DedupQueries.all, "dd3_minhash_lsh")

  private val MinQuality = 0.5

  private def cleanCorpus(s: SparkSession, dir: String): DataFrame = {
    val quality = t3.run(s, dir)
    val lang = t2.run(s, dir)
    val keepers = dd1.run(s, dir).select(col("keep_id").as("doc_id"))
    val nearDupLosers = dd3.run(s, dir).select(col("doc_b").as("doc_id"))
    quality
      .filter(col("quality_score") >= MinQuality)
      .join(lang.filter(col("pred_lang") === "en"), "doc_id")
      .join(keepers, Seq("doc_id"), "leftsemi")
      .join(nearDupLosers, Seq("doc_id"), "leftanti")
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
  }

  private val cleanCorpusSql =
    s"""WITH q AS (${t3.oracle.get}),
       |l AS (${t2.oracle.get}),
       |keepers AS (SELECT keep_id FROM (${dd1.oracle.get}) g),
       |losers AS (SELECT DISTINCT doc_b FROM (${dd3.oracle.get}) nd)
       |SELECT q.doc_id, q.n_tokens, q.quality_score
       |FROM q JOIN l ON q.doc_id = l.doc_id
       |WHERE q.quality_score >= $MinQuality
       |  AND l.pred_lang = 'en'
       |  AND q.doc_id IN (SELECT keep_id FROM keepers)
       |  AND q.doc_id NOT IN (SELECT doc_b FROM losers)""".stripMargin

  // -- p2: transitive near-dup removal ----------------------------------
  // p1's pair policy ("drop doc_b of each pair") under-drops when a
  // component's pairs don't all share their minimum — e.g. pairs (1,5)
  // and (3,5) form one cluster {1,3,5}, but 3 never appears as a doc_b
  // and survives p1. p2 swaps in dd6's connected components and keeps
  // exactly one doc (the min id) per near-dup cluster — the policy a
  // production dedup actually wants. Costs the iterative component
  // fixpoint (a handful of tiny-frame jobs), so p1 stays the benched
  // single-fused-plan form and p2 the semantically-strict form.
  private val dd6 = defOf(DedupQueries.all, "dd6_dup_groups")

  private def cleanCorpusTransitive(s: SparkSession, dir: String): DataFrame = {
    val quality = t3.run(s, dir)
    val lang = t2.run(s, dir)
    val keepers = dd1.run(s, dir).select(col("keep_id").as("doc_id"))
    val clusterLosers = dd6.run(s, dir)
      .filter(col("doc_id") =!= col("group_id")).select(col("doc_id"))
    quality
      .filter(col("quality_score") >= MinQuality)
      .join(lang.filter(col("pred_lang") === "en"), "doc_id")
      .join(keepers, Seq("doc_id"), "leftsemi")
      .join(clusterLosers, Seq("doc_id"), "leftanti")
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
  }

  private val cleanCorpusTransitiveSql =
    s"""WITH q AS (${t3.oracle.get}),
       |l AS (${t2.oracle.get}),
       |keepers AS (SELECT keep_id FROM (${dd1.oracle.get}) g),
       |losers AS (
       |  SELECT doc_id FROM (${dd6.oracle.get}) cc WHERE doc_id <> group_id)
       |SELECT q.doc_id, q.n_tokens, q.quality_score
       |FROM q JOIN l ON q.doc_id = l.doc_id
       |WHERE q.quality_score >= $MinQuality
       |  AND l.pred_lang = 'en'
       |  AND q.doc_id IN (SELECT keep_id FROM keepers)
       |  AND q.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin

  // -- p4: the daily-increment capstone ---------------------------------
  // The production verb the incremental operators (dd7 pairs, dd10
  // groups) and the asset lifecycle exist FOR, composed end-to-end the
  // way a daily 100 TB ingestion run executes it:
  //
  //   seed yesterday's assets (signature asset + groups asset)
  //   → ingest today's increment (signatures land as an inc dir)
  //   → incremental pairs   (dd7: asset streamed, increment broadcast)
  //   → incremental groups  (dd10: driver union-find over contracted labels only)
  //   → upsert + compact both assets (merge-on-read, then fold)
  //   → keep/drop decision  (drop every doc that doesn't lead its group)
  //
  // The oracle is the BATCH-GLOBAL answer: connected components over
  // the full corpus ∪ increment pair set (dd6's recursive CTE), drop
  // non-leaders — so a hash-match proves increment ≡ recompute for the
  // whole composed pipeline, not just for each verb in isolation.
  // Corpus-only banding emits exactly the corpus-corpus subset of
  // full-table banding (band keys are per-doc), and dd7 emits exactly
  // the inc-touching subset, so seed-asset pairs ∪ dd7 pairs = dd6's
  // full edge set; docs in no component survive trivially.
  //
  // Each run deletes and re-seeds its scratch assets under target/ —
  // determinism comes from recomputation, not reused state. The seeding
  // dominates wall-clock (the same fixture cost dd10 carries), so the
  // capstone is correctness-gated but not benched; dd10p is the
  // incremental step's measured cost.
  // The composition itself lives in [[DailyPipeline]] — ONE definition
  // of the verb sequence and geometry shared with p4p and the
  // deployment dress rehearsal, so the three bindings can't drift.
  private def dailyIncrement(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val root =
      s"target/graft_p4/${dir.replaceAll("[^A-Za-z0-9.]+", "_")}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    // yesterday's state, then today's increment + quiesce compaction —
    // determinism comes from recomputation, not reused state
    DailyPipeline.seedAssets(s, docs, root)
    DailyPipeline.runIncrement(s, docs, root, compact = true)
    DailyPipeline.survivors(s, docs, root)
  }

  private val dailyIncrementSql =
    s"""WITH losers AS (
       |  SELECT doc_id FROM (${dd6.oracle.get}) cc WHERE doc_id <> group_id)
       |SELECT d.doc_id FROM documents d
       |WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin

  // -- p4p: the composed daily verb at its OWN cost ---------------------
  // p4 proves increment ≡ recompute but re-seeds its scratch assets
  // every run, so its wall-clock is ~80% seeding — it carries no
  // measured number for the verb a capacity planner sizes a day
  // around. p4p is that number: yesterday's assets are seeded ONCE per
  // JVM (dd10p's pattern — the cold bench pass pays it, warm passes
  // only read), and the timed plan is exactly the daily composition
  //
  //   increment-ingest (signatures land as inc_0)
  //   → dd7 pairs (asset streamed once, increment broadcast)
  //   → dd10 groups (driver union-find over contracted labels only)
  //   → upsert (touched components land as a groups-asset inc dir)
  //   → keep/drop (corpus anti-joins the broadcastable loser set)
  //
  // with NO seeding and NO compaction (compaction is the quiesce-point
  // maintenance verb, not part of the daily latency path). The
  // increment is Increment.step with the fixed tag inc_0, whose replay
  // rule (reads exclude inc_0, writes overwrite it) lets warm passes
  // replay the same day deterministically against the pristine seeded
  // base. The final merge-on-read group table equals p4's
  // post-compaction one, so p4's batch-global oracle gates this binding
  // unchanged.
  private def dailyIncrementAsset(s: SparkSession, dir: String): DataFrame = {
    val root = QueryDef.seedOnce(s, "p4p", dir) { root =>
      DailyPipeline.seedAssets(s, Tables.documents(s, dir), root)
    }
    val docs = Tables.documents(s, dir)
    // NO compaction: that's the quiesce-point maintenance verb, not
    // part of the daily latency path this binding measures
    DailyPipeline.runIncrement(s, docs, root, compact = false)
    DailyPipeline.survivors(s, docs, root)
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("p1_clean_corpus", cleanCorpus, Some(cleanCorpusSql), bench = true),
    QueryDef("p2_clean_corpus_transitive", cleanCorpusTransitive,
      Some(cleanCorpusTransitiveSql), bench = true),
    QueryDef("p4_daily_increment", dailyIncrement, Some(dailyIncrementSql)),
    QueryDef("p4p_daily_increment_asset", dailyIncrementAsset,
      Some(dailyIncrementSql), bench = true),
  )
}

/** The composed daily-increment verb: its stage sequence, dd3 geometry
  * (8 bands × 4 rows, jaccard ≥ 0.8) and doc_id % 10 corpus/increment
  * split. The increment itself is [[graft.api.Increment.step]] with the
  * fixed tag `inc_0`. Shared by p4 (the batch-global-oracle correctness
  * capstone), p4p (the bench binding over pre-seeded assets), and the
  * lambda-sim + FS-shuffle deployment dress rehearsal
  * (GraftShuffleDailyRehearsalSpec), so a geometry change can't leave
  * one binding on the old shape. `private[graft]`: an internal
  * composition seam, not library API — users compose
  * [[graft.api.Increment]] and [[graft.api.Dedup]]'s verbs directly
  * (README's operating guide). */
private[graft] object DailyPipeline {
  import DedupQueries.{DD3Bands, DD3Rows, IncMod}
  import graft.api.{Asset, Increment, Dedup}
  private val Jaccard = 0.8
  private val Family =
    Increment.Family.jaccard("doc_id", "text", DD3Bands, DD3Rows, Jaccard)

  private def corpus(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % IncMod =!= 0)
  private def increment(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % IncMod === 0)

  /** Seed yesterday's state: signature + groups assets from the
    * corpus (the increment's docs excluded). */
  def seedAssets(s: SparkSession, docs: DataFrame, root: String): Unit =
    Increment.seed(s, s"$root/sigs", s"$root/groups",
      Family.signatures(corpus(docs)),
      Dedup.duplicateGroups(
        Dedup.jaccardPairs(
          corpus(docs), "doc_id", "text", DD3Bands, DD3Rows, Jaccard),
        "doc_a", "doc_b"),
      Family)

  /** The daily latency path over seeded assets — the increment step
    * (signatures → dd7 pairs → dd10 groups upsert, tag `inc_0`) — plus,
    * when `compact`, the day's quiesce point: fold both assets. */
  def runIncrement(s: SparkSession, docs: DataFrame, root: String,
      compact: Boolean): Unit = {
    Increment.step(s, s"$root/sigs", Some(s"$root/groups"), s"$root/pairs",
      Asset.incTag(0), Family.signatures(increment(docs)), Family)
    if (compact) Increment.compact(s, s"$root/sigs", Some(s"$root/groups"), Family)
  }

  /** Keep/drop over the groups asset under `root`
    * ([[graft.api.Increment.survivors]]). */
  def survivors(s: SparkSession, docs: DataFrame, root: String): DataFrame =
    Increment.survivors(docs, s"$root/groups")
}
