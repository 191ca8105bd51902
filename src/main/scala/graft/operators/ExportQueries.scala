package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.api.Export
import graft.functions.TextFunctions.tokenCount

/** Training-data export fixture queries over [[graft.api.Export]] —
  * the last-mile verbs after curation has chosen a keep-set:
  * deterministic global shuffle, token-aware sequence packing,
  * round-robin sharding, and quality-ranked duplicate-group survivor
  * selection. No reference analogue (north-star extension; SURVEY.md
  * §2.3 pipeline charter).
  *
  * Oracle strategy: the Spark side computes positions with the
  * distributed two-phase prefix sum (see Export's scaladoc — no
  * unpartitioned data-sized window anywhere); the DuckDB oracle uses
  * the naive global `row_number()/SUM() OVER (ORDER BY key, id)`
  * window — an INDEPENDENT formulation of the same total order, so a
  * hash-match certifies the two-phase decomposition, not just the
  * arithmetic. The order key is the Sampling scramble congruence —
  * exact BIGINT in both engines, ties broken by doc_id.
  */
object ExportQueries {

  private val Seed = 42L
  private val Shift = 18
  private val SeqLen = 256L
  private val NShards = 16

  private val keySql = Export.shuffleKeySql("doc_id", Seed)

  /** Whitespace token count — the ds2/t3 twin pair (Spark
    * [[tokenCount]] vs this DuckDB fragment). */
  private val tokenCountSql =
    """CAST(CASE WHEN trim(text) = '' THEN 0
      |     ELSE len(string_split_regex(trim(text), '\s+')) END AS BIGINT)"""
      .stripMargin

  // -- ex1: deterministic global shuffle + round-robin sharding ---------
  private def globalShuffle(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"))
    val p = Export.globalPositions(docs, "doc_id", Seed, Shift)
    val (shard, shardPos) = Export.roundRobinShard(col("pos"), NShards)
    p.select(col("doc_id"), col("pos"),
      shard.as("shard"), shardPos.as("shard_pos"))
  }

  // shard_pos uses DuckDB integer division (`//`) — the same
  // BIGINT-exact form as Export.roundRobinShard's `div`, exact for any
  // position (a double-valued `/` loses exactness past 2^53)
  private val globalShuffleSql =
    s"""WITH k AS (SELECT doc_id, $keySql AS k FROM documents),
       |p AS (SELECT doc_id,
       |        CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) - 1 AS pos
       |      FROM k)
       |SELECT doc_id, pos, pos % $NShards AS shard,
       |  CAST(pos // $NShards AS BIGINT) AS shard_pos
       |FROM p""".stripMargin

  // -- ex2: concat-then-chunk sequence packing --------------------------
  private def packSequences(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"))
    Export.packSequences(docs, "doc_id", "n_tokens", Seed, SeqLen, Shift)
      .select(col("doc_id"), col("n_tokens"), col("cum_before"),
        col("seq_id"), col("seq_off"))
  }

  private val packSequencesSql =
    s"""WITH d AS (
       |  SELECT doc_id, $tokenCountSql AS n_tokens FROM documents),
       |k AS (SELECT doc_id, n_tokens, $keySql AS k FROM d),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY k, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM k)
       |SELECT doc_id, n_tokens, cum_before,
       |  CAST(cum_before // $SeqLen AS BIGINT) AS seq_id,
       |  cum_before % $SeqLen AS seq_off
       |FROM c""".stripMargin

  // -- ex3: shard manifest ----------------------------------------------
  // What a training launch actually consumes: per-shard doc/token/byte
  // totals of the shuffled corpus. Round-robin over the shuffled order
  // makes every shard a uniform corpus sample; the manifest's token
  // balance (pinned in ExportSpec) is the measurable consequence.
  private def shardManifest(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"),
      tokenCount(col("text")).cast("long").as("n_tokens"))
    val p = Export.globalPositions(docs, "doc_id", Seed, Shift)
    val (shard, _) = Export.roundRobinShard(col("pos"), NShards)
    p.withColumn("shard", shard)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
  }

  private val shardManifestSql =
    s"""WITH d AS (
       |  SELECT doc_id, n_chars, $tokenCountSql AS n_tokens FROM documents),
       |k AS (SELECT doc_id, n_chars, n_tokens, $keySql AS k FROM d),
       |p AS (SELECT doc_id, n_chars, n_tokens,
       |        CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) - 1 AS pos
       |      FROM k)
       |SELECT pos % $NShards AS shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  CAST(SUM(n_chars) AS BIGINT) AS n_chars
       |FROM p GROUP BY 1""".stripMargin

  // -- ex4: quality-ranked duplicate-group survivors --------------------
  // dd6 says WHICH docs are near-duplicates of each other; the curation
  // decision is WHICH COPY to keep. min-id (dd1/p1's rule) is arbitrary;
  // the standard policy keeps the highest-quality member. Survivor =
  // argmax t3 quality_score per dd6 group, ties to the lowest doc_id.
  // Groups are near-dup-sized (small), so the rank window shuffles slim
  // (group_id, doc_id, score) rows only — corpus text never moves.
  /** dd6 group members ranked by quality (rank 1 = the survivor) —
    * shared by ex4 (survivor report) and p5 (loser removal). */
  private def rankedMembers(s: SparkSession, dir: String): DataFrame = {
    val g = DedupQueries.dupGroups(s, dir)
    val q = TextQueries.quality(s, dir).select(col("doc_id"), col("quality_score"))
    val wRank = Window.partitionBy(col("group_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    g.join(q, "doc_id")
      .withColumn("_rk", row_number().over(wRank))
  }

  private def bestOfGroup(s: SparkSession, dir: String): DataFrame = {
    val wGrp = Window.partitionBy(col("group_id"))
    rankedMembers(s, dir)
      .withColumn("n_members", count(lit(1)).over(wGrp))
      .filter(col("_rk") === 1)
      .select(col("group_id"), col("doc_id").as("survivor_id"),
        col("quality_score").as("best_score"), col("n_members"))
  }

  private val bestOfGroupSql =
    s"""WITH RECURSIVE ${DedupQueries.dupGroupsCtes},
       |q AS (${TextQueries.qualitySql}),
       |j AS (
       |  SELECT g.group_id, g.doc_id, q.quality_score,
       |    COUNT(*) OVER (PARTITION BY g.group_id) AS n_members,
       |    row_number() OVER (PARTITION BY g.group_id
       |      ORDER BY q.quality_score DESC, g.doc_id) AS rk
       |  FROM groups g JOIN q ON g.doc_id = q.doc_id)
       |SELECT group_id, doc_id AS survivor_id, quality_score AS best_score,
       |  CAST(n_members AS BIGINT) AS n_members
       |FROM j WHERE rk = 1""".stripMargin

  // -- ex5: incremental packing — the daily export verb ------------------
  // A day's intake is packed AFTER the frozen corpus layout (the dd7/
  // p4p asset discipline applied to export): the increment shuffles
  // among itself, its token layout continues at the corpus total, and
  // no corpus sequence is ever rewritten. Work is Θ(increment) + one
  // broadcast row; the oracle replays the same continuation via a
  // scalar subquery.
  private def packIncrement(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"))
    val base = d.filter(col("doc_id") % DedupQueries.IncMod =!= 0)
      .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("base_tokens"))
    val inc = d.filter(col("doc_id") % DedupQueries.IncMod === 0)
    Export.packSequencesAfter(inc, "doc_id", "n_tokens", base, Seed, SeqLen, Shift)
      .select(col("doc_id"), col("n_tokens"), col("cum_before"),
        col("seq_id"), col("seq_off"))
  }

  private val packIncrementSql =
    s"""WITH d AS (
       |  SELECT doc_id, $tokenCountSql AS n_tokens FROM documents),
       |base AS (
       |  SELECT CAST(COALESCE(SUM(n_tokens), 0) AS BIGINT) AS bt
       |  FROM d WHERE doc_id % ${DedupQueries.IncMod} <> 0),
       |k AS (SELECT doc_id, n_tokens, $keySql AS k FROM d
       |      WHERE doc_id % ${DedupQueries.IncMod} = 0),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY k, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      + (SELECT bt FROM base) AS cum_before
       |  FROM k)
       |SELECT doc_id, n_tokens, cum_before,
       |  CAST(cum_before // $SeqLen AS BIGINT) AS seq_id,
       |  cum_before % $SeqLen AS seq_off
       |FROM c""".stripMargin

  // -- ex6: written-shard round-trip -------------------------------------
  // ex1–ex3 compute positions/manifests declaratively; this verb READS
  // BACK real shard files written by [[Export.writeShards]] and
  // certifies their content against the oracle's independent
  // recomputation from the documents table: per-shard row count, token
  // mass, dense position range, and an order-free content signature
  // (the scramble congruence over doc_id + shard_pos — a misplaced,
  // duplicated, or dropped row in the FILES changes it). Shards are
  // written once per fixture dir (cold pass), like the dd10p/s7p
  // asset seeding.
  private def shardRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val root = QueryDef.seedOnce(s, "ex6", dir) { root =>
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"))
      Export.writeShards(docs, "doc_id", Seed, NShards, root, Shift)
    }
    s.read.parquet(root)
      .select(col("doc_id"), col("n_tokens"),
        col("shard").cast("long").as("shard"), col("shard_pos"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("shard_pos")).as("min_pos"),
        max(col("shard_pos")).as("max_pos"),
        sum(graft.api.Sampling.scramble(col("doc_id") + col("shard_pos")))
          .as("content_sig"))
  }

  private val shardRoundtripSql =
    s"""WITH d AS (
       |  SELECT doc_id, $tokenCountSql AS n_tokens FROM documents),
       |k AS (SELECT doc_id, n_tokens, $keySql AS k FROM d),
       |p AS (SELECT doc_id, n_tokens,
       |        CAST(row_number() OVER (ORDER BY k, doc_id) AS BIGINT) - 1 AS pos
       |      FROM k),
       |sh AS (SELECT doc_id, n_tokens, pos % $NShards AS shard,
       |         CAST(pos // $NShards AS BIGINT) AS shard_pos
       |       FROM p)
       |SELECT shard, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       |  MIN(shard_pos) AS min_pos, MAX(shard_pos) AS max_pos,
       |  CAST(SUM(${graft.api.Sampling.scrambleSql("(doc_id + shard_pos)")})
       |    AS BIGINT) AS content_sig
       |FROM sh GROUP BY 1""".stripMargin

  // -- p5: the composed export capstone ---------------------------------
  // clean (drop every dup-group member that is not its group's
  // quality survivor) → deterministic shuffle → sequence packing →
  // per-sequence manifest (docs starting in each training sequence,
  // their token mass). The whole curation-to-export tail in one plan:
  // the loser set rides slim rows into a corpus-sized anti-join (p1's
  // AQE-converts-to-broadcast shape), then the two-phase prefix sum
  // lays out survivors.
  private def exportManifest(s: SparkSession, dir: String): DataFrame = {
    val losers = rankedMembers(s, dir).filter(col("_rk") > 1).select(col("doc_id"))
    val d = Tables.documents(s, dir).select(col("doc_id"),
      tokenCount(col("text")).cast("long").as("n_tokens"))
    val keep = d.join(losers, Seq("doc_id"), "leftanti")
    Export.packSequences(keep, "doc_id", "n_tokens", Seed, SeqLen, Shift)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
  }

  private val exportManifestSql =
    s"""WITH RECURSIVE ${DedupQueries.dupGroupsCtes},
       |q AS (${TextQueries.qualitySql}),
       |rkd AS (
       |  SELECT g.doc_id, row_number() OVER (PARTITION BY g.group_id
       |      ORDER BY q.quality_score DESC, g.doc_id) AS rnk
       |  FROM groups g JOIN q ON g.doc_id = q.doc_id),
       |losers AS (SELECT doc_id FROM rkd WHERE rnk > 1),
       |d AS (
       |  SELECT doc_id, $tokenCountSql AS n_tokens FROM documents dd
       |  WHERE NOT EXISTS (SELECT 1 FROM losers l WHERE l.doc_id = dd.doc_id)),
       |k AS (SELECT doc_id, n_tokens, $keySql AS k FROM d),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY k, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS cum_before
       |  FROM k)
       |SELECT CAST(cum_before // $SeqLen AS BIGINT)
       |    AS seq_id,
       |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
       |FROM c GROUP BY 1""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("ex1_global_shuffle", globalShuffle, Some(globalShuffleSql)),
    QueryDef("ex2_pack_sequences", packSequences, Some(packSequencesSql), bench = true),
    QueryDef("ex3_shard_manifest", shardManifest, Some(shardManifestSql)),
    QueryDef("ex4_best_of_group", bestOfGroup, Some(bestOfGroupSql), bench = true),
    QueryDef("ex5_pack_increment", packIncrement, Some(packIncrementSql)),
    QueryDef("ex6_shard_roundtrip", shardRoundtrip, Some(shardRoundtripSql), bench = true),
    QueryDef("p5_export_manifest", exportManifest, Some(exportManifestSql), bench = true),
  )
}
