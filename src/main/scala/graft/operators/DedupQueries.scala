package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{HashFunctions, MinHashConstants, PolyHashConstants, TextFunctions, VectorFunctions}

/** Deduplication suite for training-data pipelines (north-star extension;
  * SURVEY.md §7.2 step 6): exact, n-gram Jaccard, MinHash+LSH, SimHash,
  * and embedding-cosine near-dup.
  *
  * Scale design: every variant avoids the O(n²) all-pairs join —
  * exact dedup is a hash groupBy; both Jaccard operators (dd2, dd3)
  * source candidate pairs from MinHash band buckets and verify with
  * exact Jaccard inside buckets; SimHash banding is pigeonhole-complete
  * 16-bit pieces; the embedding near-dup banding is hyperplane LSH.
  * Every candidate generator is an equi-join on band/bucket keys, which
  * Spark executes as an ordinary shuffled hash join: O(n·bands) shuffled
  * rows at any corpus size, with band width (rows-per-band, planes) as
  * the selectivity knob that grows ~log(n) at cluster scale.
  *
  * All hashing is the deterministic polynomial mod-P family
  * ([[graft.functions.PolyHashConstants]]) — pure BIGINT arithmetic that
  * the DuckDB oracle reproduces bit-for-bit, so every variant here has a
  * full SQL oracle (no rows-only checks).
  */
object DedupQueries {
  import MinHashConstants.{As, Bs, K, Prime}

  // -- dd1: exact dedup — groupBy content fingerprint -------------------
  private def exact(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")

  private val exactSql =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |  MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  // -- MinHash band candidate generation (dd2 + dd3) --------------------
  // 32 minhashes over the shingle hash set; band key = an arithmetic
  // fold of the band's sig rows mod P (SQL-expressible, unlike a byte
  // hash). Banding geometry sets the similarity threshold each operator
  // targets: s-curve midpoint ≈ (1/bands)^(1/rows), so
  //   dd2: 16 bands × 2 rows → ~0.25 (high recall at jac ≥ 0.5)
  //   dd3:  8 bands × 4 rows → ~0.59 (tuned for jac ≥ 0.8)
  private val DD2Bands = 16
  private val DD2Rows = K / DD2Bands
  private[operators] val DD3Bands = 8
  private[operators] val DD3Rows = K / DD3Bands

  /** DuckDB twin of [[graft.api.Dedup.jaccardPairs]]. */
  private def bandSql(bands: Int, rows: Int, thr: Double): String =
    s"""WITH ${bandCtes(bands, rows)}
       |SELECT doc_a, doc_b, jac FROM cand WHERE jac >= $thr""".stripMargin

  /** CTE chain `toksrc → … → cand` shared by the band-join oracles
    * (dd2/dd3 select pairs from `cand`; dd6 builds components on it). */
  private def bandCtes(bands: Int, rows: Int): String = {
    val sigExprs = (0 until K).map { j =>
      s"list_min(list_transform(hs, h -> (h * ${As(j)} + ${Bs(j)}) % $Prime)) AS sg$j"
    }.mkString(",\n    ")
    def bkey(b: Int) = (0 until rows).foldLeft("CAST(0 AS BIGINT)") { (acc, i) =>
      s"(($acc) * 31 + sg${b * rows + i}) % $Prime"
    }
    val branches = (0 until bands).map { b =>
      s"SELECT doc_id, hs, nh, $b AS band, ${bkey(b)} AS bkey FROM sigs"
    }.mkString("\nUNION ALL\n")
    s"""toksrc AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
       |  FROM documents),
       |sh AS (
       |  SELECT doc_id, list_sort(list_distinct(list_transform(
       |    ${TextFunctions.shingles3Sql},
       |    sh -> ${HashFunctions.strHashPSql("sh")}))) AS hs
       |  FROM toksrc),
       |shn AS (SELECT doc_id, hs, len(hs) AS nh FROM sh WHERE len(hs) > 0),
       |sigs AS (
       |  SELECT doc_id, hs, nh,
       |    $sigExprs
       |  FROM shn),
       |banded AS (
       |$branches),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) /
       |      (a.nh + b.nh - len(list_intersect(a.hs, b.hs))) AS jac
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin
  }

  // -- dd2: exact n-gram Jaccard, MinHash-band candidates ---------------
  // Exact-Jaccard *verification* of LSH-banded candidates at jac ≥ 0.5.
  // (The round-1 (lang, length-bucket) blocking was quadratic inside
  // blocks AND missed pairs straddling buckets — band candidates find
  // 25 qualifying pairs at sf0.01 where blocking found 6.)
  private def ngramJaccard(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.jaccardPairs(Tables.documents(s, dir),
      "doc_id", "text", DD2Bands, DD2Rows, 0.5)

  // -- dd3: MinHash + LSH banding at the classic 0.8 point --------------
  private def minhashLsh(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.jaccardPairs(Tables.documents(s, dir),
      "doc_id", "text", DD3Bands, DD3Rows, 0.8)

  // -- dd6: duplicate GROUPS — connected components over dd3 pairs ------
  // The step that turns near-dup pairs into keep/drop decisions: each
  // doc maps to the minimum doc_id of its connected component. Spark
  // side is union-find inside partitions plus star contraction over
  // the cross-partition residue (see Dedup.duplicateGroups); the
  // oracle computes the same components as a DuckDB recursive CTE over
  // the shared band-candidate chain.
  private[operators] def dupGroups(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.duplicateGroups(minhashLsh(s, dir), "doc_a", "doc_b")

  /** dd6's full oracle chain as CTE text ending in a `groups(doc_id,
    * group_id)` CTE — shared with the export-survivor oracles (ex4/p5),
    * which extend the chain instead of restating the fixpoint. Must be
    * prefixed `WITH RECURSIVE`. */
  private[operators] val dupGroupsCtes: String =
    s"""${bandCtes(DD3Bands, DD3Rows)},
       |pairs AS (SELECT doc_a, doc_b FROM cand WHERE jac >= 0.8),
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |       UNION ALL SELECT doc_b, doc_a FROM pairs),
       |verts AS (SELECT DISTINCT a AS v FROM ed),
       |reach AS (
       |  SELECT v, v AS r FROM verts
       |  UNION
       |  SELECT reach.v, e.b AS r FROM reach JOIN ed e ON reach.r = e.a),
       |groups AS (SELECT v AS doc_id, MIN(r) AS group_id FROM reach GROUP BY v)""".stripMargin

  private val dupGroupsSql =
    s"""WITH RECURSIVE $dupGroupsCtes
       |SELECT doc_id, group_id FROM groups""".stripMargin

  // -- dd12: jaccard duplicate GROUPS via exact-shingle-set contraction
  // The hammingGroups analogue for the MinHash text family (r15; the
  // verb the jaccardPairs pair-budget guard points at): contract to
  // distinct shingle sets, band one representative per set, CC over
  // the representative graph, label members back — linear on
  // duplicate-heaped corpora where dd6's pair expansion is quadratic.
  // Output ≡ dd6 (duplicateGroups over jaccardPairs at the same dd3
  // geometry), so dd6's recursive-CTE oracle gates it unchanged.
  private def jacGroups(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.jaccardGroups(Tables.documents(s, dir),
      "doc_id", "text", DD3Bands, DD3Rows, 0.8)

  // -- dd7: incremental dedup — increment vs existing corpus ------------
  // The daily-pipeline verb the batch-global variants (dd1–dd6) lack:
  // new documents arrive, the corpus is already deduped and its MinHash
  // signature table is a persisted asset — find every near-dup pair
  // TOUCHING the increment without re-pairing the corpus against
  // itself. Fixture split: doc_id % IncMod == 0 (10%) plays the
  // increment. Same dd3 geometry (8 bands × 4 rows, jac >= 0.8), so a
  // pair survives iff it shares a band bucket and verifies — the oracle
  // is dd3's band CTE restricted to inc-touching pairs, which
  // dd7(corpus, inc) equals exactly (same candidates, same
  // verification; property-pinned in DedupSimilaritySpec).
  private[graft] val IncMod = 10

  private def incremental(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpusSigs = graft.api.Dedup.minhashSignatures(
      docs.filter(col("doc_id") % IncMod =!= 0), "doc_id", "text", DD3Bands, DD3Rows)
    val incSigs = graft.api.Dedup.minhashSignatures(
      docs.filter(col("doc_id") % IncMod === 0), "doc_id", "text", DD3Bands, DD3Rows)
    graft.api.Dedup.incrementalJaccardPairs(corpusSigs, incSigs, 0.8)
  }

  private val incrementalSql =
    s"""WITH ${bandCtes(DD3Bands, DD3Rows)}
       |SELECT doc_a, doc_b, jac FROM cand
       |WHERE jac >= 0.8 AND (doc_a % $IncMod = 0 OR doc_b % $IncMod = 0)""".stripMargin

  // -- dd4: SimHash (64-bit) + Hamming-distance pairs -------------------
  // Per distinct token: polynomial hash → 64 affine mod-P votes (see
  // HashKernels.simhashP); signature bit = sign of vote sum. Near-dups =
  // pairs with popcount(xor) <= 3. Candidate generation splits the
  // signature into 4 exact 16-bit pieces: by pigeonhole, hamming <= 3
  // implies at least one identical piece, so an equi-join on
  // (piece_idx, piece_value) finds ALL qualifying pairs — complete, and
  // O(n·4) shuffled rows at any corpus size.
  private def simhash(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text", 3)

  // -- dd8: incremental SimHash — increment vs persisted signature asset
  // dd7's verb for the Hamming signature family: the corpus's 64-bit
  // sigs (SimHash here; mm8's perceptual image hashes are the same
  // shape) are the persisted asset, only the increment's piece rows
  // probe. Oracle = dd4's piece CTE restricted to inc-touching pairs,
  // which dd8(corpus, inc) equals exactly (same pigeonhole candidates,
  // same hamming verification).
  private def incrementalSimhash(s: SparkSession, dir: String): DataFrame = {
    HashFunctions.register(s)
    val docs = Tables.documents(s, dir)
    // r20 A/B note: widening below the simhash kernel measured and
    // REJECTED (dd8 slower, target/r20opt_ab1.log)
    def sigs(df: DataFrame) = df.select(col("doc_id"),
      HashFunctions.simhashText(col("text")).as("sig"))
    graft.api.Dedup.incrementalHammingPairs(
      sigs(docs.filter(col("doc_id") % IncMod =!= 0)),
      sigs(docs.filter(col("doc_id") % IncMod === 0)),
      "doc_id", "sig", 3)
  }

  // -- dd13: dd8 at the r19 extended distance band ----------------------
  // The Hamming family's ladder rung: maxHamming 5 sits in the [4, 7]
  // band where the increment's piece rows expand to their 16 one-bit
  // flips (pigeonhole-complete — Dedup.MaxPieceHamming) and the corpus
  // signature asset stays untouched. The oracle brute-forces bit_count
  // over all pairs BECAUSE the banding is complete — the strongest
  // check available: any probe-expansion miss is a hash mismatch.
  private val LadderMaxHamming = 5

  private def incrementalSimhashLadder(s: SparkSession, dir: String): DataFrame = {
    HashFunctions.register(s)
    val docs = Tables.documents(s, dir)
    // r20 A/B note: widening below the simhash kernel measured and
    // REJECTED (dd13 slower, target/r20opt_ab1.log)
    def sigs(df: DataFrame) = df.select(col("doc_id"),
      HashFunctions.simhashText(col("text")).as("sig"))
    graft.api.Dedup.incrementalHammingPairs(
      sigs(docs.filter(col("doc_id") % IncMod =!= 0)),
      sigs(docs.filter(col("doc_id") % IncMod === 0)),
      "doc_id", "sig", LadderMaxHamming)
  }

  private val simhashSql: String = simhashSqlWhere("")

  private def incSimhashSql: String =
    simhashSqlWhere(s" AND (doc_a % $IncMod = 0 OR doc_b % $IncMod = 0)")

  // dd13's oracle: the r19 ladder's completeness argument IS the
  // oracle simplification — piece banding with 1-bit probes finds
  // every pair at hamming <= 7 (pigeonhole), so the reference result
  // is plain all-pairs bit_count, no piece CTE to mirror
  private def incSimhashLadderSql: String =
    simhashSqlWhere(s" AND (doc_a % $IncMod = 0 OR doc_b % $IncMod = 0)",
      maxH = LadderMaxHamming, brute = true)

  private def simhashSqlWhere(extraWhere: String, maxH: Int = 3,
      brute: Boolean = false): String = {
    import PolyHashConstants.{Half, P, SimA, SimB}
    val votes = (0 until 64).map { b =>
      s"list_sum(list_transform(hs, h -> CASE WHEN (h * ${SimA(b)} + ${SimB(b)}) % $P >= $Half THEN 1 ELSE -1 END)) AS v$b"
    }.mkString(",\n    ")
    // bits 0..62 sum non-negatively; the b=63 term is Long.MinValue —
    // added last so no partial sum overflows BIGINT
    val sig = (0 until 63).map { b =>
      s"(CASE WHEN v$b >= 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString("(", " + ", s" + (CASE WHEN v63 >= 0 THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END))")
    def piece(i: Int) = (0 until 16).map { b =>
      s"(CASE WHEN v${16 * i + b} >= 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    val pieceBranches = (0 until 4).map { i =>
      s"SELECT doc_id, sig, $i AS piece, p$i AS pval FROM sigs"
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    list_distinct(string_split_regex(trim(text), '\\s+')) AS ts
       |  FROM documents),
       |th AS (
       |  SELECT doc_id,
       |    list_transform(ts, t -> ${HashFunctions.strHashPSql("t")}) AS hs
       |  FROM toks),
       |v AS (SELECT doc_id, $votes FROM th),
       |sigs AS (SELECT doc_id, $sig AS sig,
       |  ${piece(0)} AS p0, ${piece(1)} AS p1,
       |  ${piece(2)} AS p2, ${piece(3)} AS p3 FROM v),
       |pieces AS (
       |$pieceBranches),
       |pairs AS (
       |${
        if (brute)
          """  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            |    CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
            |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)""".stripMargin
        else
          """  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
            |    CAST(bit_count(xor(a.sig, b.sig)) AS INTEGER) AS hamming
            |  FROM pieces a JOIN pieces b
            |    ON a.piece = b.piece AND a.pval = b.pval AND a.doc_id < b.doc_id)""".stripMargin
      }
       |SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= $maxH$extraWhere""".stripMargin
  }

  // -- dd5: embedding-cosine near-dup -----------------------------------
  // Candidates from hyperplane-LSH band buckets (the s2 machinery with a
  // dedup-tuned geometry), exact-cosine verification inside buckets via
  // the native FloatVecDot expression. The join is an equi-join on
  // (tbl, sig) — O(n·tables·(1+probes)) shuffled rows, never an
  // all-pairs BroadcastNestedLoopJoin. Selectivity knob: planes ~
  // log(corpus) keeps expected bucket size bounded as n grows; 6 planes
  // × 8 tables is the fixture's point (the fixture's max pair cos is
  // 0.51, so the 0.4 threshold deliberately probes the low-similarity
  // regime). Full Hamming-1 multi-probe (probes = planes) lifts recall
  // there from ~0.5 one-shot to ≥0.9 (DedupSpec planted-pair property)
  // without adding tables — probing neighbor buckets costs slim
  // (id, tbl, sig) candidate rows, not another corpus re-shuffle.
  private val DupTables = 8
  private val DupPlanes = 6

  private def embedDup(s: SparkSession, dir: String): DataFrame =
    graft.api.Dedup.embeddingPairs(Tables.embeddings(s, dir),
      "vec_id", "embedding", DupTables, DupPlanes, 0.4, probes = DupPlanes)

  // -- dd9: incremental embedding dedup — increment vs persisted LSH
  // signature asset. Completes the incremental verb across all three
  // signature families (dd7 MinHash/Jaccard, dd8 Hamming, dd9
  // hyperplane-LSH/cosine): the corpus's (vec_id, embedding, nrm,
  // sigs) table is the persisted asset; only the increment's slim
  // (vec_id, tbl, sig) rows probe it, multi-probe on the increment
  // side only (Hamming-1 adjacency is symmetric, so the recall
  // surface equals dd5's at the same probes). Oracle = dd5's CTE
  // restricted to inc-touching pairs.
  private def incrementalEmbed(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    def sigs(f: Column) = graft.api.Dedup.lshSignatureTable(
      emb.filter(f), "vec_id", "embedding", DupTables, DupPlanes)
    // r18: the auto-radius overload — probes = planes, radius from
    // Similarity.lshIncRadiusFor at the asset geometry (1 here: the
    // fixture's 8x6 geometry already models >=0.93 at the 0.4 bar, so
    // the oracle surface is byte-identical to the pinned form; the
    // ladder routes radius 2-3 on the mid-concentration spread
    // fixtures — measured in target/r18_dd9_ladder.log)
    graft.api.Dedup.incrementalEmbeddingPairs(
      sigs(col("vec_id") % IncMod =!= 0), sigs(col("vec_id") % IncMod === 0),
      0.4, DupTables, DupPlanes, None)
  }

  // -- dd10: incremental connected components — the group step for the
  // daily pipeline. The corpus's (doc_id, group_id) table (a previous
  // dd6 run over corpus-only pairs) is the persisted asset; dd7's
  // incremental pairs are the increment's edges. incrementalGroups
  // collects the pairs and their endpoints' asset rows, contracts each
  // endpoint to its existing group label, runs union-find over the
  // contracted label edges on the driver (never the corpus), and
  // re-expands touched groups' members — so the output is
  // dd6 over corpus ∪ inc restricted to components touched by the
  // increment (property-pinned in DedupSimilaritySpec). Oracle = dd6's
  // recursive CTE over the full table, restricted to components
  // containing an increment doc. Corpus-only banding produces exactly
  // the corpus-corpus subset of full-table banding (candidates are
  // per-doc bucket keys), so asset ∪ incPairs = all dd3 pairs.
  private def incrementalCC(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val corpus = docs.filter(col("doc_id") % IncMod =!= 0)
    val asset = graft.api.Dedup.duplicateGroups(
      graft.api.Dedup.jaccardPairs(corpus, "doc_id", "text", DD3Bands, DD3Rows, 0.8),
      "doc_a", "doc_b")
    graft.api.Dedup.incrementalGroups(asset, incremental(s, dir), "doc_a", "doc_b")
  }

  // -- dd10p: production-shaped dd10 — the operator at its OWN cost ----
  // dd10_inc_groups is the oracle-friendly fixture binding: it rebuilds
  // the corpus groups asset in-query (dd6 over corpus pairs + dd7)
  // before the incremental step, so its wall-clock is ~80% fixture.
  // This binding is the capacity-planner's number: both inputs are
  // pre-seeded parquet assets (written once per JVM under target/ —
  // the cold bench pass pays the seeding, warm passes only read), and
  // the timed plan is ONLY incrementalGroups — the asset streamed
  // against broadcasts, union-find over the contracted label edges.
  // Same oracle as dd10: identical semantics, different input shape.
  private def incrementalCCAsset(s: SparkSession, dir: String): DataFrame = {
    val root = QueryDef.seedOnce(s, "dd10p", dir) { root =>
      val corpus = Tables.documents(s, dir).filter(col("doc_id") % IncMod =!= 0)
      graft.api.Barrier.scoped {
        graft.api.Dedup.duplicateGroups(
            graft.api.Dedup.jaccardPairs(
              corpus, "doc_id", "text", DD3Bands, DD3Rows, 0.8),
            "doc_a", "doc_b")
          .write.mode("overwrite").parquet(s"$root/groups_asset")
        incremental(s, dir)
          .write.mode("overwrite").parquet(s"$root/inc_pairs")
      }
    }
    graft.api.Dedup.incrementalGroups(
      s.read.parquet(s"$root/groups_asset"),
      s.read.parquet(s"$root/inc_pairs"), "doc_a", "doc_b")
  }

  private val incrementalCCSql =
    s"""WITH RECURSIVE ${bandCtes(DD3Bands, DD3Rows)},
       |pairs AS (SELECT doc_a, doc_b FROM cand WHERE jac >= 0.8),
       |ed AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |       UNION ALL SELECT doc_b, doc_a FROM pairs),
       |verts AS (SELECT DISTINCT a AS v FROM ed),
       |reach AS (
       |  SELECT v, v AS r FROM verts
       |  UNION
       |  SELECT reach.v, e.b AS r FROM reach JOIN ed e ON reach.r = e.a),
       |comp AS (SELECT v AS doc_id, MIN(r) AS group_id FROM reach GROUP BY v)
       |SELECT doc_id, group_id FROM comp
       |WHERE group_id IN (
       |  SELECT c2.group_id FROM comp c2 WHERE c2.doc_id % $IncMod = 0)""".stripMargin

  // -- dd11: semantic dedup (SemDeDup) ---------------------------------
  // Deterministic Lloyd k-means over the embeddings (seeds = first
  // SemK vectors, SemIters Lloyd rounds with the quantized fixed-point
  // centroid mean — see Similarity.KMeansQuantScale for why the mean is
  // an integer aggregate), exact-cosine pairs WITHIN final clusters at
  // the dd5 threshold, connected components, keep the member farthest
  // from its centroid per group. The oracle unrolls the Lloyd rounds as
  // a CTE chain (pure BIGINT/IEEE arithmetic at every step) and reuses
  // dd6's recursive-CTE component fixpoint.
  private val SemK = 10     // one seed per fixture label family
  private val SemIters = 2
  private val SemTau = 0.4  // dd5's threshold: fixture max pair cos is 0.51

  private def semantic(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    graft.api.Dedup.semanticSurvivors(
      emb, emb.filter(col("vec_id") < SemK),
      "vec_id", "embedding", SemIters, SemTau)
  }

  private val semanticSql: String = {
    val pairCos =
      s"(${VectorFunctions.dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm))"
    s"""WITH RECURSIVE
       |c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${VectorFunctions.dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |${VectorFunctions.kmeansCtes(SemK, SemIters,
            graft.api.Similarity.KMeansQuantScale)},
       |${VectorFunctions.kmeansCellCte(
            s"assign$SemIters", s"cents${SemIters}n", 1)},
       |pairs AS (
       |  SELECT va, vb FROM (
       |    SELECT a.vec_id AS va, b.vec_id AS vb, $pairCos AS cos
       |    FROM assign$SemIters a JOIN assign$SemIters b
       |      ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id) t
       |  WHERE cos >= $SemTau),
       |ed AS (SELECT va AS a, vb AS b FROM pairs
       |       UNION ALL SELECT vb, va FROM pairs),
       |verts AS (SELECT DISTINCT a AS v FROM ed),
       |reach AS (
       |  SELECT v, v AS r FROM verts
       |  UNION
       |  SELECT reach.v, e.b AS r FROM reach JOIN ed e ON reach.r = e.a),
       |comp AS (SELECT v AS m_id, MIN(r) AS group_id FROM reach GROUP BY v),
       |keepers AS (
       |  SELECT vec_id FROM (
       |    SELECT cp.group_id, a.vec_id,
       |      row_number() OVER (PARTITION BY cp.group_id
       |        ORDER BY a.ccos ASC, a.vec_id ASC) AS r
       |    FROM comp cp JOIN assign$SemIters a ON a.vec_id = cp.m_id) t
       |  WHERE r = 1)
       |SELECT a.vec_id, a.cent_id FROM assign$SemIters a
       |WHERE a.vec_id NOT IN (SELECT m_id FROM comp)
       |   OR a.vec_id IN (SELECT vec_id FROM keepers)""".stripMargin
  }

  private def incEmbedSql: String =
    embedDupSqlWhere(s" AND (vec_a % $IncMod = 0 OR vec_b % $IncMod = 0)")

  private val embedDupSql: String = embedDupSqlWhere("")

  private def embedDupSqlWhere(extraWhere: String): String = {
    val cos = s"(${VectorFunctions.dotSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm))"
    // probe expansion: sig itself plus each single-bit flip (Hamming-1)
    val probeBranches = ("SELECT vec_id, embedding, nrm, tbl, sig FROM sigs" +:
      (0 until DupPlanes).map(p =>
        s"SELECT vec_id, embedding, nrm, tbl, xor(sig, ${1L << p}) AS sig FROM sigs"))
      .mkString("\nUNION ALL\n")
    s"""WITH c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${VectorFunctions.dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |sigs AS (
       |${VectorFunctions.lshSigsSql(DupTables, DupPlanes)}),
       |probes AS (
       |$probeBranches)
       |SELECT DISTINCT vec_a, vec_b, cos FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, $cos AS cos
       |  FROM probes a JOIN sigs b
       |    ON a.tbl = b.tbl AND a.sig = b.sig AND a.vec_id < b.vec_id) p
       |WHERE cos >= 0.4$extraWhere""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("dd1_exact_dedup", exact, Some(exactSql), bench = true),
    QueryDef("dd2_ngram_jaccard", ngramJaccard,
      Some(bandSql(DD2Bands, DD2Rows, 0.5)), bench = true),
    QueryDef("dd3_minhash_lsh", minhashLsh,
      Some(bandSql(DD3Bands, DD3Rows, 0.8)), bench = true),
    QueryDef("dd4_simhash", simhash, Some(simhashSql), bench = true),
    QueryDef("dd5_embed_dup", embedDup, Some(embedDupSql), bench = true),
    QueryDef("dd6_dup_groups", dupGroups, Some(dupGroupsSql), bench = true),
    QueryDef("dd7_incremental", incremental, Some(incrementalSql), bench = true),
    QueryDef("dd8_inc_simhash", incrementalSimhash, Some(incSimhashSql), bench = true),
    // dd13 carries a DISTINCT cost shape from dd8 (17x probe-side
    // piece rows through the same asset join), so it earns a bench row
    QueryDef("dd13_inc_simhash_h5", incrementalSimhashLadder,
      Some(incSimhashLadderSql), bench = true),
    QueryDef("dd9_inc_embed", incrementalEmbed, Some(incEmbedSql), bench = true),
    // dd10's in-query fixture rebuild (~80% of its wall-clock) made its
    // bench row measure the fixture, not the operator — dd10p below is
    // the measured regression surface for the contracted-CC plan
    QueryDef("dd10_inc_groups", incrementalCC, Some(incrementalCCSql)),
    QueryDef("dd10p_inc_groups_asset", incrementalCCAsset,
      Some(incrementalCCSql), bench = true),
    QueryDef("dd11_semantic", semantic, Some(semanticSql), bench = true),
    // benched since r16 (verdict task #3): the verb every jaccard
    // guard message names as the remedy deserves its own committed
    // number — the contraction + representative-band plan differs from
    // dd6's pairs-then-CC shape even where their fixture volumes agree
    QueryDef("dd12_jaccard_groups", jacGroups, Some(dupGroupsSql), bench = true),
  )
}
