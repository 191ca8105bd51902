package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (north-star extension).
  *
  *  - s1: brute-force cosine top-k — the correctness baseline. The
  *    (small) query set is broadcast against the corpus, so the corpus
  *    side streams with no shuffle; the only exchange is the final
  *    per-query top-k.
  *  - s2: random-hyperplane LSH — signatures from a native expression
  *    (deterministic integer-congruential hyperplanes), candidates from
  *    a bucket equi-join, exact re-rank inside the bucket. Candidate
  *    generation is O(n·tables) shuffled rows instead of O(n·queries)
  *    dot products — the scale path.
  *  - s3: IVF (inverted-file) — corpus partitioned into cells around
  *    deterministic seed centroids, queries probe the nearest 2 cells.
  *    No driver-side training loop: assignment is a broadcast join +
  *    window top-1, fully distributed.
  *  - s4: IVF over a k-means-TRAINED codebook — the production shape
  *    (train once, assign cells, probe at query time).
  *  - s5: IVF with two-level coarse-quantizer corpus assignment — the
  *    k-grows-with-the-corpus shape (HierNearestCentroid), genuinely
  *    truncated routing (w < k₁) replayed exactly by the oracle.
  */
object SimilarityQueries {

  private[graft] val K = 5          // neighbors per query
  private[graft] val NQueries = 10  // vec_id < 10 are the probe vectors
  private[graft] val NCells = 16    // IVF cells (seeded by vec_id < 16)
  // IVF cells probed per query: the measured knee (STATUS r12, at
  // sf0.01 vs the s1 exact baseline — recall@5 0.90 at nProbe=1, 0.92
  // from 2 through 6, 0.94 only at 8 = probing half the cells;
  // wall-clock flat across the sweep). 2 buys the recall plateau at
  // 1/8 of the cells; past it the extra candidates are pure cost.
  private val NProbe = 2

  // -- s1: brute-force cosine top-k ------------------------------------
  private def bruteTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    graft.api.Similarity.cosineTopK(
      e, e.filter(col("vec_id") < NQueries), "vec_id", "embedding", K)
  }

  private val bruteTopKSql = {
    val cos = VectorFunctions.cosineSql("q.embedding", "c.embedding")
    s"""SELECT q_id, n_id, cos, rank FROM (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id, $cos AS cos,
       |    CAST(row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY $cos DESC, c.vec_id) AS INTEGER) AS rank
       |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
       |  WHERE q.vec_id < $NQueries) t
       |WHERE rank <= $K""".stripMargin
  }

  // -- s2: LSH-bucketed ANN --------------------------------------------
  private def lshTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SimConstants.{NPlanes, NTables}
    val e = Tables.embeddings(s, dir)
    graft.api.Similarity.lshTopK(
      e, e.filter(col("vec_id") < NQueries), "vec_id", "embedding", K,
      NTables, NPlanes)
  }

  // -- s2p: multi-probe LSH ANN ------------------------------------------
  // The measured fix for s2's one-shot recall floor (r14 LSH recall
  // probe: the 4×12 one-shot geometry recalls 1–7% of exact top-5 on
  // the diffuse fixture at every scale): each query also probes every
  // Hamming-1 neighbor bucket per table — the dd5 multi-probe
  // mechanics applied to the query side. The corpus side is untouched
  // (n·tables slim rows); the expansion multiplies only the broadcast
  // query bucket set by (1+planes).
  private def lshProbedTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SimConstants.{NPlanes, NTables}
    val e = Tables.embeddings(s, dir)
    graft.api.Similarity.lshTopK(
      e, e.filter(col("vec_id") < NQueries), "vec_id", "embedding", K,
      NTables, NPlanes, probes = NPlanes)
  }

  // -- s3: IVF ANN ------------------------------------------------------
  // deterministic "training": seed centroids are the first NCells vectors
  private def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    graft.api.Similarity.ivfTopK(
      e, e.filter(col("vec_id") < NQueries), e.filter(col("vec_id") < NCells),
      "vec_id", "embedding", K, NProbe)
  }

  // -- s4: IVF ANN over a k-means-TRAINED codebook ----------------------
  // The production IVF shape (train a codebook, assign corpus cells
  // once, probe at query time): centroids come from
  // Similarity.kmeansCentroids (deterministic Lloyd engine, seeds =
  // first NCells vectors, TrainIters rounds) instead of the raw seed
  // vectors s3 uses. What training buys is cell BALANCE — the max-cell
  // probe cost bound that matters at corpus scale (measured at sf0.1:
  // max/mean 1.18 raw seeds → 1.11 trained) — and robustness to
  // non-representative leading rows (sorted/clustered ingest makes raw
  // seeds pathological; trained centroids track the distribution). On
  // THIS fixture the first 16 vectors are already representative, so
  // s3's recall is a shade higher (0.92-0.98 vs 0.84-0.96 across SFs)
  // — recall here prices the balance, it isn't bought by training.
  private val TrainIters = 2

  private def ivfTrained(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    val cents = graft.api.Similarity.kmeansCentroids(
      e, e.filter(col("vec_id") < NCells), "vec_id", "embedding", TrainIters)
    graft.api.Similarity.ivfTopK(
      e, e.filter(col("vec_id") < NQueries),
      cents.select(col("cent_id").as("vec_id"), col("c_emb").as("embedding")),
      "vec_id", "embedding", K, NProbe)
  }

  // -- s5: IVF with TWO-LEVEL (coarse-quantizer) corpus assignment ------
  // The k-grows-with-the-corpus shape (see HierNearestCentroid): corpus
  // rows route through the top-HierW of NCoarse coarse cells and scan
  // only the fine centroids living there — n·(k₁ + w·k/k₁) dots instead
  // of n·k, still map-only. HierW < NCoarse here, so the oracle
  // exercises the GENUINE truncated routing (the w = k₁ degenerate
  // equality with the flat argmax is pinned in DedupSimilaritySpec).
  private[graft] val NCoarse = 4   // coarse routing cells (vec_id < 4)
  private[graft] val HierW = 2     // coarse cells probed per corpus row

  private def ivfHier(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    graft.api.Similarity.ivfTopKHier(
      e, e.filter(col("vec_id") < NQueries), e.filter(col("vec_id") < NCells),
      e.filter(col("vec_id") < NCoarse),
      "vec_id", "embedding", K, NProbe, HierW)
  }

  // -- s6: product quantization + ADC + exact re-rank -------------------
  // The memory/IO-bound ANN scale path (Jégou et al. 2011): corpus
  // encoded once to PqM sub-quantizer codes (PqM bytes/vector at
  // Ks ≤ 256 vs 4·dim float bytes), queries score candidates by M table
  // lookups against a broadcast LUT, the top-PqRerank per query re-rank
  // exactly. Candidate selection keeps a bounded top-rerank buffer per
  // query in each task, merged on the driver — not a full-corpus window
  // sort (Similarity.adcTopK).
  // Geometry from the r12 sweep vs the s1 exact baseline (STATUS r12;
  // the fixture embeddings are near-uniform — PQ's hard case for
  // NOISE, though the r15 clustered probe showed concentration brings
  // its own wall:
  // compressed within-cluster gaps push the rerank knee toward the
  // cluster population — see Similarity.rerankFor's caveat):
  // (8, 64, rerank 50) measures recall@5
  // 0.90 @ sf0.001 / 0.94 @ sf0.01 where (8, 16, 20) sits at 0.60, and
  // rerank 100 reaches 1.00. 64 codes fit one byte/subspace — 8
  // code-bytes per 256-byte vector, the 16× scan-byte cut s6 exists for.
  private[graft] val PqM = 8        // subspaces (64-dim fixture → d=8)
  private[graft] val PqKs = 64      // codes per sub-quantizer
  private[graft] val PqIters = 2    // L2 Lloyd rounds per sub-quantizer
  private[graft] val PqRerank = 50  // ADC candidates re-ranked exactly

  private def pqTopK(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    graft.api.Similarity.pqTopK(
      e, e.filter(col("vec_id") < NQueries),
      "vec_id", "embedding", K, PqM, PqKs, PqIters, PqRerank)
  }

  // -- s8: IVFADC — coarse cells × PQ residual codes -------------------
  // The canonical FAISS composition (Jégou et al. 2011 §IV): L2 coarse
  // cells prune the candidate scan nProbe/nCells-fold, PQ codes on the
  // RESIDUALS (x − cell centroid) cut its bytes; dot(q, x) decomposes
  // exactly as dot(q, cell) + ADC over the residual LUT. Residuals
  // concentrate near zero, so the same code budget quantizes them
  // better than raw vectors (8×16 codes here match the recall 8×64
  // needs on raw vectors).
  // Geometry from the r12 IVFADC sweep (STATUS r12; recall@5 vs the
  // exact baseline at sf0.01): rerank is NOT the binding constraint
  // here — recall plateaus at 0.86 from rerank 50 to 100 at nProbe 2,
  // i.e. probe-limited (true neighbors in unprobed cells are unreachable),
  // the classic IVF knob. nProbe 3 is the knee (0.88 scanning 3/8 of
  // the codes; 4 probes + rerank 100 reach 0.94 = s6's full-scan
  // recall at half the scan). Residual quantization carries it: 8×16
  // residual codes match what raw vectors need 8×64 for.
  private[graft] val AdcCells = 8     // coarse cells (vec_id < 8 seeds)
  private[graft] val AdcCoarseIters = 2
  private[graft] val AdcKs = 16       // residual codes per sub-quantizer
  private[graft] val AdcProbe = 3     // cells probed per query (knee)

  private def ivfadc(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
    graft.api.Similarity.ivfadcTopK(
      e, e.filter(col("vec_id") < NQueries), "vec_id", "embedding", K,
      AdcCells, AdcCoarseIters, PqM, AdcKs, PqIters, AdcProbe, PqRerank)
  }

  // -- s7: PQ over a PERSISTED index asset — the production shape ------
  // Train once / encode once / probe forever: the codebooks and the
  // encoded corpus index are pre-seeded parquet assets (dd10p's
  // discipline — written once per JVM, the cold bench pass pays the
  // seeding, warm passes only read), and the timed plan is the daily
  // verb: encode the increment against the FROZEN books (one map-only
  // pass — no retraining, the standard PQ operating discipline), union
  // with the manifest-gated index asset read, ADC-probe, re-rank the
  // survivors against the base table. The index asset rides the same
  // generational lifecycle as the dedup signature assets
  // (graft.api.Asset — seed under base/, daily inc_* dirs, compact
  // at quiesce points). Same oracle chain as s6 with training
  // restricted to the corpus split.
  private def pqAsset(s: SparkSession, dir: String): DataFrame = {
    val root = QueryDef.seedOnce(s, "s7p", dir) { root =>
      val corpus = Tables.embeddings(s, dir)
        .filter(col("vec_id") % DedupQueries.IncMod =!= 0)
      graft.api.Barrier.scoped {
        graft.api.Similarity.pqTrain(
            corpus, "vec_id", "embedding", PqM, PqKs, PqIters)
          .write.mode("overwrite").parquet(s"$root/books")
        graft.api.Asset.seed(s, s"$root/pq_index",
          graft.api.Similarity.pqEncodeIndex(corpus,
            s.read.parquet(s"$root/books"), "vec_id", "embedding"))
      }
    }
    val emb = Tables.embeddings(s, dir)
    val books = s.read.parquet(s"$root/books")
    val incIndex = graft.api.Similarity.pqEncodeIndex(
      emb.filter(col("vec_id") % DedupQueries.IncMod === 0),
      books, "vec_id", "embedding")
    val index = graft.api.Asset.read(s, s"$root/pq_index")
      .unionByName(incIndex)
    graft.api.Similarity.pqTopKFromIndex(index, emb,
      emb.filter(col("vec_id") < NQueries), books,
      "vec_id", "embedding", K, PqRerank)
  }

  // -- oracles for the ANN paths ---------------------------------------
  // All pure deterministic arithmetic (hyperplanes are integer
  // congruences, IVF/k-means is cosine + row_number + fixed-point
  // integer means), so DuckDB reproduces them bit-for-bit.

  /** Query-probe + exact re-rank CTEs over existing CTEs
    * `corpus_cells(vec_id, embedding, nrm, cent_id)` and `centsCte`
    * (requires CTE `c(vec_id, embedding, nrm)`). */
  private def ivfProbeSql(centsCte: String): String = {
    val finalCos =
      s"(${VectorFunctions.dotSql("q.q_emb", "p.embedding")} / (q.q_nrm * p.nrm))"
    s"""${VectorFunctions.kmeansCellCte("qc_raw", centsCte, NProbe,
            s" WHERE x.vec_id < $NQueries")},
       |query_cells AS (
       |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, cent_id
       |  FROM qc_raw),
       |cand AS (
       |  SELECT DISTINCT q.q_id, p.vec_id AS n_id, $finalCos AS cos
       |  FROM query_cells q JOIN corpus_cells p
       |    ON q.cent_id = p.cent_id AND q.q_id <> p.vec_id)
       |SELECT q_id, n_id, cos, rank FROM (
       |  SELECT q_id, n_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, n_id) AS INTEGER) AS rank
       |  FROM cand) t
       |WHERE rank <= $K""".stripMargin
  }

  /** IVF probe/re-rank CTE tail over centroid CTE `centsCte` (requires
    * CTE `c(vec_id, embedding, nrm)`). */
  private def ivfSqlTail(centsCte: String): String =
    s"""${VectorFunctions.kmeansCellCte("corpus_cells", centsCte, 1)},
       |${ivfProbeSql(centsCte)}""".stripMargin

  private val normCte =
    s"""c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${VectorFunctions.dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings)""".stripMargin

  private val ivfTopKSql =
    s"""WITH $normCte,
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
       |  FROM c WHERE vec_id < $NCells),
       |${ivfSqlTail("cents")}""".stripMargin

  private val ivfTrainedSql =
    s"""WITH $normCte,
       |${VectorFunctions.kmeansCtes(NCells, TrainIters,
            graft.api.Similarity.KMeansQuantScale)},
       |${ivfSqlTail(s"cents${TrainIters}n")}""".stripMargin

  /** s5 oracle: replays [[graft.api.Similarity.hierAssign]]'s two-level
    * routing exactly — each fine centroid is tagged with ITS nearest
    * coarse cell (flat argmax, ties → lowest id); each corpus row picks
    * its top-HierW coarse cells AMONG THOSE OWNING FINES (the Spark
    * tree drops fine-empty coarse cells, so the oracle must too) and
    * argmaxes over the fines living there. Query-side probing and the
    * re-rank tail are the flat s3 shapes. */
  private val ivfHierSql = {
    def cos(ce: String, cn: String) =
      s"(${VectorFunctions.dotSql(ce, "x.embedding")} / ($cn * x.nrm))"
    val fineCos = s"(${VectorFunctions.dotSql("f.c_emb", "x.embedding")} / (f.c_nrm * x.nrm))"
    s"""WITH $normCte,
       |cents AS (
       |  SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
       |  FROM c WHERE vec_id < $NCells),
       |coarse AS (
       |  SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
       |  FROM c WHERE vec_id < $NCoarse),
       |fine_coarse AS (
       |  SELECT cent_id, c_emb, c_nrm, coarse_id FROM (
       |    SELECT f.cent_id, f.c_emb, f.c_nrm, co.cent_id AS coarse_id,
       |      row_number() OVER (PARTITION BY f.cent_id
       |        ORDER BY ${VectorFunctions.dotSql("co.c_emb", "f.c_emb")}
       |          / (co.c_nrm * f.c_nrm) DESC, co.cent_id) AS r
       |    FROM cents f CROSS JOIN coarse co) t
       |  WHERE r = 1),
       |row_coarse AS (
       |  SELECT vec_id, embedding, nrm, coarse_id FROM (
       |    SELECT x.vec_id, x.embedding, x.nrm, co.cent_id AS coarse_id,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY ${cos("co.c_emb", "co.c_nrm")} DESC, co.cent_id) AS r
       |    FROM c x CROSS JOIN coarse co
       |    WHERE co.cent_id IN (SELECT DISTINCT coarse_id FROM fine_coarse)) t
       |  WHERE r <= $HierW),
       |corpus_cells AS (
       |  SELECT vec_id, embedding, nrm, cent_id FROM (
       |    SELECT x.vec_id, x.embedding, x.nrm, f.cent_id,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY $fineCos DESC, f.cent_id) AS r
       |    FROM row_coarse x JOIN fine_coarse f ON x.coarse_id = f.coarse_id) t
       |  WHERE r = 1),
       |${ivfProbeSql("cents")}""".stripMargin
  }

  private val lshTopKSql = {
    import graft.functions.SimConstants.{NPlanes, NTables}
    val sigBranches = VectorFunctions.lshSigsSql(NTables, NPlanes)
    val cos = s"(${VectorFunctions.dotSql("q.embedding", "p.embedding")} / (q.nrm * p.nrm))"
    s"""WITH c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${VectorFunctions.dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |sigs AS (
       |$sigBranches),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, p.vec_id AS n_id, $cos AS cos
       |  FROM sigs q JOIN sigs p
       |    ON q.tbl = p.tbl AND q.sig = p.sig AND q.vec_id <> p.vec_id
       |  WHERE q.vec_id < $NQueries)
       |SELECT q_id, n_id, cos, rank FROM (
       |  SELECT q_id, n_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, n_id) AS INTEGER) AS rank
       |  FROM cand) t
       |WHERE rank <= $K""".stripMargin
  }

  /** s6 oracle: replays the full PQ chain — per-subspace slices, M
    * independent L2 Lloyd trainings ([[graft.functions.PqFunctions
    * .l2KmeansCtes]] — same quantized fixed-point mean contract as the
    * cosine k-means oracles), argmin-L2 encoding, ADC as the
    * m-ascending ordered fold of per-subspace dots (list(v ORDER BY m)
    * + list_reduce — the kernel's exact accumulation order; a bare SUM
    * would be order-free and can differ in the last ulp), top-PqRerank
    * by ADC-cosine, exact-cosine re-rank. The engine works in code
    * POSITIONS, the oracle in code IDS — same centroids because both
    * orders are ascending-id. */
  private def pqSql(trainWhere: String): String = {
    import graft.functions.PqFunctions
    val d = 8 // fixture dim 64 / PqM — checked at runtime by pqTrain
    val subs = (0 until PqM).map { m =>
      val slices =
        s"""pt$m AS (
           |  SELECT vec_id, list_slice(embedding, ${m * d + 1}, ${(m + 1) * d}) AS embedding
           |  FROM embeddings$trainWhere),
           |p$m AS (
           |  SELECT vec_id, list_slice(embedding, ${m * d + 1}, ${(m + 1) * d}) AS embedding
           |  FROM embeddings)""".stripMargin
      val train = PqFunctions.l2KmeansCtes(s"b${m}_", s"pt$m", PqKs, PqIters,
        graft.api.Similarity.KMeansQuantScale)
      val enc = PqFunctions.l2CellCte(s"enc$m", s"p$m", s"b${m}_cents$PqIters")
      val contrib =
        s"""contrib$m AS (
           |  SELECT q.vec_id AS q_id, e.vec_id AS n_id, $m AS m,
           |    ${VectorFunctions.dotSql("q.embedding", "ct.c_emb")} AS v
           |  FROM p$m q JOIN enc$m e ON q.vec_id <> e.vec_id
           |  JOIN b${m}_cents$PqIters ct ON ct.cent_id = e.cent_id
           |  WHERE q.vec_id < $NQueries)""".stripMargin
      Seq(slices, train, enc, contrib).mkString(",\n")
    }
    val finalCos =
      s"(${VectorFunctions.dotSql("q.embedding", "n.embedding")} / (q.nrm * n.nrm))"
    s"""WITH $normCte,
       |${subs.mkString(",\n")},
       |contrib AS (
       |  ${(0 until PqM).map(m => s"SELECT * FROM contrib$m")
              .mkString("\n  UNION ALL ")}),
       |adc AS (
       |  SELECT q_id, n_id,
       |    list_reduce(list(v ORDER BY m), (x, y) -> x + y) AS adc
       |  FROM contrib GROUP BY q_id, n_id),
       |sel AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT a.q_id, a.n_id,
       |      row_number() OVER (PARTITION BY a.q_id
       |        ORDER BY a.adc / (qn.nrm * cn.nrm) DESC, a.n_id) AS r
       |    FROM adc a JOIN c qn ON qn.vec_id = a.q_id
       |    JOIN c cn ON cn.vec_id = a.n_id) t
       |  WHERE r <= $PqRerank)
       |SELECT q_id, n_id, cos, rank FROM (
       |  SELECT s.q_id, s.n_id, $finalCos AS cos,
       |    CAST(row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY $finalCos DESC, s.n_id) AS INTEGER) AS rank
       |  FROM sel s JOIN c q ON q.vec_id = s.q_id
       |  JOIN c n ON n.vec_id = s.n_id) t
       |WHERE rank <= $K""".stripMargin
  }

  private val pqTopKSql = pqSql("")

  /** s7 = s6's oracle chain with TRAINING restricted to the corpus
    * split — the asset path's semantics exactly: corpus-trained frozen
    * books encode everything (corpus at seed time, increment daily). */
  private val pqAssetSql =
    pqSql(s" WHERE vec_id % ${DedupQueries.IncMod} <> 0")

  /** s8 oracle: the full IVFADC chain — L2 coarse training + cell
    * assignment, exact float residuals (double-subtract-then-round ==
    * float subtraction), per-subspace residual PQ trainings, argmin
    * encoding, query-side top-nProbe cells by elementwise L2 (the
    * FloatVecL2 arithmetic), and adc = cell_dot + the m-ascending
    * ordered residual-LUT fold, then the usual top-R / exact re-rank
    * tail. */
  private val ivfadcSql = {
    import graft.functions.PqFunctions
    val d = 8
    val scale = graft.api.Similarity.KMeansQuantScale
    val coarse =
      s"""cf AS (SELECT vec_id, embedding FROM embeddings),
         |${PqFunctions.l2KmeansCtes("co_", "cf", AdcCells, AdcCoarseIters, scale)},
         |${PqFunctions.l2CellCte("cellassign", "cf", s"co_cents$AdcCoarseIters")},
         |res AS (
         |  SELECT a.vec_id, a.cent_id AS cell_id,
         |    list_transform(range(1, len(a.embedding)+1),
         |      i -> CAST(CAST(a.embedding[i] AS DOUBLE) - CAST(ct.c_emb[i] AS DOUBLE) AS FLOAT)) AS embedding
         |  FROM cellassign a JOIN co_cents$AdcCoarseIters ct ON ct.cent_id = a.cent_id)""".stripMargin
    val probed =
      s"""probed AS (
         |  SELECT vec_id AS q_id, embedding AS q_emb, nrm AS q_nrm, cell_id, cell_dot FROM (
         |    SELECT x.vec_id, x.embedding, x.nrm, ct.cent_id AS cell_id,
         |      ${VectorFunctions.dotSql("x.embedding", "ct.c_emb")} AS cell_dot,
         |      row_number() OVER (PARTITION BY x.vec_id
         |        ORDER BY ${PqFunctions.l2Sql("ct.c_emb", "x.embedding")} ASC, ct.cent_id) AS r
         |    FROM c x CROSS JOIN co_cents$AdcCoarseIters ct
         |    WHERE x.vec_id < $NQueries) t
         |  WHERE r <= $AdcProbe)""".stripMargin
    val subs = (0 until PqM).map { m =>
      val slices =
        s"""rp$m AS (
           |  SELECT vec_id, list_slice(embedding, ${m * d + 1}, ${(m + 1) * d}) AS embedding
           |  FROM res)""".stripMargin
      val train = PqFunctions.l2KmeansCtes(s"rb${m}_", s"rp$m", AdcKs, PqIters, scale)
      val enc = PqFunctions.l2CellCte(s"renc$m", s"rp$m", s"rb${m}_cents$PqIters")
      val qSlice = s"list_slice(q.q_emb, ${m * d + 1}, ${(m + 1) * d})"
      val contrib =
        s"""rcontrib$m AS (
           |  SELECT q.q_id, ca.vec_id AS n_id, $m AS m, q.cell_dot,
           |    ${VectorFunctions.dotSql(qSlice, "ct.c_emb")} AS v
           |  FROM probed q
           |  JOIN cellassign ca ON ca.cent_id = q.cell_id AND ca.vec_id <> q.q_id
           |  JOIN renc$m e ON e.vec_id = ca.vec_id
           |  JOIN rb${m}_cents$PqIters ct ON ct.cent_id = e.cent_id)""".stripMargin
      Seq(slices, train, enc, contrib).mkString(",\n")
    }
    val finalCos =
      s"(${VectorFunctions.dotSql("q.embedding", "n.embedding")} / (q.nrm * n.nrm))"
    s"""WITH $normCte,
       |$coarse,
       |$probed,
       |${subs.mkString(",\n")},
       |rcontrib AS (
       |  ${(0 until PqM).map(m => s"SELECT * FROM rcontrib$m")
              .mkString("\n  UNION ALL ")}),
       |radc AS (
       |  SELECT q_id, n_id,
       |    (MIN(cell_dot) + list_reduce(list(v ORDER BY m), (x, y) -> x + y)) AS adc
       |  FROM rcontrib GROUP BY q_id, n_id),
       |rsel AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT a.q_id, a.n_id,
       |      row_number() OVER (PARTITION BY a.q_id
       |        ORDER BY a.adc / (qn.nrm * cn.nrm) DESC, a.n_id) AS r
       |    FROM radc a JOIN c qn ON qn.vec_id = a.q_id
       |    JOIN c cn ON cn.vec_id = a.n_id) t
       |  WHERE r <= $PqRerank)
       |SELECT q_id, n_id, cos, rank FROM (
       |  SELECT s.q_id, s.n_id, $finalCos AS cos,
       |    CAST(row_number() OVER (PARTITION BY s.q_id
       |      ORDER BY $finalCos DESC, s.n_id) AS INTEGER) AS rank
       |  FROM rsel s JOIN c q ON q.vec_id = s.q_id
       |  JOIN c n ON n.vec_id = s.n_id) t
       |WHERE rank <= $K""".stripMargin
  }

  /** s2p oracle: s2's chain with the query side expanded to its own
    * bucket plus every Hamming-1 flipped bucket (xor with 2^p) —
    * replays the multi-probe band condition exactly. */
  private val lshProbedTopKSql = {
    import graft.functions.SimConstants.{NPlanes, NTables}
    val sigBranches = VectorFunctions.lshSigsSql(NTables, NPlanes)
    val flips = "sig" +: (0 until NPlanes).map(p => s"xor(sig, ${1L << p})")
    val qprobe = flips.map(f =>
      s"SELECT vec_id, embedding, nrm, tbl, $f AS sig FROM qsigs")
      .mkString("\n  UNION ALL\n")
    val cos = s"(${VectorFunctions.dotSql("q.embedding", "p.embedding")} / (q.nrm * p.nrm))"
    s"""WITH c AS (
       |  SELECT vec_id, embedding,
       |    sqrt(${VectorFunctions.dotSql("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |sigs AS (
       |$sigBranches),
       |qsigs AS (SELECT * FROM sigs WHERE vec_id < $NQueries),
       |qprobe AS (
       |$qprobe),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS q_id, p.vec_id AS n_id, $cos AS cos
       |  FROM qprobe q JOIN sigs p
       |    ON q.tbl = p.tbl AND q.sig = p.sig AND q.vec_id <> p.vec_id)
       |SELECT q_id, n_id, cos, rank FROM (
       |  SELECT q_id, n_id, cos,
       |    CAST(row_number() OVER (PARTITION BY q_id
       |      ORDER BY cos DESC, n_id) AS INTEGER) AS rank
       |  FROM cand) t
       |WHERE rank <= $K""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    QueryDef("s1_cosine_topk", bruteTopK, Some(bruteTopKSql), bench = true),
    QueryDef("s2_ann_lsh", lshTopK, Some(lshTopKSql), bench = true),
    // same kernel family as s2 (the bench-subset rule excludes
    // same-kernel twins), so correctness-gated but not benched
    QueryDef("s2p_ann_lsh_probed", lshProbedTopK, Some(lshProbedTopKSql)),
    QueryDef("s3_ann_ivf", ivfTopK, Some(ivfTopKSql), bench = true),
    QueryDef("s4_ann_ivf_trained", ivfTrained, Some(ivfTrainedSql), bench = true),
    QueryDef("s5_ann_ivf_hier", ivfHier, Some(ivfHierSql), bench = true),
    QueryDef("s6_ann_pq_adc", pqTopK, Some(pqTopKSql), bench = true),
    QueryDef("s7_ann_pq_asset", pqAsset, Some(pqAssetSql), bench = true),
    QueryDef("s8_ann_ivfadc", ivfadc, Some(ivfadcSql), bench = true),
  )
}
