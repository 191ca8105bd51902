package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The near-dup increment, defined once: one new batch of documents
  * against the persisted signature and groups assets.
  *
  *   sigs `<tag>` → pairs against the signature asset minus `<tag>`
  *   → upsert of the touched components as groups `<tag>`
  *
  * Every binding runs this one [[step]]: the daily pipelines
  * ([[graft.operators.DailyPipeline]], p6/p6p in
  * [[graft.multimodal.Multimodal]]) with a fixed `inc_0` tag, and
  * [[graft.streaming.StreamingOps.incrementalPairStream]] with
  * `inc_<batchId>`. They share its write order, so they share one crash
  * window and one replay rule: a replay of the same tag reads the assets
  * minus that tag and overwrites the same dirs with the same rows. */
object Increment {

  /** One signature family: the facts every binding needs and that must
    * agree with each other — the signature builder, the incremental
    * pair generator, the guard-key projection of the signature asset,
    * the asset's id column and the pair columns. Built only by the
    * constructors of the companion. */
  final class Family private (
      val signatures: DataFrame => DataFrame,
      val pairs: (DataFrame, DataFrame, Option[DataFrame]) => DataFrame,
      val guardKeys: DataFrame => DataFrame,
      val idCol: String, val aCol: String, val bCol: String)

  object Family {
    /** MinHash/Jaccard ([[Dedup.minhashSignatures]] at `bands` × `rows`,
      * [[Dedup.incrementalJaccardPairs]]); seed the signature asset with
      * the same geometry. */
    def jaccard(idCol: String, textCol: String, bands: Int, rows: Int,
        threshold: Double): Family =
      new Family(Dedup.minhashSignatures(_, idCol, textCol, bands, rows),
        Dedup.incrementalJaccardPairs(_, _, threshold, _),
        Dedup.jaccardGuardKeys, "doc_id", "doc_a", "doc_b")

    /** 64-bit Hamming ([[Dedup.incrementalHammingPairs]]): the input
      * carries precomputed (idCol, sigCol) signatures (SimHash text
      * sigs, perceptual image hashes); the asset stores them as
      * (doc_id, sig). */
    def hamming(idCol: String, sigCol: String, maxHamming: Int = 3): Family =
      new Family(_.select(col(idCol).as("doc_id"), col(sigCol).as("sig")),
        Dedup.incrementalHammingPairs(_, _, "doc_id", "sig", maxHamming, _),
        Dedup.hammingGuardKeys("sig"), "doc_id", "doc_a", "doc_b")

    /** Hyperplane-LSH/cosine ([[Dedup.lshSignatureTable]] at `tables` ×
      * `planes`, [[Dedup.incrementalEmbeddingPairs]] at `probes` and
      * probe `radius`); size the radius with
      * [[Similarity.lshIncRadiusFor]] or use the auto overload. */
    def embedding(idCol: String, vecCol: String, tables: Int, planes: Int,
        threshold: Double, probes: Int = 0, radius: Int = 1): Family =
      new Family(Dedup.lshSignatureTable(_, idCol, vecCol, tables, planes),
        Dedup.incrementalEmbeddingPairs(_, _, threshold, probes, _, radius),
        Dedup.embeddingGuardKeys, "vec_id", "vec_a", "vec_b")

    /** Auto-radius embedding family: probes = planes, and the radius is
      * the first rung of [[Similarity.lshIncRadiusFor]]'s ladder that
      * holds `recallTarget` at `threshold` for the asset geometry. The
      * ladder is arithmetic over that geometry, so it is derived once,
      * here, and every increment probes at it. */
    def embedding(spark: SparkSession, idCol: String, vecCol: String,
        tables: Int, planes: Int, threshold: Double,
        recallTarget: Double): Family =
      embedding(idCol, vecCol, tables, planes, threshold, planes,
        Similarity.lshIncRadiusFor(
          tables, planes, planes, threshold, spark, recallTarget))
  }

  /** Apply one increment, tagged `tag`, to the signature asset at
    * `sigDir` and (when given) the groups asset at `groupsDir`;
    * `incSigs` is `family.signatures` of the increment's rows. Pairs
    * land at `pairsOut`.
    *
    * Reads first, then writes. The three asset reads exclude `tag`, and
    * fail before anything is written when a compaction has already
    * folded `tag` (the rewrite would be skipped by every reader and
    * deleted by the next compaction). The writes then run in one order:
    *  1. the barriered increment signatures are written to
    *     `sigs/<tag>` on a side thread;
    *  2. the pairs are built from the barrier, barriered (when the
    *     groups upsert reads them too), and written to `pairsOut` on a
    *     side thread;
    *  3. [[Dedup.incrementalGroups]] runs on the pairs barrier while the
    *     writes proceed;
    *  4. both writes are joined, and `groups/<tag>` is written last.
    * So `groups/<tag>` is never newer than a partial sigs or pairs dir,
    * and a crash anywhere is repaired by replaying the same tag.
    * `assertDisjointIds` fails the increment, before any write, when
    * an id is already in the signature asset
    * ([[Dedup.assertDisjointIds]]); `maxUpsertDirs` is the groups read's
    * accumulation guard ([[Asset.readUpserts]]). */
  def step(spark: SparkSession, sigDir: String, groupsDir: Option[String],
      pairsOut: String, tag: String, incSigs: DataFrame, family: Family,
      assertDisjointIds: Boolean = false,
      maxUpsertDirs: Int = Asset.DefaultMaxUpsertDirs): Unit =
    Barrier.scoped {
      val corpus = Asset.read(spark, sigDir, excludeInc = Some(tag))
      val hist = Asset.readSidecar(spark, sigDir,
        Asset.pairHistogram(family.guardKeys), excludeInc = Some(tag))
      val groupsAsset = groupsDir.map(d => Asset.readUpserts(spark, d,
        excludeInc = Some(tag), maxUpsertDirs = maxUpsertDirs))
      Overlap.scoped { writes =>
        val inc = Barrier(incSigs)
        if (assertDisjointIds) Dedup.assertDisjointIds(corpus, inc, family.idCol)
        writes.background(s"$tag-sigs") { Asset.writeInc(inc, sigDir, tag) }
        // barriered only for a second reader: the groups upsert
        val built = family.pairs(corpus, inc, hist)
        val pairs = if (groupsDir.isEmpty) built else Barrier(built)
        writes.background(s"$tag-pairs") {
          pairs.write.mode("overwrite").parquet(pairsOut)
        }
        val groups = groupsAsset.map(
          Dedup.incrementalGroups(_, pairs, family.aCol, family.bCol))
        writes.join()
        for (d <- groupsDir; g <- groups) Asset.writeInc(g, d, tag)
      }
    }

  /** Seed yesterday's state, the assets [[step]] runs against:
    * `corpusSigs` (`family.signatures` of the corpus) as the signature
    * asset's seed generation, stamped with the family's guard sidecar
    * so the first increment's precheck never re-scans the corpus, then
    * `groups` (the corpus's duplicate groups, built after the
    * signatures land) as the groups asset's seed. Barriers the groups
    * builder creates are released once it is written. */
  def seed(spark: SparkSession, sigDir: String, groupsDir: String,
      corpusSigs: DataFrame, groups: => DataFrame, family: Family): Unit =
    Barrier.scoped {
      Asset.seed(spark, sigDir, corpusSigs,
        Some(Asset.pairHistogram(family.guardKeys)))
      Asset.seed(spark, groupsDir, groups)
    }

  /** Fold both assets' inc dirs into a new generation at a quiesce
    * point; the signature generation carries the family's guard
    * sidecar ([[Asset.compact]], [[Asset.compactUpserts]]). */
  def compact(spark: SparkSession, sigDir: String, groupsDir: Option[String],
      family: Family, keepSuperseded: Int = 1): Unit = {
    Asset.compact(spark, sigDir, keepSuperseded,
      Some(Asset.pairHistogram(family.guardKeys)))
    groupsDir.foreach(Asset.compactUpserts(spark, _, keepSuperseded))
  }

  /** Keep/drop: the `doc_id`s of `docs` that lead their resolved group
    * in the groups asset at `groupsDir`, or belong to none. The
    * corpus-sized side anti-joins a broadcastable loser set. */
  def survivors(docs: DataFrame, groupsDir: String): DataFrame = {
    val losers = Asset.readUpserts(docs.sparkSession, groupsDir)
      .filter(col("doc_id") =!= col("group_id")).select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "leftanti").select(col("doc_id"))
  }
}
