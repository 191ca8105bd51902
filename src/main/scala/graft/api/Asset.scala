package graft.api

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The generational asset lifecycle: the persisted state every daily
  * and streaming binding extends — the signature assets of the dedup
  * families, the groups asset, the PQ index and the export pack asset.
  * This is the only module that knows the on-disk layout.
  *
  * Directory layout under one asset root:
  *   base/ (or any non-inc_, non-base_gen name)  seed generation 0,
  *     written by [[seed]]
  *   inc_<batchId>/   one per increment ([[writeInc]])
  *   base_gen<k>/     compacted generation k: the fold of the previous
  *     generation and the inc_* dirs it folded. COMPLETE iff its
  *     `_manifest` exists AND parses to a non-empty fold list. The
  *     manifest is published by atomic rename strictly after the
  *     parquet data (and the generation's sidecars), so a crashed
  *     compaction never leaves a truncated manifest masquerading as
  *     complete; an empty manifest (a real fold covers >= 1 dir) is a
  *     crashed attempt too.
  *   _*               ignored (markers, in-flight work)
  *   <gen>/_<name>/   a generation's [[Sidecar]]; the `_` prefix hides
  *     it from the generation's own parquet scan.
  *
  * A reader takes the newest COMPLETE generation plus every inc_* dir
  * not listed in that generation's manifest — never a folded inc
  * (double rows) and never an incomplete gen (partial data). Append
  * assets ([[read]]) union them; upsert assets ([[readUpserts]])
  * resolve them latest-wins per doc.
  *
  * Retention: superseded dirs are NOT deleted at the compaction that
  * supersedes them — they linger `keepSuperseded` further compactions
  * (default 1), so a concurrent ad-hoc reader that planned its file
  * list against the previous generation still finds those files.
  * Manifests record every folded dir name (seeds included), so a
  * lingering dir is always attributable; a non-lifecycle dir dropped
  * into a compacted asset root fails loud instead of being silently
  * destroyed at the next compaction. */
object Asset {

  /** See [[readUpserts]]'s `maxUpsertDirs`. */
  val DefaultMaxUpsertDirs = 64

  private val GenRe = "base_gen(\\d+)".r

  /** The tag of micro-batch `batchId`'s inc dir. */
  def incTag(batchId: Long): String = s"inc_$batchId"

  /** Write `rows` as the seed generation of the asset at `dir`, then
    * stamp `sidecar` over the written rows — so an asset serves its
    * sidecar from day one instead of from the first compaction. */
  def seed(spark: SparkSession, dir: String, rows: DataFrame,
      sidecar: Option[Sidecar] = None): Unit = {
    rows.write.mode("overwrite").parquet(s"$dir/base")
    sidecar.foreach(writeSidecar(spark, s"$dir/base", _))
  }

  /** Write `rows` as the inc dir `tag` of the asset at `dir`; a replay
    * of the same tag overwrites it. */
  def writeInc(rows: DataFrame, dir: String, tag: String): Unit =
    rows.write.mode("overwrite").parquet(s"$dir/$tag")

  // ---- the scan ------------------------------------------------------

  private def assetFs(spark: SparkSession, dir: String) = {
    val root = new Path(dir)
    (root.getFileSystem(spark.sparkContext.hadoopConfiguration), root)
  }

  /** Asset-root inventory: `gen` = dirs of the newest complete
    * generation (the seed dirs when none exists), `genK` = its number
    * (0 = seeds), `folded` = its manifest (every dir name ever folded,
    * with the first generation that folded it), `liveIncs` = un-folded
    * inc_* dirs, `stale` = superseded dirs tagged with the generation
    * that superseded them (Int.MinValue = crashed attempt, deletable
    * immediately). */
  private final case class AssetScan(
      gen: Seq[Path],
      genK: Int,
      folded: Map[String, Int],
      liveIncs: Seq[Path],
      stale: Seq[(Path, Int)]) {

    /** The live inc dirs minus `excludeInc`. Excluding a tag that a
      * generation already folded fails: its rows are in that
      * generation, so the exclusion cannot hold, and a rewrite of the
      * tag would be skipped by every reader and deleted by a later
      * compaction — an increment lost without an error. */
    def liveExcept(excludeInc: Option[String], dir: String): Seq[Path] = {
      for (t <- excludeInc; k <- folded.get(t))
        throw new IllegalArgumentException(s"inc tag '$t' of the asset at " +
          s"$dir was already folded into generation base_gen$k — its " +
          "rows are in that generation, and a rewrite of the tag would " +
          "be skipped by every reader and deleted by a later compaction. " +
          "Give a new increment a tag no compaction has folded.")
      liveIncs.filterNot(i => excludeInc.contains(i.getName))
    }
  }

  /** One manifest read per generation: None = missing or vanished
    * mid-scan (an expired lingering gen deleted by a concurrent
    * compaction reads as incomplete instead of crashing the scan). */
  private def readManifest(fs: FileSystem, gen: Path): Option[Seq[String]] =
    try {
      val in = fs.open(new Path(gen, "_manifest"))
      try Some(scala.io.Source.fromInputStream(in)
        .getLines().map(_.trim).filter(_.nonEmpty).toList)
      finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private def scanAsset(fs: FileSystem, root: Path): AssetScan = {
    require(fs.exists(root),
      s"asset root $root does not exist — create it and seed a generation " +
        "(e.g. base/) first")
    val dirs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filterNot(_.getName.startsWith("_")).toSeq
    val (incs, genDirs) = dirs.partition(_.getName.startsWith("inc_"))
    val (compacted, seeds) = genDirs.partition(p => GenRe.matches(p.getName))
    val numbered = compacted
      .map { p => val GenRe(k) = p.getName: @unchecked; (k.toInt, p) }
    // ONE manifest read per candidate generation: completeness, the
    // fold set, and per-dir superseded-at ages all derive from it (on
    // an object store each read is a metadata round trip, and scans
    // run per micro-batch)
    val complete = numbered.sortBy(_._1)
      .flatMap { case (j, p) =>
        readManifest(fs, p).filter(_.nonEmpty).map(m => (j, p, m)) }
    complete.lastOption match {
      case Some((k, newest, newestManifest)) =>
        // first generation that folded each name — manifests are
        // cumulative, so lingering manifests date every superseded dir
        val firstFold = scala.collection.mutable.Map[String, Int]()
        complete.foreach { case (j, _, m) =>
          m.foreach(n => if (!firstFold.contains(n)) firstFold(n) = j) }
        val folded = newestManifest.map(n => n -> firstFold(n)).toMap
        val unrecognized = seeds.filterNot(s => folded.contains(s.getName))
        require(unrecognized.isEmpty,
          s"asset at $root holds director(ies) the lifecycle did not " +
            s"create and no generation folded: " +
            s"${unrecognized.map(_.getName).mkString(", ")} — a compacted " +
            "asset only manages inc_* and base_gen* dirs; ingest new data " +
            "as an inc_* dir (or seed a fresh asset root) instead. (If " +
            "this is a seed dir folded by a pre-manifest-format " +
            "compaction whose cleanup crashed, confirm its rows are in " +
            "the newest generation, then delete the dir manually.)")
        val staleSeeds = seeds.map(p => (p, firstFold(p.getName)))
        val staleGens = complete.init.map { case (j, p, _) =>
          (p, complete.find(_._1 > j).get._1) } // superseded by the next gen
        val crashed = numbered.collect { // failed attempts at or below k
          case (j, p) if j <= k && !complete.exists(_._2 == p) =>
            (p, Int.MinValue) }
        val (foldedIncs, liveIncs) =
          incs.partition(i => folded.contains(i.getName))
        AssetScan(Seq(newest), k, folded, liveIncs,
          staleSeeds ++ staleGens ++ crashed ++
            foldedIncs.map(p => (p, firstFold(p.getName))))
      case None =>
        AssetScan(seeds, 0, Map.empty, incs, Seq.empty)
    }
  }

  // ---- the readers ---------------------------------------------------

  /** Read the APPEND asset at `dir` (signatures, the PQ index, the
    * packed rows): newest complete generation + un-folded inc_* dirs,
    * minus `excludeInc` (an increment excludes its OWN tag so a
    * replay never pairs against its previous attempt). Fails loud
    * when the asset is unseeded, and when `excludeInc` names a tag a
    * compaction already folded. */
  def read(spark: SparkSession, dir: String,
      excludeInc: Option[String] = None): DataFrame = {
    val (fs, root) = assetFs(spark, dir)
    val scan = scanAsset(fs, root)
    val parts = (scan.gen ++ scan.liveExcept(excludeInc, dir)).map(_.toString)
    require(parts.nonEmpty,
      s"asset at $dir is unseeded — seed it first (Asset.seed, e.g. " +
        "minhashSignatures / lshSignatureTable output)")
    spark.read.parquet(parts: _*)
  }

  /** Read the (doc_id, group_id) UPSERT asset at `dir` (the groups
    * asset: each inc holds all members of the components a batch
    * touched): per doc, the row from the highest-numbered inc, falling
    * back to the generation. Resolution is the 100 TB merge-on-read
    * shape: the (small) updates resolve among themselves with one
    * window over broadcastable rows, then the generation is STREAMED
    * through a broadcast anti-join on the updated ids — the
    * corpus-sized side is never shuffled. Compaction folds the upserts
    * away entirely.
    *
    * That resolution ASSUMES the un-compacted upserts stay small: a
    * stream that never compacts silently grows them until the
    * broadcast build side OOMs an executor at scale. `maxUpsertDirs`
    * turns that silent degradation into a fail-loud: more live inc_*
    * dirs than the threshold refuses the read and names the fix
    * ([[compactUpserts]] — which itself resolves without the guard:
    * the fix must never be blocked by the condition it fixes). The
    * default (64) is far above any sane compaction cadence (a daily
    * stream that compacts weekly holds ≤ 7); raise it explicitly only
    * to ride out a missed maintenance window. */
  def readUpserts(spark: SparkSession, dir: String,
      excludeInc: Option[String] = None,
      maxUpsertDirs: Int = DefaultMaxUpsertDirs): DataFrame = {
    val (fs, root) = assetFs(spark, dir)
    val scan = scanAsset(fs, root)
    val incs = scan.liveExcept(excludeInc, dir)
    // the guard counts only the dirs that PARTICIPATE in resolution (an
    // excluded replayed batch's own dir never unions into the window)
    require(incs.size <= maxUpsertDirs,
      s"groups asset at $dir holds ${incs.size} un-compacted upsert dirs " +
        s"(> maxUpsertDirs = $maxUpsertDirs) — merge-on-read resolution " +
        "assumes the accumulated upserts stay broadcastable, and a stream " +
        "that never compacts breaks that assumption silently at scale. " +
        "Run Asset.compactUpserts (Dedup.compactGroupsAsset) at a quiesce " +
        "point to fold them; raise maxUpsertDirs only to ride out a " +
        "missed maintenance window")
    resolveUpserts(spark, dir, scan.gen, incs)
  }

  private def resolveUpserts(spark: SparkSession, dir: String,
      gen: Seq[Path], liveIncs: Seq[Path]): DataFrame = {
    def ord(p: Path): Long = {
      val suffix = p.getName.stripPrefix("inc_")
      require(suffix.forall(_.isDigit) && suffix.nonEmpty,
        s"groups asset upsert dir '${p.getName}' is not inc_<batchId> — " +
          "upsert precedence is by numeric batch id")
      suffix.toLong
    }
    val incs = liveIncs.sortBy(ord)
    require(gen.nonEmpty || incs.nonEmpty,
      s"groups asset at $dir is unseeded — seed it with duplicateGroups " +
        "output first (Asset.seed)")
    val updLatest =
      if (incs.isEmpty) None
      else Some {
        val u = incs.map { p =>
          spark.read.parquet(p.toString)
            .select(col("doc_id"), col("group_id"), lit(ord(p)).as("_ord"))
        }.reduce(_ union _)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy(col("_ord").desc)
        Barrier(u.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1)
          .select(col("doc_id"), col("group_id")))
      }
    val base =
      if (gen.isEmpty) None
      else Some(spark.read.parquet(gen.map(_.toString): _*)
        .select(col("doc_id"), col("group_id")))
    (base, updLatest) match {
      case (Some(b), Some(u)) =>
        b.join(broadcast(u.select(col("doc_id"))), Seq("doc_id"), "left_anti")
          .union(u)
      case (Some(b), None) => b
      case (None, Some(u)) => u
      case _ => throw new IllegalStateException("unreachable: require above")
    }
  }

  // ---- the compaction ------------------------------------------------

  /** Fold the append asset's accumulated inc_* dirs into a new
    * generation — the maintenance verb that keeps a long-lived asset
    * from degrading into thousands of small dirs (a year of daily
    * batches is ~365 `listStatus` children and as many tiny-file scans
    * per read: the classic object-store lakehouse failure). Idempotent
    * under retry at every step: the new generation is invisible until
    * its `_manifest` lands, a crashed attempt is simply overwritten,
    * and cleanup of superseded dirs is safe at any point after the
    * manifest exists (readers already ignore them). Safe to run
    * between micro-batches of a live stream — but not concurrently
    * with one (a replayed batch whose inc dir was just folded fails:
    * readers refuse to exclude a folded tag); quiesce the stream first.
    *
    * Retention: the dirs THIS compaction supersedes stay on disk for
    * `keepSuperseded` further compactions (default 1), so an ad-hoc
    * reader that planned its scan against the previous generation
    * still finds every file it planned; `keepSuperseded = 0` deletes
    * them at once (safe only when no reader can be in flight). Returns
    * the number of inc dirs folded (0 = nothing to do; dirs whose
    * retention has expired are still cleaned up).
    *
    * `sidecar`: the new generation also gets that summary of its rows
    * (one extra aggregate over the freshly written generation), so
    * [[readSidecar]] serves it with no inc scan. Compaction is where
    * the asset-sized pass is already paid; a generation compacted
    * without it carries no sidecar. */
  def compact(spark: SparkSession, dir: String, keepSuperseded: Int = 1,
      sidecar: Option[Sidecar] = None): Int =
    compactWith(spark, dir, keepSuperseded, sidecar) { scan =>
      require(scan.gen.nonEmpty, s"asset at $dir has no seed generation")
      spark.read.parquet((scan.gen ++ scan.liveIncs).map(_.toString): _*)
    }

  /** [[compact]] for an upsert asset: the new generation is the
    * latest-wins resolution of the generation and every live upsert,
    * read without [[readUpserts]]' accumulation guard (compaction IS
    * its fix); returns the number of upsert dirs folded. */
  def compactUpserts(spark: SparkSession, dir: String,
      keepSuperseded: Int = 1): Int =
    compactWith(spark, dir, keepSuperseded, None) { scan =>
      resolveUpserts(spark, dir, scan.gen, scan.liveIncs)
    }

  /** The one compaction: scan, expire leftovers when there is nothing
    * to fold, else write generation k+1 from `fold` and delete what
    * has aged past `keepSuperseded`. */
  private def compactWith(spark: SparkSession, dir: String,
      keepSuperseded: Int, sidecar: Option[Sidecar])(
      fold: AssetScan => DataFrame): Int = {
    require(keepSuperseded >= 0,
      s"keepSuperseded must be non-negative, got $keepSuperseded")
    val (fs, root) = assetFs(spark, dir)
    val scan = scanAsset(fs, root)
    if (scan.liveIncs.isEmpty) { // nothing to fold; still expire leftovers
      deleteAged(fs, scan.stale, scan.genK - keepSuperseded)
      return 0
    }
    val k = scan.genK + 1
    val folding = scan.gen ++ scan.liveIncs
    Barrier.scoped {
      writeGeneration(spark, fs, root, k, fold(scan),
        scan.folded.keySet ++ folding.map(_.getName), sidecar)
    }
    deleteAged(fs, scan.stale ++ folding.map((_, k)), k - keepSuperseded)
    scan.liveIncs.size
  }

  /** Write `df` as generation `base_gen<k>` with its completion marker
    * LAST: the gen is invisible to readers until the `_manifest` — the
    * cumulative fold list, seed and generation names included — exists,
    * and the manifest itself is published by write-to-temp + atomic
    * rename, so a crash mid-write can never expose a truncated manifest
    * as a complete generation. The sidecar (aggregated over the FRESH
    * parquet, not the pre-fold lineage a second time) lands under the
    * gen dir before the manifest — a generation is never complete
    * without it. */
  private def writeGeneration(spark: SparkSession, fs: FileSystem, root: Path,
      k: Int, df: DataFrame, manifest: Set[String],
      sidecar: Option[Sidecar]): Unit = {
    val target = new Path(root, s"base_gen$k")
    df.write.mode("overwrite").parquet(target.toString)
    sidecar.foreach(writeSidecar(spark, target.toString, _))
    val tmp = new Path(target, "_manifest.tmp")
    val out = fs.create(tmp, true)
    try out.write(manifest.toSeq.sorted
      .mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(tmp, new Path(target, "_manifest")),
      s"failed to publish manifest under $target")
  }

  /** Delete every stale dir superseded at or before generation
    * `maxGen` (crashed attempts carry Int.MinValue: always eligible). */
  private def deleteAged(fs: FileSystem, stale: Seq[(Path, Int)],
      maxGen: Int): Unit =
    stale.collect { case (p, j) if j <= maxGen => p }
      .foreach(p => fs.delete(p, true))

  // ---- the sidecar hook ----------------------------------------------

  /** A per-generation summary of an append asset's rows, stored under
    * the generation as `_<name>/` and completed at read time by the
    * live incs. `summarize` maps rows to a partial summary, `merge`
    * combines a union of partials into one, and `keep` trims what a
    * stored generation summary retains (it must only ever make the
    * read over-state, never under-state, what the consumer bounds).
    * [[pairHistogram]] is the dedup guards' sidecar;
    * [[graft.api.Export.packTotal]] is the pack asset's running token
    * total. */
  final case class Sidecar(name: String,
      summarize: DataFrame => DataFrame,
      merge: DataFrame => DataFrame,
      keep: DataFrame => DataFrame = identity)

  /** The pair-budget histogram (`_pairhist`): per guard key of the
    * family's projection `guardKeys` ([[Dedup.jaccardGuardKeys]] and
    * the rest), its copy count `cc` — the incremental guards' corpus
    * side, so their per-call precheck is Θ(increment + sidecar)
    * instead of a second full corpus scan. A generation keeps ONLY
    * keys with cc ≥ 2 (duplicate heaps / hot buckets; singleton keys
    * would make the sidecar corpus-sized for nothing — the guards
    * model an absent key as ≤ 1 copy with a +1 floor, so truncation
    * only ever OVER-estimates, by ≤ |increment| pairs). */
  def pairHistogram(guardKeys: DataFrame => DataFrame): Sidecar =
    Sidecar("pairhist",
      summarize = rows => guardKeys(rows).groupBy("k").agg(count(lit(1)).as("cc")),
      merge = _.groupBy("k").agg(sum("cc").as("cc")),
      keep = _.filter(col("cc") >= 2))

  /** Stamp `sidecar` over the rows of the generation dir `genDir`
    * (a seed dir such as `<asset>/base`; compacted generations get
    * theirs from [[compact]]). */
  def writeSidecar(spark: SparkSession, genDir: String, sidecar: Sidecar): Unit =
    sidecar.keep(sidecar.summarize(spark.read.parquet(genDir)))
      .write.mode("overwrite").parquet(new Path(genDir, "_" + sidecar.name).toString)

  /** Read `sidecar` for the asset at `dir`: the newest generation's
    * stored summary, merged with `summarize` over the un-folded inc_*
    * dirs minus `excludeInc` (aggregated at read time — Θ(increments
    * since the last compaction), the same freshness contract as
    * [[read]]). None when the newest generation carries no stored
    * sidecar (a seed never stamped, a generation compacted without
    * it), and when the generation is several seed dirs: per-dir
    * stored summaries are trimmed per dir (`keep`), so a key holding
    * one copy in each of two seeds is absent from both and no merge
    * can recover it. A compacted generation is always one dir, so the
    * first compaction restores the sidecar. */
  def readSidecar(spark: SparkSession, dir: String, sidecar: Sidecar,
      excludeInc: Option[String] = None): Option[DataFrame] = {
    val (fs, root) = assetFs(spark, dir)
    val scan = scanAsset(fs, root)
    val stored = scan.gen.map(new Path(_, "_" + sidecar.name))
    if (stored.size != 1 || !fs.exists(stored.head)) return None
    // read the stored part files: Spark treats the `_`-prefixed dir
    // itself as a hidden path and logs that it ignored it
    val parts = fs.listStatus(stored.head).map(_.getPath)
      .filterNot(f => f.getName.startsWith("_") || f.getName.startsWith("."))
    val genPart = spark.read.parquet(
      (if (parts.nonEmpty) parts.toSeq else stored).map(_.toString): _*)
    val incs = scan.liveExcept(excludeInc, dir)
    Some(
      if (incs.isEmpty) genPart
      else sidecar.merge(genPart.union(
        sidecar.summarize(spark.read.parquet(incs.map(_.toString): _*)))))
  }
}
