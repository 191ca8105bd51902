package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.PolyHashConstants

/** Training-data EXPORT operators — the last mile of a curation
  * pipeline, after dedup/quality/mixing have chosen the keep-set:
  *
  *  1. deterministic global shuffle (every run, engine, and task retry
  *     produces the identical permutation — no RNG state, no
  *     `rand()` re-rolls under Spark's recompute-on-failure model);
  *  2. token-aware sequence packing (concat-then-chunk: lay all
  *     documents out in shuffled order and cut fixed-length training
  *     sequences across document boundaries — the standard LM
  *     pretraining packing);
  *  3. round-robin shard assignment over the shuffled order (each
  *     shard is itself a uniform sample of the corpus, so shard-
  *     sequential training reads are unbiased).
  *
  * No reference analogue (corral stops at MapReduce verbs); north-star
  * extension per SURVEY.md §2.3's pipeline charter.
  *
  * Scale design — the point of this file. A global shuffle needs every
  * row's POSITION in a total order, which the naive form computes with
  * one `row_number()` window over an unpartitioned `ORDER BY` — a
  * single-partition sort of the whole corpus, the canonical 100 TB
  * anti-pattern. Here position assignment is a distributed two-phase
  * prefix sum, entirely declarative (Catalyst sees every step, nothing
  * collects to the driver):
  *
  *   - the shuffle key `scramble(id+seed)` ∈ [0, P) is range-bucketed
  *     by its high bits (`key >> shift` — pure BIGINT, monotone in
  *     key, ≤ ceil(P/2^shift) buckets);
  *   - phase 1 aggregates one count (or token sum) per bucket — a
  *     map-side-combined groupBy whose output is at most the bucket
  *     count (kilobytes);
  *   - bucket offsets are a running total over that tiny aggregate
  *     (the one unpartitioned window in the plan, bounded by 2^(31-shift)
  *     rows, NOT by the data) and broadcast back;
  *   - phase 2 ranks rows within their bucket (`row_number` over a
  *     window PARTITIONED by bucket — the only data-sized exchange,
  *     and it is the sort any global shuffle inherently pays, spread
  *     over ~P/2^shift uniform buckets thanks to scramble uniformity).
  *
  * `shift` trades bucket count against per-bucket sort size: shift 18
  * ⇒ ~7.8k buckets; a 10^11-row corpus sorts ~1.3e7 rows per bucket
  * task. Every arithmetic step is an exact BIGINT congruence replayed
  * verbatim by the DuckDB oracle (which uses the naive global window —
  * an independent formulation of the same total order).
  */
object Export {
  import PolyHashConstants.P

  private val KeyCol = "_shuf_key"
  private val BucketCol = "_shuf_bucket"
  private val OffCol = "_bucket_off"

  /** Seeded deterministic shuffle key ∈ [0, P): the Sampling scramble
    * congruence over id+seed. Seeds are small nonneg longs (the sum
    * must not overflow; ids and seeds both ≪ 2^62). */
  def shuffleKey(id: Column, seed: Long): Column = {
    require(seed >= 0, s"seed must be >= 0, got $seed")
    Sampling.scramble(id + lit(seed))
  }

  /** DuckDB twin of [[shuffleKey]] — identical BIGINT congruence. */
  def shuffleKeySql(id: String, seed: Long): String =
    Sampling.scrambleSql(s"($id + $seed)")

  /** Monotone range-bucket of the key: its high bits. Pure BIGINT in
    * both engines; bucket count = ceil(P / 2^shift). */
  def rangeBucket(key: Column, shift: Int): Column = {
    require(shift >= 0 && shift <= 31, s"shift must be in [0, 31], got $shift")
    shiftright(key, shift)
  }

  private def requireFree(df: DataFrame, cols: String*): Unit = cols.foreach { c =>
    require(!df.columns.contains(c),
      s"Export emits/uses a `$c` column; rename the input's `$c` first")
  }

  /** Input + its internal key/bucket columns. */
  private def keyed(df: DataFrame, idCol: String, seed: Long, shift: Int): DataFrame =
    df.withColumn(KeyCol, shuffleKey(col(idCol), seed))
      .withColumn(BucketCol, rangeBucket(col(KeyCol), shift))

  /** Bucket → running total of `per` over all LOWER buckets (the
    * prefix-sum phase; ≤ 2^(31-shift) rows, kilobytes — see scaladoc). */
  private def bucketOffsets(k: DataFrame, per: Column): DataFrame = {
    val w = Window.orderBy(col(BucketCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    k.groupBy(col(BucketCol)).agg(per.as("_bucket_total"))
      .withColumn(OffCol, coalesce(sum(col("_bucket_total")).over(w), lit(0L)))
      .drop("_bucket_total")
  }

  /** Appends `pos` — the row's 0-based position in the shuffled total
    * order (scramble(id+seed), id) — as a permutation of 0..n-1.
    * Distributed two-phase prefix sum; see the object scaladoc for the
    * plan shape. Output column set = input + `pos`. */
  def globalPositions(df: DataFrame, idCol: String, seed: Long,
      shift: Int = 18): DataFrame = {
    requireFree(df, "pos", KeyCol, BucketCol, OffCol)
    val k = keyed(df, idCol, seed, shift)
    val offsets = bucketOffsets(k, count(lit(1)))
    val wRank = Window.partitionBy(col(BucketCol))
      .orderBy(col(KeyCol), col(idCol))
    k.join(broadcast(offsets), BucketCol)
      .withColumn("pos", col(OffCol) + row_number().over(wRank).cast("long") - 1L)
      .drop(KeyCol, BucketCol, OffCol)
  }

  /** Concat-then-chunk sequence packing: lay documents out in the
    * shuffled order, accumulate token counts, and cut sequences of
    * `seqLen` tokens across document boundaries. Appends
    *   - `cum_before`: tokens preceding this document in the order;
    *   - `seq_id`: the training sequence its first token lands in;
    *   - `seq_off`: offset of that token within the sequence.
    * Same two-phase prefix sum as [[globalPositions]], summing tokens
    * instead of counting rows. Token counts must be ≥ 0 (fail-loud per
    * row — a negative count would corrupt every later position). */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
      seed: Long, seqLen: Long, shift: Int = 18): DataFrame = {
    require(seqLen > 0, s"seqLen must be > 0, got $seqLen")
    requireFree(df, "cum_before", "seq_id", "seq_off", KeyCol, BucketCol, OffCol)
    val checked = when(col(tokensCol) >= 0, col(tokensCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"packSequences: negative $tokensCol for $idCol="),
        col(idCol).cast("string"))))
    val k = keyed(df, idCol, seed, shift)
    val offsets = bucketOffsets(k, sum(checked).as("_t"))
    val wCum = Window.partitionBy(col(BucketCol))
      .orderBy(col(KeyCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = col(OffCol) + sum(checked).over(wCum) - checked
    addSeqCols(
      k.join(broadcast(offsets), BucketCol).withColumn("cum_before", cum),
      seqLen)
      .drop(KeyCol, BucketCol, OffCol)
  }

  /** seq_id/seq_off from an existing nonneg `cum_before`. Integer
    * `div` keeps the whole computation in BIGINT congruence arithmetic
    * — Spark's `/` is double-valued and would lose exactness past
    * 2^53 total tokens, a reachable number for a 100 TB corpus. */
  private def addSeqCols(df: DataFrame, seqLen: Long): DataFrame = df
    .withColumn("seq_id", expr(s"cum_before div ${seqLen}L"))
    .withColumn("seq_off", col("cum_before") % seqLen)

  /** Incremental packing — the daily verb: pack an INCREMENT after an
    * already-packed corpus, without touching it. `base` is a 1-row
    * frame holding the corpus's total token count (column
    * `base_tokens`); the increment is shuffled among itself and its
    * token layout continues where the corpus ended, so corpus
    * sequences are never rewritten (append-only export, the dd7/p4p
    * asset discipline applied to packing). Work is Θ(increment) plus
    * the broadcast of one row. */
  def packSequencesAfter(inc: DataFrame, idCol: String, tokensCol: String,
      base: DataFrame, seed: Long, seqLen: Long, shift: Int = 18): DataFrame = {
    require(base.columns.contains("base_tokens"),
      "base must carry a base_tokens column (1-row corpus token total)")
    val packed = packSequences(inc, idCol, tokensCol, seed, seqLen, shift)
      .drop("seq_id", "seq_off")
    addSeqCols(
      packed.crossJoin(broadcast(base.select(col("base_tokens"))))
        .withColumn("cum_before", col("cum_before") + col("base_tokens"))
        .drop("base_tokens"),
      seqLen)
  }

  // ---- pack asset: the streaming twin's durable state -----------------

  /** The pack asset's running token total as an [[Asset.Sidecar]]: the
    * end of the packed layout, max(`cum_before` + `tokensCol`) over the
    * packed rows (0 when empty). A generation stores its own; a read
    * adds the max over the live inc dirs (totals are monotone — each
    * batch continues where its predecessor ended — so the max is the
    * newest end). */
  def packTotal(tokensCol: String): Asset.Sidecar = Asset.Sidecar("packtotal",
    summarize = _.agg(coalesce(max(col("cum_before") + col(tokensCol)), lit(0L))
      .as("end_total")),
    merge = _.agg(max(col("end_total")).as("end_total")))

  /** Seed a PACK ASSET at `packDir`: the corpus packed as the seed
    * generation of an append [[Asset]], stamped with its [[packTotal]]
    * sidecar — the total is derived from the WRITTEN rows (not the
    * input plan), so it can never disagree with the durable data.
    * [[graft.streaming.StreamingOps.packIncrementStream]] appends one
    * inc dir per batch and compacts with the same sidecar. */
  def seedPackAsset(corpus: DataFrame, idCol: String, tokensCol: String,
      packDir: String, seed: Long, seqLen: Long, shift: Int = 18): Unit =
    Asset.seed(corpus.sparkSession, packDir,
      packSequences(corpus, idCol, tokensCol, seed, seqLen, shift),
      Some(packTotal(tokensCol)))

  /** The pack asset's current running token total ([[Asset.readSidecar]]
    * of [[packTotal]]). `exclude` drops one inc dir so a REPLAYED
    * streaming batch reads its predecessor's total, not its own
    * previous attempt's. Fails when the asset carries no total (packed
    * rows written without [[seedPackAsset]]) instead of reading 0. */
  def readPackTotal(spark: org.apache.spark.sql.SparkSession, packDir: String,
      tokensCol: String, exclude: Option[String] = None): Long =
    Asset.readSidecar(spark, packDir, packTotal(tokensCol), exclude)
      .getOrElse(throw new IllegalArgumentException(s"pack asset at $packDir " +
        "carries no running token total — seed it with Export.seedPackAsset"))
      .head.getLong(0)

  /** MATERIALIZE the deterministic shuffle as real shard files — the
    * artifact a training launch actually reads (the reference's jobs
    * likewise end in written `output-part-<B>` files,
    * `/root/reference/internal/pkg/corral/job.go:113`; our export tail
    * should too, not stop at a declarative manifest). Layout: parquet
    * partitioned by `shard` (`<out>/shard=<s>/…`), each row carrying
    * `shard_pos` — its 0-based read order within the shard — plus
    * every input column.
    *
    * Scale shape: positions come from the two-phase prefix sum (no
    * unpartitioned data-sized window), then ONE hash exchange on
    * `shard` co-locates each shard before the write — that exchange is
    * the movement any sharded export inherently pays. Rows are sorted
    * by `shard_pos` within each written file, so a shard-sequential
    * reader streams the shuffled order without a sort. `nShards` is
    * the exporter's parallelism knob: size it so a shard fits a
    * reader (thousands at corpus scale — one task each here). Works
    * against any registered FileSystem scheme (`file:`, `graftfs://`,
    * `s3g://` — pinned in ExportWriteSpec). */
  def writeShards(df: DataFrame, idCol: String, seed: Long, nShards: Int,
      out: String, shift: Int = 18): Unit = {
    requireFree(df, "shard", "shard_pos")
    val p = globalPositions(df, idCol, seed, shift)
    val (shard, shardPos) = roundRobinShard(col("pos"), nShards)
    p.withColumn("shard", shard).withColumn("shard_pos", shardPos)
      .drop("pos")
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("shard_pos"))
      .write.mode("overwrite").partitionBy("shard").parquet(out)
  }

  /** Round-robin shard of a 0-based position: (pos % n, pos div n).
    * Contiguous positions spread across shards, so each shard is a
    * uniform sample of the shuffled corpus and shard sizes differ by
    * ≤ 1 row. Returns (shard, shardPos) columns to alias. */
  def roundRobinShard(pos: Column, nShards: Int): (Column, Column) = {
    require(nShards > 0, s"nShards must be > 0, got $nShards")
    val shard = pos % nShards
    // integer div, not double `/`: exact for any BIGINT position
    val shardPos = call_function("div", pos, lit(nShards.toLong))
    (shard, shardPos)
  }
}
