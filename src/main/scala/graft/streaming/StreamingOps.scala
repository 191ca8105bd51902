package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface (extension — the reference is batch-only,
  * SURVEY.md §2.3). Transform builders are pure functions over DataFrames
  * so the identical logic runs on a batch frame (tested against the
  * DuckDB oracle via st1_sessionize) and on a `readStream` frame.
  */
object StreamingOps {

  /** Tumbling event-time window counts with a watermark — the canonical
    * streaming aggregation. Works on batch or streaming input. */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("wstart"), col("event_type"),
        col("n"), col("sum_value"))

  final case class Event(user_id: Long, event_id: Long, tsUs: Long)
  final case class SessionUpdate(user_id: Long, n_events: Long,
      start_us: Long, end_us: Long, closed: Boolean)
  private final case class SessionState(n: Long, start: Long, end: Long)

  implicit val longEnc: Encoder[Long] = Encoders.scalaLong
  implicit val evEnc: Encoder[Event] = Encoders.product[Event]
  implicit val suEnc: Encoder[SessionUpdate] = Encoders.product[SessionUpdate]
  private implicit val stEnc: Encoder[SessionState] = Encoders.product[SessionState]

  val SessionGapUs: Long = 30L * 60 * 1000 * 1000

  /** Custom stateful operator: session tracking per user with a
    * processing-time timeout — the `mapGroupsWithState` surface. */
  def sessionizeStream(events: Dataset[Event]): Dataset[SessionUpdate] =
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.ProcessingTimeTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            SessionUpdate(userId, st.n, st.start, st.end, closed = true)
          } else {
            val evs = batch.toSeq.sortBy(e => (e.tsUs, e.event_id))
            val init = state.getOption.getOrElse(
              SessionState(0, evs.head.tsUs, evs.head.tsUs))
            val st = evs.foldLeft(init) { (acc, e) =>
              if (acc.n > 0 && e.tsUs - acc.end > SessionGapUs)
                SessionState(1, e.tsUs, e.tsUs) // new session (prior one closes)
              else SessionState(acc.n + 1, acc.start, e.tsUs)
            }
            state.update(st)
            state.setTimeoutDuration("30 minutes")
            SessionUpdate(userId, st.n, st.start, st.end, closed = false)
          }
        })

  /** flatMapGroupsWithState variant: emits ONLY closed sessions (0..n
    * outputs per group per batch — the shape mapGroupsWithState can't
    * express). Sessions close when a new event arrives past the gap. */
  def closedSessions(events: Dataset[Event]): Dataset[SessionUpdate] =
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) => {
          val evs = batch.toSeq.sortBy(e => (e.tsUs, e.event_id))
          var st = state.getOption.orNull
          val closed = Seq.newBuilder[SessionUpdate]
          evs.foreach { e =>
            if (st == null) st = SessionState(1, e.tsUs, e.tsUs)
            else if (e.tsUs - st.end > SessionGapUs) {
              closed += SessionUpdate(userId, st.n, st.start, st.end, closed = true)
              st = SessionState(1, e.tsUs, e.tsUs)
            } else st = SessionState(st.n + 1, st.start, e.tsUs)
          }
          if (st != null) state.update(st)
          closed.result().iterator
        })

  /** Streaming exact dedup — the dd1 twin for continuous ingestion:
    * per-key first-wins within the watermark horizon
    * (dropDuplicatesWithinWatermark: dedup state is keyed by the key
    * columns alone and AGES OUT with the watermark). Bounded state is
    * what makes this viable on an unbounded stream at 100 TB/day — a
    * plain dropDuplicates(keys) would grow state forever, and
    * including the timestamp in the key misses re-sends with a new
    * timestamp. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Corpus-curation transform shared VERBATIM by batch and streaming
    * inputs — the quality gates (t7 repetition stats) and PII redaction
    * (t8) are pure per-row projections/filters, so the identical Column
    * program runs on a `readStream` frame with no stateful operators:
    * the streaming ingest path of a training-data pipeline (filter +
    * redact at landing time, before anything is persisted). Expects
    * (doc_id, lang, text); emits the survivors with redacted text. */
  def curateDocs(docs: DataFrame,
      minUniqWordFrac: Double = 0.3,
      maxTop2GramFrac: Double = 0.5): DataFrame = {
    graft.functions.HashFunctions.register(docs.sparkSession)
    import graft.functions.HashFunctions.{wordNGrams => ngrams}
    val toks = ngrams(col("text"), 1)
    val g2 = ngrams(col("text"), 2)
    val top2 = aggregate(array_distinct(g2), lit(0), (acc, g) =>
      greatest(acc, size(filter(g2, x => x === g))))
    val uniqFrac = size(array_distinct(toks)).cast("double") /
      size(toks).cast("double")
    val top2Frac = when(size(g2) === 0, lit(0.0))
      .otherwise(top2.cast("double") / size(g2).cast("double"))
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "555-[0-9]{4}"
    docs
      .filter(uniqFrac >= minUniqWordFrac && top2Frac <= maxTop2GramFrac)
      .select(col("doc_id"), col("lang"),
        regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>").as("clean_text"))
  }

  /** The one micro-batch skeleton of the asset streams: drain `data`
    * with `Trigger.AvailableNow` under `checkpointDir`, and per batch
    * check the lineage of every asset dir (see [[requireLineage]]),
    * then run `body(batch, batchId)` inside a [[graft.api.Barrier.scoped]]
    * (a long stream does not accumulate cached frames under `persist`
    * barrier mode). `compactOnFinish` makes the call BLOCK until the
    * drain terminates, then runs `compact` — the stream's natural
    * quiesce point, so a fold can never race a micro-batch. A failed
    * stream skips compaction: its exception surfaces from
    * awaitTermination untouched. */
  private def microBatches(data: DataFrame, checkpointDir: String,
      assetDirs: Seq[String], compactOnFinish: Boolean)(
      body: (DataFrame, Long) => Unit)(
      compact: SparkSession => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val query = data.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        assetDirs.foreach(requireLineage(batch.sparkSession, _, checkpointDir))
        graft.api.Barrier.scoped(body(batch.toDF(), batchId))
      }
      .start()
    if (compactOnFinish) {
      query.awaitTermination()
      compact(data.sparkSession)
    }
    query
  }

  /** Continuous ingest-and-dedup for any signature family
    * ([[graft.api.Increment.Family]]: MinHash/Jaccard, 64-bit Hamming,
    * hyperplane-LSH/cosine). Micro-batch `<id>` is the increment
    * [[graft.api.Increment.step]] with tag `inc_<id>`: its signatures
    * land as `sigDir/inc_<id>`, its pairs against the asset (and within
    * the batch) as `pairsDir/batch=<id>`, and — with `groupsDir` — the
    * touched components as the upsert `groupsDir/inc_<id>`. So every
    * batch dedups against the seed corpus plus all earlier batches, the
    * union of the per-batch pairs equals ONE batch incremental run over
    * the whole increment, and the resolved groups asset equals ONE
    * batch `duplicateGroups` over corpus ∪ all processed increments
    * (StreamingSpec pins both). Seed `sigDir` (e.g. `base/`) with the
    * family's signatures of the corpus at the same geometry, and
    * `groupsDir` with [[graft.api.Dedup.duplicateGroups]] over the
    * corpus pairs.
    *
    * Exactly-once under retries is the step's replay rule: the reads
    * exclude the batch's own tag, the writes overwrite deterministic
    * per-batch dirs. The asset roots are stamped with a `_lineage`
    * marker naming this query's checkpoint dir: a fresh checkpoint
    * restarts batchIds at 0 and would overwrite `inc_0`, so it fails
    * loud. Delete `_lineage` (or the whole checkpoint+asset pair) to
    * intentionally re-seed.
    *
    * `assertDisjointIds` (opt-in; one corpus scan per batch): fail loud
    * when a batch re-uses an id already in the asset — e.g. a re-ingested
    * document. WITHOUT the flag a collision is SILENT corruption, not an
    * error: the verification union holds both rows and the batch emits
    * duplicate/incorrect pairs ([[graft.api.Dedup.assertDisjointIds]]).
    *
    * Guard cost per micro-batch: the pair generators' budget prechecks
    * read the asset's `_pairhist` sidecar
    * ([[graft.api.Dedup.readSignatureHistogram]]), Θ(batch +
    * un-compacted incs). Before the first compaction there is no
    * sidecar and the precheck falls back to the full aggregate (one
    * more slim streamed asset scan per batch); `compactOnFinish` writes
    * the sidecar with the fold, so a compacted asset upgrades every
    * later run. A duplicate-heap batch kills the stream LOUDLY with the
    * estimate and remedy instead of OOM'ing an executor mid-join; set
    * [[graft.api.Dedup.PairBudgetConfKey]] /
    * [[graft.api.Dedup.CandBudgetConfKey]] to `warn` or `off` on the
    * stream's session to skip that.
    *
    * `compactOnFinish = true` blocks until the AvailableNow drain
    * terminates, then folds both assets ([[graft.api.Increment.compact]];
    * `keepSuperseded` as in [[graft.api.Dedup.compactSignatureAsset]]).
    * `maxUpsertDirs` is the per-batch groups read's accumulation guard
    * ([[graft.api.Dedup.readGroupsAsset]]): a stream draining more
    * batches than that between compactions must raise it or compact. */
  def incrementalPairStream(docs: DataFrame, family: graft.api.Increment.Family,
      sigDir: String, pairsDir: String, checkpointDir: String,
      assertDisjointIds: Boolean = false,
      groupsDir: Option[String] = None,
      compactOnFinish: Boolean = false,
      keepSuperseded: Int = 1,
      maxUpsertDirs: Int = graft.api.Dedup.DefaultMaxUpsertDirs):
      org.apache.spark.sql.streaming.StreamingQuery =
    microBatches(docs, checkpointDir, sigDir +: groupsDir.toSeq, compactOnFinish) {
      (batch, batchId) =>
        graft.api.Increment.step(batch.sparkSession, sigDir, groupsDir,
          s"$pairsDir/batch=$batchId", s"inc_$batchId",
          family.signatures(batch), family, assertDisjointIds, maxUpsertDirs)
    } { s =>
      graft.api.Increment.compact(s, sigDir, groupsDir, family, keepSuperseded)
    }

  /** Couple the asset's lifecycle to ONE checkpoint lineage: batchIds
    * are only unique within a checkpoint, and `inc_<batchId>` names key
    * the asset's retry idempotence. First batch stamps the marker;
    * later batches (and restarts from the same checkpoint) verify it.
    * Both sides compare FS-QUALIFIED (scheme + absolute, slash-
    * normalized), so the same checkpoint passed as relative vs
    * absolute, with a trailing slash, or through an explicit file:
    * scheme never false-fails a legitimate restart. The first stamp is
    * create-if-absent (overwrite = false): two streams adopting a
    * fresh asset concurrently race to one winner, and the loser
    * verifies against the winner's stamp instead of clobbering it. */
  private[streaming] def requireLineage(s: SparkSession, corpusSigDir: String,
      checkpointDir: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    def qualified(d: String): String = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(conf).makeQualified(p).toString
    }
    val marker = new org.apache.hadoop.fs.Path(corpusSigDir, "_lineage")
    val fs = marker.getFileSystem(conf)
    val mine = qualified(checkpointDir)
    def verify(): Unit = {
      val in = fs.open(marker)
      val prior =
        try scala.io.Source.fromInputStream(in).mkString.trim
        finally in.close()
      // create-then-write is not atomic: an empty marker is either the
      // stamp race's microsecond window (retry resolves it) or a
      // stamping stream that crashed mid-write (delete to re-stamp) —
      // fail with THAT diagnosis, not a Path-from-empty-string error
      require(prior.nonEmpty,
        s"empty _lineage marker at $marker — a stamping stream crashed " +
          "between create and write (or is stamping right now). Retry; " +
          "if the marker stays empty, delete it to re-stamp.")
      require(qualified(prior) == mine,
        s"signature asset at $corpusSigDir belongs to checkpoint lineage " +
          s"'$prior' but this query runs under '$checkpointDir' — a fresh " +
          "checkpoint restarts batchIds at 0 and would silently overwrite " +
          "inc_0. Reuse the original checkpoint dir, or delete the " +
          "_lineage marker to intentionally adopt the asset.")
    }
    if (fs.exists(marker)) verify()
    else try {
      val out = fs.create(marker, false) // atomic first-stamp
      try out.write((mine + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { // lost the stamp race: hold this stream to the winner's lineage
      case _: java.io.IOException => verify()
    }
  }

  /** s7's streaming twin — CONTINUOUS PQ index maintenance: each
    * micro-batch of new vectors is encoded against the FROZEN
    * codebooks at `booksDir` (one map-only pass — no retraining, the
    * standard PQ operating discipline) and appended to the index asset
    * at `indexDir` as `inc_<batchId>` — replay-idempotent (overwrite),
    * lineage-stamped like the dedup assets, and visible to
    * [[graft.api.Similarity.pqTopKFromIndex]] readers through the same
    * manifest-gated [[graft.api.Dedup.readSignatureAsset]] layout
    * (seed the asset with [[graft.api.Similarity.pqEncodeIndex]]
    * output under `base/`). `compactOnFinish` folds the drained
    * batches at the AvailableNow quiesce point, exactly as the
    * signature assets do. */
  def pqIndexStream(vecs: DataFrame, idCol: String, vecCol: String,
      booksDir: String, indexDir: String, checkpointDir: String,
      compactOnFinish: Boolean = false, keepSuperseded: Int = 1):
      org.apache.spark.sql.streaming.StreamingQuery =
    microBatches(vecs, checkpointDir, Seq(indexDir), compactOnFinish) {
      (batch, batchId) =>
        graft.api.Similarity.pqEncodeIndex(
            batch, batch.sparkSession.read.parquet(booksDir), idCol, vecCol)
          .write.mode("overwrite").parquet(s"$indexDir/inc_$batchId")
    } { s =>
      graft.api.Dedup.compactSignatureAsset(s, indexDir, keepSuperseded)
      ()
    }

  /** ex5's streaming twin — CONTINUOUS sequence packing: each
    * micro-batch of documents continue-packs AFTER the frozen corpus
    * layout ([[graft.api.Export.packSequencesAfter]] — corpus
    * sequences never rewritten, Θ(batch) work + one broadcast row),
    * appending `inc_<batchId>` to the pack asset at `packDir` (seed
    * with [[graft.api.Export.seedPackAsset]]) and advancing the
    * `_totals` sidecar — the sidecar row is derived from the WRITTEN
    * inc dir and lands strictly after it, so a crashed attempt is
    * invisible to the next batch. Replay-idempotent: a replayed batch
    * overwrites its own dirs and reads its PREDECESSOR's total (its
    * own sidecar row is excluded from the max). Lineage-stamped like
    * the dedup assets. `compactOnFinish` folds the drained inc dirs
    * into a new generation at the AvailableNow quiesce point — pure
    * concatenation, since the per-batch layouts are disjoint token
    * ranges — and collapses the sidecar. Batch ≡ stream (pinned in
    * StreamingSpec): the asset after N batches equals applying
    * packSequencesAfter sequentially at the same batch boundaries. */
  def packIncrementStream(docs: DataFrame, idCol: String, tokensCol: String,
      packDir: String, checkpointDir: String, seed: Long, seqLen: Long,
      compactOnFinish: Boolean = false, keepSuperseded: Int = 1):
      org.apache.spark.sql.streaming.StreamingQuery =
    microBatches(docs, checkpointDir, Seq(packDir), compactOnFinish) {
      (batch, batchId) =>
        val s = batch.sparkSession
        val prev = graft.api.Export.readPackTotal(s, packDir,
          exclude = Some(s"inc_$batchId"))
        val base = s.range(1).select(lit(prev).as("base_tokens"))
        graft.api.Export.packSequencesAfter(batch, idCol, tokensCol,
            base, seed, seqLen)
          .write.mode("overwrite").parquet(s"$packDir/inc_$batchId")
        s.read.parquet(s"$packDir/inc_$batchId")
          .agg(coalesce(max(col("cum_before") + col(tokensCol)), lit(prev))
            .as("end_total"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$packDir/_totals/inc_$batchId")
    } { s =>
      graft.api.Dedup.compactSignatureAsset(s, packDir, keepSuperseded)
      graft.api.Export.collapsePackTotals(s, packDir)
    }

  /** Idempotent micro-batch sink: foreachBatch + deterministic
    * per-batch output paths, the standard exactly-once-to-storage
    * recipe (a replayed batch overwrites the same path instead of
    * appending duplicates). */
  def toIdempotentParquetSink(df: DataFrame, outDir: String): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    df.writeStream.foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch=$id")
    }

  /** The landing schema's `ts` type. A file stream needs its schema up
    * front, so dispatch-on-observed-type means probing an existing
    * file's footer: batch-infer if the landing dir already has data
    * (a stream started on a populated dir — the spec and backfill
    * shape), else assume the current fixture generation's
    * TIMESTAMP(MICROS)/NTZ. An old TIMESTAMP(NANOS) file dropped into
    * a dir probed as NTZ still fails loud at read — format MIXES
    * within one landing dir are not supported, only drift between
    * generations. */
  private def probeTsType(spark: SparkSession, dirOrGlob: String) = {
    import org.apache.spark.sql.types._
    graft.Tables.ensureNanosAsLong(spark)
    try spark.read.parquet(dirOrGlob).schema("ts").dataType
    catch { case scala.util.control.NonFatal(_) => TimestampNTZType }
  }

  private def rawEventSchema(tsType: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType),
      StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  /** Watch a landing directory (or glob) of event parquet files as a
    * stream — the production file-source shape: upstream drops files
    * into the dir, the query picks them up per trigger (incl.
    * `Trigger.AvailableNow` for drain-and-stop runs). `ts`'s physical
    * type is probed from the landing dir's existing files (see
    * [[probeTsType]] for the empty-dir fallback and the no-mixed-
    * formats caveat) and normalized to the session-zoned
    * TimestampType by the same one-place dispatch the batch reader
    * uses ([[graft.Tables.normalizeEventTs]]) — nanos-era and
    * micros-era fixtures both land correctly. */
  def eventLanding(spark: SparkSession, dirOrGlob: String): DataFrame =
    graft.Tables.normalizeEventTs(
      spark.readStream
        .schema(rawEventSchema(probeTsType(spark, dirOrGlob)))
        .parquet(dirOrGlob))

  /** The sf events table as a bounded stream: the file-stream source
    * accepts globs (a bare file path fails basePath validation; a glob
    * resolves basePath to the parent dir), so this selects the table
    * file directly — no copy into a temp dir, nothing to clean up. */
  def eventStream(spark: SparkSession, sfDir: String): DataFrame =
    eventLanding(spark, s"$sfDir/events.*")
}
