package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SparkSpec {

  test("streaming windowed counts equal the batch result") {
    val stream = StreamingOps.eventStream(spark, sf0001)
    val agg = StreamingOps.windowedCounts(stream)
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory").queryName("wc_out")
      .start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("wc_out")
      .select(col("wstart"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batch = StreamingOps.windowedCounts(Tables.events(spark, sf0001))
      .select(col("wstart"), col("event_type"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("Trigger.AvailableNow drains a landing dir end-to-end, then stops") {
    import java.nio.file.{Files, Path}
    val landing = Files.createTempDirectory("graft-landing")
    try {
      Files.copy(Path.of(sf0001, "events.parquet"),
        landing.resolve("events.parquet"))
      val stream = StreamingOps.eventLanding(spark, landing.toString)
      val q = StreamingOps.windowedCounts(stream)
        .writeStream.outputMode("complete")
        .format("memory").queryName("an_out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // AvailableNow terminates on its own once the dir is drained
      assert(q.awaitTermination(120000), "AvailableNow query did not stop")
      val streamed = spark.table("an_out")
        .select(col("wstart"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = StreamingOps.windowedCounts(Tables.events(spark, sf0001))
        .select(col("wstart"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally {
      Files.list(landing).forEach(p => Files.deleteIfExists(p))
      Files.deleteIfExists(landing)
    }
  }

  test("eventLanding dispatches on a nanos-era (long ts) landing dir") {
    import java.nio.file.Files
    val landing = Files.createTempDirectory("graft-landing-nanos")
    try {
      // re-materialize the fixture in the OLD generation's shape:
      // ts as raw epoch-nanos longs (column order = landing schema)
      Tables.events(spark, sf0001)
        .select(col("event_id"), (unix_micros(col("ts")) * 1000L).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1).write.parquet(landing.toString + "/data")
      val stream = StreamingOps.eventLanding(spark, landing.toString + "/data")
      val q = StreamingOps.windowedCounts(stream)
        .writeStream.outputMode("complete")
        .format("memory").queryName("nanos_out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(120000), "AvailableNow query did not stop")
      val streamed = spark.table("nanos_out")
        .select(col("wstart"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      val batch = StreamingOps.windowedCounts(Tables.events(spark, sf0001))
        .select(col("wstart"), col("event_type"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(landing.toFile)
    }
  }

  test("continuous incremental dedup: union of micro-batch pairs equals batch dd7") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = docs.filter(col("doc_id") % 10 === 0)
    val work = Files.createTempDirectory("graft-incdedup")
    val sigDir = s"$work/sigs"
    val pairsDir = s"$work/pairs"
    val landing = Files.createTempDirectory("graft-incdedup-landing")
    try {
      // seed the persisted corpus asset
      graft.api.Dedup.minhashSignatures(corpus, "doc_id", "text", 8, 4)
        .write.parquet(s"$sigDir/base")
      // two increment files → two micro-batches under maxFilesPerTrigger=1
      Seq(col("doc_id") % 20 === 0, col("doc_id") % 20 =!= 0).zipWithIndex.foreach {
        case (pred, i) =>
          val tmp = work.resolve(s"half$i")
          inc.filter(pred).coalesce(1).write.parquet(tmp.toString)
          val part = Files.list(tmp)
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst().get
          Files.copy(part, landing.resolve(s"inc$i.parquet"))
      }
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(landing.toString)
      val q = StreamingOps.incrementalPairStream(stream,
        graft.api.Increment.Family.jaccard("doc_id", "text", 8, 4, 0.8),
        sigDir, pairsDir, s"$work/ckpt")
      assert(q.awaitTermination(180000), "AvailableNow query did not stop")
      val gotDf = spark.read.parquet(pairsDir) // batch=<id> partition col
      assert(gotDf.select("batch").distinct().count() == 2,
        "expected the two landing files to arrive as two micro-batches")
      val got = gotDf.select("doc_a", "doc_b", "jac")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.size == gotDf.count(), "pair discovered twice across batches")
      val expected = graft.api.Dedup.incrementalJaccardPairs(
          graft.api.Dedup.minhashSignatures(corpus, "doc_id", "text", 8, 4),
          graft.api.Dedup.minhashSignatures(inc, "doc_id", "text", 8, 4), 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected)
      assert(got.nonEmpty, "fixture should hold inc-touching pairs")
      // the asset grew: base + one signature subdir per batch
      assert(new java.io.File(sigDir).list().count(_.startsWith("inc_")) == 2)
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", work.toString, landing.toString).!
    }
  }

  test("signature-asset compaction mid-stream preserves the discovered pairs") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = docs.filter(col("doc_id") % 10 === 0)
    val work = Files.createTempDirectory("graft-compactstream")
    val sigDir = s"$work/sigs"
    val pairsDir = s"$work/pairs"
    val ckpt = s"$work/ckpt"
    val landing = Files.createTempDirectory("graft-compactstream-landing")
    def land(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = work.resolve(s"stage_$name")
      inc.filter(pred).coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      Files.copy(part, landing.resolve(name))
    }
    try {
      graft.api.Dedup.minhashSignatures(corpus, "doc_id", "text", 8, 4)
        .write.parquet(s"$sigDir/base")
      // run 1: first half of the increment
      land(col("doc_id") % 20 === 0, "inc0.parquet")
      val q1 = StreamingOps.incrementalPairStream(
        spark.readStream.schema(docs.schema).parquet(landing.toString),
        graft.api.Increment.Family.jaccard("doc_id", "text", 8, 4, 0.8), sigDir, pairsDir, ckpt)
      assert(q1.awaitTermination(180000), "run 1 did not stop")
      // compact while the stream is quiesced: inc_0 folds into a new gen
      // (keepSuperseded = 0: this test pins the immediate-cleanup layout;
      // the family deriver makes the generation carry its guard sidecar,
      // so run 2's per-batch precheck below runs the Θ(increment) path)
      assert(graft.api.Dedup.compactSignatureAsset(spark, sigDir,
        keepSuperseded = 0,
        guardKeys = Some(graft.api.Dedup.jaccardGuardKeys)) == 1)
      assert(!new java.io.File(s"$sigDir/inc_0").exists())
      assert(new java.io.File(s"$sigDir/base_gen1/_manifest").exists())
      assert(new java.io.File(s"$sigDir/base_gen1/_pairhist").exists())
      assert(graft.api.Dedup.readSignatureHistogram(spark, sigDir,
        graft.api.Dedup.jaccardGuardKeys).isDefined)
      // run 2: second half, SAME checkpoint — batchIds continue
      land(col("doc_id") % 20 =!= 0, "inc1.parquet")
      val q2 = StreamingOps.incrementalPairStream(
        spark.readStream.schema(docs.schema).parquet(landing.toString),
        graft.api.Increment.Family.jaccard("doc_id", "text", 8, 4, 0.8), sigDir, pairsDir, ckpt)
      assert(q2.awaitTermination(180000), "run 2 did not stop")
      val gotDf = spark.read.parquet(pairsDir)
      val got = gotDf.select("doc_a", "doc_b", "jac")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.size == gotDf.count(), "pair discovered twice across batches")
      val expected = graft.api.Dedup.incrementalJaccardPairs(
          graft.api.Dedup.minhashSignatures(corpus, "doc_id", "text", 8, 4),
          graft.api.Dedup.minhashSignatures(inc, "doc_id", "text", 8, 4), 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected, "compaction changed the discovered pair set")
      assert(got.nonEmpty)
      val names = new java.io.File(sigDir).listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(names("base_gen1") && !names("base") && names("inc_1"),
        s"expected compacted gen + run-2 inc only, got $names")
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", work.toString, landing.toString).!
    }
  }

  test("mid-stream compaction under DEFAULT retention: lingering folded incs are never re-read") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = docs.filter(col("doc_id") % 10 === 0)
    val work = Files.createTempDirectory("graft-retainstream")
    val sigDir = s"$work/sigs"
    val landing = Files.createTempDirectory("graft-retainstream-landing")
    def land(pred: org.apache.spark.sql.Column, name: String): Unit = {
      val tmp = work.resolve(s"stage_$name")
      inc.filter(pred).coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      Files.copy(part, landing.resolve(name))
    }
    try {
      graft.api.Dedup.minhashSignatures(corpus, "doc_id", "text", 8, 4)
        .write.parquet(s"$sigDir/base")
      land(col("doc_id") % 20 === 0, "inc0.parquet")
      val q1 = StreamingOps.incrementalPairStream(
        spark.readStream.schema(docs.schema).parquet(landing.toString),
        graft.api.Increment.Family.jaccard("doc_id", "text", 8, 4, 0.8), sigDir, s"$work/pairs", s"$work/ckpt")
      assert(q1.awaitTermination(180000), "run 1 did not stop")
      // DEFAULT retention: the folded seed and inc_0 LINGER after the
      // fold — run 2 must skip them via the manifest, not re-pair
      // against the increment's own folded signatures
      assert(graft.api.Dedup.compactSignatureAsset(spark, sigDir) == 1)
      val names = new java.io.File(sigDir).listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(names == Set("base", "inc_0", "base_gen1"), s"got $names")
      land(col("doc_id") % 20 =!= 0, "inc1.parquet")
      val q2 = StreamingOps.incrementalPairStream(
        spark.readStream.schema(docs.schema).parquet(landing.toString),
        graft.api.Increment.Family.jaccard("doc_id", "text", 8, 4, 0.8), sigDir, s"$work/pairs", s"$work/ckpt")
      assert(q2.awaitTermination(180000), "run 2 did not stop")
      val gotDf = spark.read.parquet(s"$work/pairs")
      val got = gotDf.select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.size == gotDf.count(),
        "a lingering folded inc was re-read: duplicate pairs")
      val expected = graft.api.Dedup.incrementalJaccardPairs(
          graft.api.Dedup.minhashSignatures(corpus, "doc_id", "text", 8, 4),
          graft.api.Dedup.minhashSignatures(inc, "doc_id", "text", 8, 4), 0.8)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected && got.nonEmpty)
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", work.toString, landing.toString).!
    }
  }

  test("continuous group maintenance: resolved groups asset equals batch dd6 over corpus ∪ increment") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = docs.filter(col("doc_id") % 10 === 0)
    val work = Files.createTempDirectory("graft-groupstream")
    val landing = Files.createTempDirectory("graft-groupstream-landing")
    try {
      graft.api.Dedup.minhashSignatures(corpus, "doc_id", "text", 8, 4)
        .write.parquet(s"$work/sigs/base")
      // seed the groups asset: dd6 over the corpus's own pairs
      graft.api.Dedup.duplicateGroups(
          graft.api.Dedup.jaccardPairs(corpus, "doc_id", "text", 8, 4, 0.8),
          "doc_a", "doc_b")
        .write.parquet(s"$work/groups/base")
      Seq(col("doc_id") % 20 === 0, col("doc_id") % 20 =!= 0).zipWithIndex.foreach {
        case (pred, i) =>
          val tmp = work.resolve(s"half$i")
          inc.filter(pred).coalesce(1).write.parquet(tmp.toString)
          val part = Files.list(tmp)
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst().get
          Files.copy(part, landing.resolve(s"inc$i.parquet"))
      }
      val q = StreamingOps.incrementalPairStream(
        spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(landing.toString),
        graft.api.Increment.Family.jaccard("doc_id", "text", 8, 4, 0.8), s"$work/sigs", s"$work/pairs", s"$work/ckpt",
        groupsDir = Some(s"$work/groups"))
      assert(q.awaitTermination(180000), "AvailableNow query did not stop")
      assert(new java.io.File(s"$work/groups").list()
        .count(_.startsWith("inc_")) == 2, "one upsert dir per batch")
      def resolved() = graft.api.Dedup.readGroupsAsset(spark, s"$work/groups")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = resolved()
      // the strong pin: resolved streaming state ≡ one batch dd6 over
      // the WHOLE table (untouched corpus components included)
      val expected = graft.api.Dedup.duplicateGroups(
          graft.api.Dedup.jaccardPairs(docs, "doc_id", "text", 8, 4, 0.8),
          "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected)
      assert(got.nonEmpty)
      assert(got.exists { case (id, _) => id % 10 == 0 },
        "increment docs must appear in the resolved asset")
      // compaction folds the upserts without changing the resolved view
      assert(graft.api.Dedup.compactGroupsAsset(spark, s"$work/groups") == 2)
      assert(resolved() == expected, "compaction changed the resolved groups")
      assert(graft.api.Dedup.compactGroupsAsset(spark, s"$work/groups") == 0)
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", work.toString, landing.toString).!
    }
  }

  test("compactOnFinish folds both assets at stream quiesce without changing pairs or groups") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = docs.filter(col("doc_id") % 10 === 0)
    val work = Files.createTempDirectory("graft-compactfinish")
    val landing = Files.createTempDirectory("graft-compactfinish-landing")
    try {
      graft.api.Dedup.minhashSignatures(corpus, "doc_id", "text", 8, 4)
        .write.parquet(s"$work/sigs/base")
      graft.api.Dedup.duplicateGroups(
          graft.api.Dedup.jaccardPairs(corpus, "doc_id", "text", 8, 4, 0.8),
          "doc_a", "doc_b")
        .write.parquet(s"$work/groups/base")
      val tmp = work.resolve("stage")
      inc.coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      Files.copy(part, landing.resolve("inc.parquet"))
      // compactOnFinish blocks through the AvailableNow drain, then
      // folds both assets at the quiesce point
      val q = StreamingOps.incrementalPairStream(
        spark.readStream.schema(docs.schema).parquet(landing.toString),
        graft.api.Increment.Family.jaccard("doc_id", "text", 8, 4, 0.8), s"$work/sigs", s"$work/pairs", s"$work/ckpt",
        groupsDir = Some(s"$work/groups"), compactOnFinish = true)
      assert(!q.isActive, "compactOnFinish must return after termination")
      def gens(dir: String) = new java.io.File(dir).listFiles()
        .filter(_.isDirectory).map(_.getName).filter(_.startsWith("base_gen")).toSet
      assert(gens(s"$work/sigs") == Set("base_gen1"), s"got ${gens(s"$work/sigs")}")
      assert(gens(s"$work/groups") == Set("base_gen1"))
      // the folded state is invariant: pairs equal the batch twin, the
      // resolved groups equal one batch dd6 over corpus ∪ increment
      val got = spark.read.parquet(s"$work/pairs")
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expectedPairs = graft.api.Dedup.incrementalJaccardPairs(
          graft.api.Dedup.minhashSignatures(corpus, "doc_id", "text", 8, 4),
          graft.api.Dedup.minhashSignatures(inc, "doc_id", "text", 8, 4), 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expectedPairs && got.nonEmpty)
      val resolved = graft.api.Dedup.readGroupsAsset(spark, s"$work/groups")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expectedGroups = graft.api.Dedup.duplicateGroups(
          graft.api.Dedup.jaccardPairs(docs, "doc_id", "text", 8, 4, 0.8),
          "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(resolved == expectedGroups && resolved.nonEmpty)
      // the signature asset still reads whole after the fold
      assert(graft.api.Dedup.readSignatureAsset(spark, s"$work/sigs").count() ==
        graft.api.Dedup.minhashSignatures(docs, "doc_id", "text", 8, 4).count())
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", work.toString, landing.toString).!
    }
  }

  test("lineage guard compares qualified paths and first-stamps atomically") {
    import java.nio.file.Files
    val asset = Files.createTempDirectory("graft-lineage-norm").toString
    try {
      // stamp with a RELATIVE path (resolved against the fs working dir)
      StreamingOps.requireLineage(spark, asset, "target/lineage-ckpt")
      assert(new java.io.File(s"$asset/_lineage").exists())
      // the same checkpoint as an absolute path, with a trailing slash,
      // and with an explicit file: scheme must all verify — raw string
      // comparison false-failed every one of these legitimate restarts
      val abs = new java.io.File("target/lineage-ckpt").getAbsolutePath
      StreamingOps.requireLineage(spark, asset, abs)
      StreamingOps.requireLineage(spark, asset, abs + "/")
      StreamingOps.requireLineage(spark, asset, "file:" + abs)
      // a genuinely different checkpoint still fails loud
      val e = intercept[IllegalArgumentException] {
        StreamingOps.requireLineage(spark, asset, "target/other-ckpt")
      }
      assert(e.getMessage.contains("lineage"))
      // a zero-byte marker (stamping stream crashed between create and
      // write) diagnoses itself instead of crashing on Path("")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$asset/_lineage"), Array.empty[Byte])
      val e2 = intercept[IllegalArgumentException] {
        StreamingOps.requireLineage(spark, asset, abs)
      }
      assert(e2.getMessage.contains("empty _lineage"))
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", asset).!
    }
  }

  test("asset lineage guard: a fresh checkpoint against a populated asset fails loud") {
    import java.nio.file.Files
    val docs = Tables.documents(spark, sf0001)
    val work = Files.createTempDirectory("graft-lineage")
    val sigDir = s"$work/sigs"
    val landing = Files.createTempDirectory("graft-lineage-landing")
    try {
      graft.api.Dedup.minhashSignatures(
          docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text", 8, 4)
        .write.parquet(s"$sigDir/base")
      val tmp = work.resolve("stage")
      docs.filter(col("doc_id") % 10 === 0).coalesce(1).write.parquet(tmp.toString)
      val part = Files.list(tmp)
        .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get
      Files.copy(part, landing.resolve("inc.parquet"))
      def run(ckpt: String) = {
        val q = StreamingOps.incrementalPairStream(
          spark.readStream.schema(docs.schema).parquet(landing.toString),
          graft.api.Increment.Family.jaccard("doc_id", "text", 8, 4, 0.8), sigDir, s"$work/pairs", ckpt)
        q.awaitTermination(180000)
      }
      assert(run(s"$work/ckptA"), "first run did not stop")
      // same checkpoint restarts fine (nothing new to process)
      assert(run(s"$work/ckptA"), "same-lineage restart did not stop")
      // a DIFFERENT checkpoint would restart batchIds at 0 and clobber
      // inc_0 — the guard must turn that into a loud failure
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        run(s"$work/ckptB")
      }
      def causes(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: causes(t.getCause)
      assert(causes(e).exists(c =>
        c.getMessage != null && c.getMessage.contains("lineage")),
        s"expected the lineage guard, got $e")
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", work.toString, landing.toString).!
    }
  }

  test("incremental hamming stream: union of micro-batch pairs equals batch dd8") {
    import java.nio.file.Files
    graft.functions.HashFunctions.register(spark)
    val docs = Tables.documents(spark, sf0001)
    def sigsOf(pred: org.apache.spark.sql.Column) = docs.filter(pred)
      .select(col("doc_id"),
        graft.functions.HashFunctions.simhashText(col("text")).as("sig"))
    val corpus = sigsOf(col("doc_id") % 10 =!= 0)
    val inc = sigsOf(col("doc_id") % 10 === 0)
    val work = Files.createTempDirectory("graft-hamstream")
    val landing = Files.createTempDirectory("graft-hamstream-landing")
    try {
      corpus.write.parquet(s"$work/sigs/base")
      Seq(col("doc_id") % 20 === 0, col("doc_id") % 20 =!= 0).zipWithIndex.foreach {
        case (pred, i) =>
          val tmp = work.resolve(s"half$i")
          inc.filter(pred).coalesce(1).write.parquet(tmp.toString)
          val part = Files.list(tmp)
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst().get
          Files.copy(part, landing.resolve(s"inc$i.parquet"))
      }
      val q = StreamingOps.incrementalPairStream(
        spark.readStream.schema(inc.schema)
          .option("maxFilesPerTrigger", "1").parquet(landing.toString),
        graft.api.Increment.Family.hamming("doc_id", "sig", 3),
        s"$work/sigs", s"$work/pairs", s"$work/ckpt")
      assert(q.awaitTermination(180000), "AvailableNow query did not stop")
      val gotDf = spark.read.parquet(s"$work/pairs")
      assert(gotDf.select("batch").distinct().count() == 2)
      val got = gotDf.select("doc_a", "doc_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got.size == gotDf.count(), "pair discovered twice across batches")
      val expected = graft.api.Dedup.incrementalHammingPairs(
          corpus, inc, "doc_id", "sig", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected)
      assert(got.nonEmpty, "fixture should hold inc-touching hamming pairs")
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", work.toString, landing.toString).!
    }
  }

  test("pq index stream: streamed encode+append equals the batch index, compaction folds, queries answer") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sf0001)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val inc = emb.filter(col("vec_id") % 10 === 0)
    val work = Files.createTempDirectory("graft-pqstream")
    val landing = Files.createTempDirectory("graft-pqstream-landing")
    try {
      val books = graft.api.Similarity.pqTrain(
        corpus, "vec_id", "embedding", 8, 16, 2)
      books.write.parquet(s"$work/books")
      graft.api.Similarity.pqEncodeIndex(corpus, books, "vec_id", "embedding")
        .write.parquet(s"$work/index/base")
      Seq(col("vec_id") % 20 === 0, col("vec_id") % 20 =!= 0).zipWithIndex.foreach {
        case (pred, i) =>
          val tmp = work.resolve(s"half$i")
          inc.filter(pred).coalesce(1).write.parquet(tmp.toString)
          val part = Files.list(tmp)
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst().get
          Files.copy(part, landing.resolve(s"inc$i.parquet"))
      }
      val q = StreamingOps.pqIndexStream(
        spark.readStream.schema(inc.schema)
          .option("maxFilesPerTrigger", "1").parquet(landing.toString),
        "vec_id", "embedding", s"$work/books", s"$work/index", s"$work/ckpt",
        compactOnFinish = true)
      assert(q.awaitTermination(180000), "AvailableNow query did not stop")
      // compaction folded the two inc dirs into a generation
      val root = new java.io.File(s"$work/index")
      assert(root.listFiles().exists(_.getName == "base_gen1"))
      // streamed asset ≡ one batch encode of corpus ∪ inc (identical
      // rows: codes are ints, the norm is float-derived — exact)
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("vec_id", "nrm", "codes").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getSeq[Int](2).toList)).toSet
      val streamed = key(graft.api.Dedup.readSignatureAsset(spark, s"$work/index"))
      val batch = key(graft.api.Similarity.pqEncodeIndex(
        emb, books, "vec_id", "embedding"))
      assert(streamed == batch)
      assert(streamed.size == 500)
      // and the asset answers queries: identical to the all-in-memory path
      val queries = emb.filter(col("vec_id") < 10)
      val fromAsset = graft.api.Similarity.pqTopKFromIndex(
        graft.api.Dedup.readSignatureAsset(spark, s"$work/index"),
        emb, queries, spark.read.parquet(s"$work/books"),
        "vec_id", "embedding", 5, 50).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val inMem = graft.api.Similarity.pqTopKFromIndex(
        graft.api.Similarity.pqEncodeIndex(emb, books, "vec_id", "embedding"),
        emb, queries, books, "vec_id", "embedding", 5, 50).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(fromAsset == inMem)
      assert(fromAsset.size == 50)
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", work.toString, landing.toString).!
    }
  }

  test("incremental embedding stream: union of micro-batch pairs equals batch dd9") {
    import java.nio.file.Files
    val emb = Tables.embeddings(spark, sf0001)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val inc = emb.filter(col("vec_id") % 10 === 0)
    val work = Files.createTempDirectory("graft-embstream")
    val landing = Files.createTempDirectory("graft-embstream-landing")
    try {
      graft.api.Dedup.lshSignatureTable(corpus, "vec_id", "embedding", 8, 6)
        .write.parquet(s"$work/sigs/base")
      // groups asset seeded from the corpus's own embedding pairs —
      // exercises the vec_a/vec_b wiring of the wrapper's groupsDir
      graft.api.Dedup.duplicateGroups(
          graft.api.Dedup.embeddingPairs(corpus, "vec_id", "embedding",
            8, 6, 0.3, probes = 6),
          "vec_a", "vec_b")
        .write.parquet(s"$work/groups/base")
      Seq(col("vec_id") % 20 === 0, col("vec_id") % 20 =!= 0).zipWithIndex.foreach {
        case (pred, i) =>
          val tmp = work.resolve(s"half$i")
          inc.filter(pred).coalesce(1).write.parquet(tmp.toString)
          val part = Files.list(tmp)
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst().get
          Files.copy(part, landing.resolve(s"inc$i.parquet"))
      }
      val q = StreamingOps.incrementalPairStream(
        spark.readStream.schema(inc.schema)
          .option("maxFilesPerTrigger", "1").parquet(landing.toString),
        // r18: radius-2 probing through the streaming plumb — the
        // batch twin below probes at the same radius, so equality
        // also pins the cross-batch symmetry (batch-2's masks find
        // batch-1 pairs in the upserted asset at radius 2)
        graft.api.Increment.Family.embedding("vec_id", "embedding",
          8, 6, 0.3, probes = 6, radius = 2),
        s"$work/sigs", s"$work/pairs", s"$work/ckpt",
        groupsDir = Some(s"$work/groups"))
      assert(q.awaitTermination(180000), "AvailableNow query did not stop")
      val gotDf = spark.read.parquet(s"$work/pairs")
      assert(gotDf.select("batch").distinct().count() == 2)
      val got = gotDf.select("vec_a", "vec_b", "cos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got.size == gotDf.count(), "pair discovered twice across batches")
      val expected = graft.api.Dedup.incrementalEmbeddingPairs(
          graft.api.Dedup.lshSignatureTable(corpus, "vec_id", "embedding", 8, 6),
          graft.api.Dedup.lshSignatureTable(inc, "vec_id", "embedding", 8, 6),
          0.3, probes = 6, radius = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected)
      assert(got.nonEmpty, "fixture should hold inc-touching embedding pairs")
      // the embedding-family group pin: resolved streaming groups ≡
      // one batch dd6 over the EDGE SET the stream accumulates —
      // corpus-corpus pairs from the seeded asset (the radius-1
      // symmetric generator: a self-join cannot expand probe masks)
      // UNION the radius-2 incremental pairs (the query-shaped
      // increment side CAN — the r18 asymmetric ladder)
      val gotGroups = graft.api.Dedup.readGroupsAsset(spark, s"$work/groups")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expectedGroups = graft.api.Dedup.duplicateGroups(
          graft.api.Dedup.embeddingPairs(corpus, "vec_id", "embedding",
              8, 6, 0.3, probes = 6)
            .unionByName(graft.api.Dedup.incrementalEmbeddingPairs(
              graft.api.Dedup.lshSignatureTable(
                corpus, "vec_id", "embedding", 8, 6),
              graft.api.Dedup.lshSignatureTable(
                inc, "vec_id", "embedding", 8, 6),
              0.3, probes = 6, radius = 2)),
          "vec_a", "vec_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(gotGroups == expectedGroups)
      assert(gotGroups.nonEmpty)
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", work.toString, landing.toString).!
    }
  }

  test("auto-radius embedding stream derives radius 2 and equals the batch auto overload") {
    import java.nio.file.Files
    val S = graft.api.Similarity
    val emb = Tables.embeddings(spark, sf0001)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val inc = emb.filter(col("vec_id") % 10 === 0)
    val work = Files.createTempDirectory("graft-embauto")
    val landing = Files.createTempDirectory("graft-embauto-landing")
    // 8x6 at threshold 0.3: radius-1 model recall 0.875 < 0.9, so the
    // ladder escalates — admissible at this tiny 64-bucket geometry
    // only with the candidate budget raised (fractions are
    // meaningless at 2^6 buckets; production geometries carry
    // planes ~ log2 n)
    spark.conf.set(S.LshMaxCandFracKey, "3.0")
    try {
      assert(S.lshIncRadiusFor(8, 6, 6, 0.3, spark) == 2,
        "precondition: the ladder must derive radius 2 here")
      graft.api.Dedup.lshSignatureTable(corpus, "vec_id", "embedding", 8, 6)
        .write.parquet(s"$work/sigs/base")
      inc.coalesce(1).write.parquet(work.resolve("incall").toString)
      val part = Files.list(work.resolve("incall"))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      Files.copy(part, landing.resolve("inc.parquet"))
      val q = StreamingOps.incrementalPairStream(
        spark.readStream.schema(inc.schema)
          .option("maxFilesPerTrigger", "1").parquet(landing.toString),
        graft.api.Increment.Family.embedding(spark, "vec_id", "embedding",
          8, 6, 0.3, 0.9),
        s"$work/sigs", s"$work/pairs", s"$work/ckpt")
      assert(q.awaitTermination(180000), "AvailableNow query did not stop")
      val got = spark.read.parquet(s"$work/pairs")
        .select("vec_a", "vec_b", "cos")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // ≡ the batch AUTO overload (same ladder, same probes=planes)
      val expected = graft.api.Dedup.incrementalEmbeddingPairs(
          graft.api.Dedup.lshSignatureTable(corpus, "vec_id", "embedding", 8, 6),
          graft.api.Dedup.lshSignatureTable(inc, "vec_id", "embedding", 8, 6),
          0.3, 8, 6, None)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == expected)
      // and ≡ the manual verb at radius 2 — the radius the ladder
      // derived, distinguishable from radius 1 on this fixture
      val atR2 = graft.api.Dedup.incrementalEmbeddingPairs(
          graft.api.Dedup.lshSignatureTable(corpus, "vec_id", "embedding", 8, 6),
          graft.api.Dedup.lshSignatureTable(inc, "vec_id", "embedding", 8, 6),
          0.3, probes = 6, radius = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == atR2)
      val atR1 = graft.api.Dedup.incrementalEmbeddingPairs(
          graft.api.Dedup.lshSignatureTable(corpus, "vec_id", "embedding", 8, 6),
          graft.api.Dedup.lshSignatureTable(inc, "vec_id", "embedding", 8, 6),
          0.3, probes = 6, radius = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(atR1.subsetOf(got) && got != atR1,
        "radius 2 must find strictly more than radius 1 on this fixture")
      assert(got.nonEmpty)
    } finally {
      spark.conf.unset(S.LshMaxCandFracKey)
      import scala.sys.process._
      Seq("rm", "-rf", work.toString, landing.toString).!
    }
  }

  test("hamming stream at maxHamming=5: extended-band pairs flow through the streaming twin") {
    import java.nio.file.Files
    val s = spark
    import s.implicits._
    // planted-distance fixture (the dd8 ladder's shape): random sigs
    // plus neighbors at distances 1..8 — only the [4, 7] rungs find
    // the 4/5-distance pairs, so stream==batch here pins the probe
    // expansion through the per-batch plumbing, not just radius <= 3
    val rnd = new scala.util.Random(23)
    val base = (0 until 80).map(_ => rnd.nextLong())
    val planted = (0 until 30).map { i =>
      val d = 1 + (i % 8)
      val bits = rnd.shuffle((0 until 64).toList).take(d)
      bits.foldLeft(base(i))((sg, b) => sg ^ (1L << b))
    }
    val all = (base ++ planted).zipWithIndex.map { case (sg, i) => (i.toLong, sg) }
    val sigs = all.toDF("doc_id", "sig")
    val corpus = sigs.filter(col("doc_id") % 4 =!= 0)
    val inc = sigs.filter(col("doc_id") % 4 === 0)
    val work = Files.createTempDirectory("graft-hamstream5")
    val landing = Files.createTempDirectory("graft-hamstream5-landing")
    try {
      corpus.write.parquet(s"$work/sigs/base")
      inc.coalesce(1).write.parquet(work.resolve("incall").toString)
      val part = Files.list(work.resolve("incall"))
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get
      Files.copy(part, landing.resolve("inc.parquet"))
      val q = StreamingOps.incrementalPairStream(
        spark.readStream.schema(inc.schema)
          .option("maxFilesPerTrigger", "1").parquet(landing.toString),
        graft.api.Increment.Family.hamming("doc_id", "sig", maxHamming = 5),
        s"$work/sigs", s"$work/pairs", s"$work/ckpt")
      assert(q.awaitTermination(180000), "AvailableNow query did not stop")
      val got = spark.read.parquet(s"$work/pairs")
        .select("doc_a", "doc_b", "hamming")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val expected = graft.api.Dedup.incrementalHammingPairs(
          corpus, inc, "doc_id", "sig", 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected)
      assert(got.exists(_._3 > 3),
        "fixture must hold pairs only the extended band finds")
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", work.toString, landing.toString).!
    }
  }

  test("watermark finalizes windows and drops late data (append mode)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ms = MemoryStream[(Long, String, Double)] // (epochSec, type, value)
    val events = ms.toDF()
      .select(col("_1").cast("timestamp").as("ts"),
        col("_2").as("event_type"), col("_3").as("value"))
    val q = StreamingOps.windowedCounts(events, "1 hour", "2 hours")
      .writeStream.outputMode("append")
      .format("memory").queryName("wm_out").start()
    try {
      val H = 3600L
      ms.addData((0L * H + 10, "a", 1.0), (1L * H + 10, "a", 1.0), (5L * H, "a", 1.0))
      q.processAllAvailable() // watermark → 3h: windows [0,1) and [1,2) final
      ms.addData((0L * H + 20, "a", 1.0), (9L * H, "a", 1.0)) // first is LATE
      q.processAllAvailable()
      val out = s.table("wm_out")
        .select(col("wstart").cast("long").as("w"), col("n")).collect()
        .map(r => (r.getLong(0) / H, r.getLong(1))).toMap
      assert(out.get(0L).contains(1L), s"late row must not reach window 0: $out")
      assert(out.get(1L).contains(1L), s"window 1 finalized once: $out")
    } finally q.stop()
  }

  test("streaming dedup drops in-horizon duplicates, keeps distinct keys") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val ms = MemoryStream[(Long, Long)] // (epochSec, event_id)
    val events = ms.toDF()
      .select(col("_1").cast("timestamp").as("ts"), col("_2").as("event_id"))
    val q = StreamingOps.dedupStream(events, Seq("event_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("dd_out").start()
    try {
      ms.addData((10L, 1L), (11L, 2L), (10L, 1L)) // dup within batch
      q.processAllAvailable()
      ms.addData((12L, 1L), (13L, 3L)) // dup across batches + new key
      q.processAllAvailable()
      val ids = s.table("dd_out").select(col("event_id"))
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("streaming curation equals the batch twin and drops the spam doc") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val rows = Seq(
      (1L, "en", "the quick brown fox jumps over the lazy dog"),
      (2L, "en", "buy buy buy buy buy buy buy buy"), // repetition spam
      (3L, "en", "reach me at jo.doe@mail.example.com or 555-0142 thanks"))
    val batch = StreamingOps.curateDocs(
        rows.toDF("doc_id", "lang", "text"))
      .collect().map(_.toString).sorted.toSeq
    val ms = MemoryStream[(Long, String, String)]
    val q = StreamingOps.curateDocs(
        ms.toDF().toDF("doc_id", "lang", "text"))
      .writeStream.outputMode("append")
      .format("memory").queryName("curate_out").start()
    try {
      ms.addData(rows: _*)
      q.processAllAvailable()
      val streamed = s.table("curate_out")
        .collect().map(_.toString).sorted.toSeq
      assert(streamed == batch)
      assert(streamed.size == 2) // spam doc dropped
      assert(streamed.mkString.contains("<EMAIL>") &&
        streamed.mkString.contains("<PHONE>"))
      assert(!streamed.mkString.contains("example.com"))
    } finally q.stop()
  }

  test("foreachBatch idempotent sink writes deterministic per-batch paths") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val ms = MemoryStream[Long]
    val q = StreamingOps.toIdempotentParquetSink(
      ms.toDF().select(col("value")), out).start()
    try {
      ms.addData(1L, 2L, 3L)
      q.processAllAvailable()
      ms.addData(4L)
      q.processAllAvailable()
      val back = s.read.parquet(out + "/batch=*").collect().map(_.getLong(0)).sorted
      assert(back.toSeq == Seq(1L, 2L, 3L, 4L))
      assert(new java.io.File(out).listFiles().exists(_.getName.startsWith("batch=")))
    } finally q.stop()
  }

  test("flatMapGroupsWithState emits only closed sessions") {
    import StreamingOps._
    val s = spark
    val events = s.createDataset(Seq(
      Event(1L, 1L, 0L),
      Event(1L, 2L, 10L * 60 * 1000 * 1000),
      Event(1L, 3L, 100L * 60 * 1000 * 1000), // closes session 1 (2 events)
      Event(2L, 4L, 0L)))(evEnc)              // user 2: still open, no output
    val out = closedSessions(events).collect()
    assert(out.length == 1)
    assert(out.head.user_id == 1L && out.head.n_events == 2 && out.head.closed)
  }

  test("stateful sessionization emits per-user session state") {
    import StreamingOps._
    val s = spark
    val events = s.createDataset(Seq(
      Event(1L, 1L, 0L),
      Event(1L, 2L, 10L * 60 * 1000 * 1000),              // same session
      Event(1L, 3L, 100L * 60 * 1000 * 1000),             // new session (gap 90m)
      Event(2L, 4L, 0L)))(evEnc)
    val out = sessionizeStream(events).collect()
    val u1 = out.find(_.user_id == 1L).get
    assert(u1.n_events == 1 && u1.start_us == 100L * 60 * 1000 * 1000)
    val u2 = out.find(_.user_id == 2L).get
    assert(u2.n_events == 1)
  }

  test("pack increment stream: per-batch continue-pack equals sequential batch application; compaction folds") {
    import java.nio.file.Files
    val E = graft.api.Export
    val docs = Tables.documents(spark, sf0001).select(col("doc_id"),
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
        .as("n_tokens"))
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = docs.filter(col("doc_id") % 10 === 0)
    val work = Files.createTempDirectory("graft-packstream")
    val landing = Files.createTempDirectory("graft-packstream-landing")
    val pack = s"$work/pack"
    try {
      E.seedPackAsset(corpus, "doc_id", "n_tokens", pack, 7L, 128L)
      val baseTotal = E.readPackTotal(spark, pack)
      assert(baseTotal == corpus.agg(sum("n_tokens")).head.getLong(0))
      // two landing files → two AvailableNow micro-batches
      Seq(col("doc_id") % 20 === 0, col("doc_id") % 20 =!= 0).zipWithIndex.foreach {
        case (pred, i) =>
          val tmp = work.resolve(s"half$i")
          inc.filter(pred).coalesce(1).write.parquet(tmp.toString)
          val part = Files.list(tmp)
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .findFirst().get
          Files.copy(part, landing.resolve(s"inc$i.parquet"))
      }
      val q = StreamingOps.packIncrementStream(
        spark.readStream.schema(inc.schema)
          .option("maxFilesPerTrigger", "1").parquet(landing.toString),
        "doc_id", "n_tokens", pack, s"$work/ckpt", 7L, 128L)
      assert(q.awaitTermination(180000), "AvailableNow query did not stop")
      def key(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "cum_before", "seq_id", "seq_off").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // batch ≡ stream at the SAME batch boundaries: take each inc
      // dir's membership from the asset itself and replay
      // packSequencesAfter sequentially over it
      import spark.implicits._
      val b0 = spark.read.parquet(s"$pack/inc_0")
      val b1 = spark.read.parquet(s"$pack/inc_1")
      val docs0 = inc.join(b0.select("doc_id"), Seq("doc_id"), "semi")
      val docs1 = inc.join(b1.select("doc_id"), Seq("doc_id"), "semi")
      assert(b0.count() > 0 && b1.count() > 0 &&
        b0.count() + b1.count() == inc.count())
      val exp0 = E.packSequencesAfter(docs0, "doc_id", "n_tokens",
        Seq(baseTotal).toDF("base_tokens"), 7L, 128L)
      val mid = baseTotal + docs0.agg(sum("n_tokens")).head.getLong(0)
      val exp1 = E.packSequencesAfter(docs1, "doc_id", "n_tokens",
        Seq(mid).toDF("base_tokens"), 7L, 128L)
      assert(key(b0) == key(exp0))
      assert(key(b1) == key(exp1))
      // the sidecar advanced to the full corpus+increment token total
      assert(E.readPackTotal(spark, pack) ==
        docs.agg(sum("n_tokens")).head.getLong(0))
      // quiesce maintenance: fold the packed dirs, collapse the sidecar
      val before = key(graft.api.Dedup.readSignatureAsset(spark, pack))
      assert(graft.api.Dedup.compactSignatureAsset(spark, pack) == 2)
      E.collapsePackTotals(spark, pack)
      assert(new java.io.File(pack).listFiles()
        .exists(_.getName == "base_gen1"))
      assert(new java.io.File(s"$pack/_totals").listFiles()
        .filter(_.isDirectory).map(_.getName).toSet == Set("fold"))
      assert(key(graft.api.Dedup.readSignatureAsset(spark, pack)) == before)
      assert(E.readPackTotal(spark, pack) ==
        docs.agg(sum("n_tokens")).head.getLong(0))
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", work.toString, landing.toString).!
    }
  }
}
