package graft.api

import graft.{SparkSpec, Tables}
import graft.operators.DailyPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one increment step ([[Increment.step]]) at sf0.001 with the
  * Jaccard family: replay after a crash equals a clean run, the daily
  * and stream bindings leave the same state, and a tag a compaction
  * already folded fails before anything is written. */
class IncrementSpec extends AnyFunSuite with SparkSpec {
  // DailyPipeline's family and split: 8 bands × 4 rows, jaccard ≥ 0.8,
  // doc_id % 10 == 0 is the increment
  private val F = Increment.Family.jaccard("doc_id", "text", 8, 4, 0.8)
  private lazy val docs = Tables.documents(spark, sf0001)
  private def incOf(d: DataFrame) = d.filter(col("doc_id") % 10 === 0)

  private def tmp(name: String) =
    java.nio.file.Files.createTempDirectory(s"graft-increment-$name").toString
  private def rm(paths: String*): Unit = {
    import scala.sys.process._
    (Seq("rm", "-rf") ++ paths).!
  }

  /** A root holding yesterday's sigs (with sidecar) and groups assets. */
  private def seeded(name: String): String = {
    val root = tmp(name)
    DailyPipeline.seedAssets(spark, docs, root)
    root
  }

  private def step(root: String, pairsOut: String, incDocs: DataFrame,
      tag: String = "inc_0"): Unit =
    Increment.step(spark, s"$root/sigs", Some(s"$root/groups"), pairsOut,
      tag, F.signatures(incDocs), F)

  /** What a run leaves, as sorted rows (a duplicated row shows): the
    * resolved signature asset, the resolved groups asset and the pairs. */
  private def state(root: String, pairsOut: String) = (
    Dedup.readSignatureAsset(spark, s"$root/sigs")
      .select(col("doc_id"), col("nh"), col("bkeys")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Any](2).mkString(",")))
      .toSeq.sorted,
    Dedup.readGroupsAsset(spark, s"$root/groups").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted,
    spark.read.parquet(pairsOut).select("doc_a", "doc_b", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted)

  test("a replay after a crash between writes leaves the clean run's assets and pairs") {
    val root = seeded("replay")
    val pairs = s"$root/pairs"
    try {
      step(root, pairs, incOf(docs))
      val clean = state(root, pairs)
      assert(clean._1.size == F.signatures(docs).count())
      assert(clean._3.nonEmpty, "fixture should hold inc-touching pairs")
      val batch = Dedup.duplicateGroups(
          Dedup.jaccardPairs(docs, "doc_id", "text", 8, 4, 0.8), "doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(clean._2.toSet == batch, "the clean run must equal a batch recompute")
      // crash before the last write: the groups upsert is missing
      rm(s"$root/groups/inc_0")
      step(root, pairs, incOf(docs))
      assert(state(root, pairs) == clean)
      // crash before the first writes landed
      rm(s"$root/sigs/inc_0", pairs)
      step(root, pairs, incOf(docs))
      assert(state(root, pairs) == clean)
    } finally rm(root)
  }

  test("the daily binding and a one-batch stream leave equal pairs and assets") {
    val daily = seeded("daily")
    val stream = seeded("stream")
    val landing = tmp("landing")
    try {
      DailyPipeline.runIncrement(spark, docs, daily, compact = false)
      incOf(docs).coalesce(1).write.mode("overwrite").parquet(landing)
      val q = graft.streaming.StreamingOps.incrementalPairStream(
        spark.readStream.schema(docs.schema).parquet(landing), F,
        s"$stream/sigs", s"$stream/pairs", s"$stream/ckpt",
        groupsDir = Some(s"$stream/groups"))
      assert(q.awaitTermination(180000), "AvailableNow query did not stop")
      assert(new java.io.File(s"$stream/pairs").list().toSeq == Seq("batch=0"),
        "the increment must arrive as one micro-batch")
      val got = state(stream, s"$stream/pairs/batch=0")
      assert(got == state(daily, s"$daily/pairs"))
      assert(got._3.nonEmpty)
    } finally rm(daily, stream, landing)
  }

  test("a tag a compaction already folded fails, naming it, before anything is written") {
    val root = seeded("reuse")
    try {
      step(root, s"$root/pairs", incOf(docs))
      Increment.compact(spark, s"$root/sigs", Some(s"$root/groups"), F)
      // the next day: new documents, new ids
      val day2 = incOf(docs.withColumn("doc_id", col("doc_id") + 1000000L))
      val folded = spark.read.parquet(s"$root/sigs/inc_0").count()
      val e = intercept[IllegalArgumentException](
        step(root, s"$root/pairs2", day2))
      assert(e.getMessage.contains("'inc_0'") && e.getMessage.contains("base_gen1"),
        e.getMessage)
      assert(!new java.io.File(s"$root/pairs2").exists())
      assert(spark.read.parquet(s"$root/sigs/inc_0").count() == folded)
      assert(!new java.io.File(s"$root/groups/inc_0").exists() ||
        spark.read.parquet(s"$root/groups/inc_0")
          .filter(col("doc_id") >= 1000000L).isEmpty)
      // a fresh tag lands the day
      step(root, s"$root/pairs2", day2, "inc_1")
      assert(Dedup.readSignatureAsset(spark, s"$root/sigs")
        .filter(col("doc_id") >= 1000000L).count() == day2.count())
    } finally rm(root)
  }
}
