package graft.api

import graft.{JobCount, SparkSpec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scheduler jobs per call as a budget: each verb below may launch at
  * most its pinned number of jobs while it is called (sf0.001, the test
  * session's 4 shuffle partitions unless a case sets its own, default
  * guards). A change that adds a job to one of them fails here; one
  * that removes jobs lowers the pin. */
class JobBudgetSpec extends AnyFunSuite with SparkSpec {
  private val S = Similarity
  private lazy val emb = graft.Tables.embeddings(spark, sf0001)
  private lazy val queries = emb.filter(col("vec_id") < 10)
  private lazy val books = S.pqTrain(emb, "vec_id", "embedding", 8, 16, 2)
  private lazy val index = S.pqEncodeIndex(emb, books, "vec_id", "embedding")

  /** (verb, pinned jobs, call). Lloyd training costs one seed collect
    * plus one aggregate job per round. The query verbs count their call
    * AND the collect of their result: the PQ query tail runs part of
    * its work at call time, the rest when the result is read. */
  private lazy val budgets: Seq[(String, Int, () => Any)] = Seq(
    ("pqTrain iters=2", 3,
      () => S.pqTrain(emb, "vec_id", "embedding", 8, 16, 2)),
    ("kmeansCentroids iters=2", 3,
      () => S.kmeansCentroids(emb, emb.filter(col("vec_id") < 16),
        "vec_id", "embedding", 2)),
    ("ivfadcTopK (pinned), call + collect", 18,
      () => S.ivfadcTopK(emb, queries, "vec_id", "embedding", 5,
        8, 2, 8, 16, 2, 4, 50).collect()),
    ("pqEncodeIndex", 1,
      () => S.pqEncodeIndex(emb, books, "vec_id", "embedding")),
    ("pqTopKFromIndex (pinned), call + collect", 6,
      () => S.pqTopKFromIndex(index, emb, queries, books,
        "vec_id", "embedding", 5, 50).collect()),
    ("pqTopK (pinned), call + collect", 8,
      () => S.pqTopK(emb, queries, "vec_id", "embedding", 5, 8, 16, 2, 50).collect()),
    // 10 queries × rerank 50 past a ceiling of 250 entries: two chunks of 5
    ("pqTopKFromIndex (pinned, two query chunks), call + collect", 7,
      () => withHeapCeiling(250)(S.pqTopKFromIndex(index, emb, queries, books,
        "vec_id", "embedding", 5, 50).collect())))

  private def withHeapCeiling[A](entries: Long)(body: => A): A = {
    spark.conf.set(S.PqHeapSelectMaxKey, entries)
    try body finally spark.conf.unset(S.PqHeapSelectMaxKey)
  }

  private def withinBudgets(budgets: Seq[(String, Int, () => Any)]): Unit = {
    budgets.foreach { case (_, _, call) => call() } // warm: registrations, file listings
    val got = budgets.map { case (what, _, call) => what -> JobCount(spark)(call())._2 }
    info(got.map { case (w, n) => s"$w: $n" }.mkString(", "))
    budgets.zip(got).foreach { case ((what, pin, _), (_, n)) =>
      assert(n <= pin, s"$what launched $n jobs, budget $pin")
    }
  }

  test("Lloyd-trained and PQ verbs stay within their call-time job budgets") {
    withinBudgets(budgets)
  }

  test("Dedup verbs stay within their call-time job budgets") {
    // daily_pipeline's verbs at its banding (8 × 4, threshold 0.8): day 0
    // is the corpus (doc_id % 10 != 0), the increment is the rest, and
    // the signature asset carries its `_pairhist` sidecar
    val root = java.nio.file.Files.createTempDirectory("graft-jobbudget").toString
    // ApiSpec's shuffled 10⁴-hop chain over 16 partitions with AQE
    // coalescing off: each residue level fails to halve, so the
    // components run as large-star/small-star rounds (15 here), each
    // filling its barrier with one counting job
    val chain = spark.createDataFrame(new scala.util.Random(7)
      .shuffle((0L until 10000L).map(i => (i, i + 1)))).toDF("x", "y").repartition(16)
    def starRounds[A](body: => A): A = {
      val keys = Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
        "spark.sql.shuffle.partitions" -> "16")
      val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    try {
      val docs = graft.Tables.documents(spark, sf0001)
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val inc = docs.filter(col("doc_id") % 10 === 0)
      val sigs = s"$root/sigs"
      Dedup.minhashSignatures(corpus, "doc_id", "text", 8, 4).write.parquet(s"$sigs/base")
      Asset.writeSidecar(spark, s"$sigs/base", Asset.pairHistogram(Dedup.jaccardGuardKeys))
      Dedup.minhashSignatures(inc, "doc_id", "text", 8, 4).write.parquet(s"$sigs/inc_1")
      Dedup.jaccardPairs(corpus, "doc_id", "text", 8, 4, 0.8).write.parquet(s"$root/pairs/base")
      val dayPairs = spark.read.parquet(s"$root/pairs/base")
      Dedup.duplicateGroups(dayPairs, "doc_a", "doc_b").write.parquet(s"$root/groups/base")
      def incPairs() = Dedup.incrementalJaccardPairs(
        Asset.read(spark, sigs, excludeInc = Some("inc_1")),
        spark.read.parquet(s"$sigs/inc_1"), 0.8,
        Asset.readSidecar(spark, sigs, Asset.pairHistogram(Dedup.jaccardGuardKeys),
          excludeInc = Some("inc_1")))
      incPairs().write.parquet(s"$root/pairs/inc_1")
      val pairs = spark.read.parquet(s"$root/pairs/inc_1")
      // the whole daily step over assets of its own, replayed under one tag
      val family = Increment.Family.jaccard("doc_id", "text", 8, 4, 0.8)
      Increment.seed(spark, s"$root/step/sigs", s"$root/step/groups",
        family.signatures(corpus), Dedup.duplicateGroups(dayPairs, "doc_a", "doc_b"), family)
      val incSigs = family.signatures(inc)
      withinBudgets(Seq(
        ("jaccardPairs", 6,
          () => Dedup.jaccardPairs(corpus, "doc_id", "text", 8, 4, 0.8)),
        ("duplicateGroups", 3,
          () => Dedup.duplicateGroups(dayPairs, "doc_a", "doc_b")),
        ("incrementalJaccardPairs (_pairhist)", 8, () => incPairs()),
        ("incrementalGroups", 4,
          () => Dedup.incrementalGroups(Asset.readUpserts(spark, s"$root/groups"),
            pairs, "doc_a", "doc_b")),
        ("Increment.step (jaccard)", 20,
          () => Increment.step(spark, s"$root/step/sigs", Some(s"$root/step/groups"),
            s"$root/step/pairs", "inc_1", incSigs, family)),
        ("duplicateGroups (star rounds)", 185,
          () => starRounds(Dedup.duplicateGroups(chain, "x", "y")))))
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", root).!
    }
  }
}
