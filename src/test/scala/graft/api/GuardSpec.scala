package graft.api

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one enforce|warn|off mechanism ([[Guard]]) across the
  * Dedup/Similarity operators: `off` costs no job, mode tokens are
  * normalized, and each priced check judges its own estimate. */
class GuardSpec extends AnyFunSuite with SparkSpec {
  private val D = Dedup
  private val S = Similarity
  private val Sentinel = "graft.test.sentinel"

  /** Collects the [[Guard.JobProperty]] of every job started while it
    * is registered; a sentinel job marks the end of the window (the
    * listener bus delivers one listener's events in order). */
  private class GuardJobs extends SparkListener {
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]
    @volatile var drained = false
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).foreach { p =>
        Option(p.getProperty(Guard.JobProperty)).foreach(tags.add)
        if (p.getProperty(Sentinel) != null) drained = true
      }
  }

  /** The guard-tagged jobs `body` launches. */
  private def guardJobs(body: => Any): List[String] = {
    val sc = spark.sparkContext
    val l = new GuardJobs
    sc.addSparkListener(l)
    try {
      body
      sc.setLocalProperty(Sentinel, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(Sentinel, null)
      val deadline = System.nanoTime() + 30000000000L
      while (!l.drained && System.nanoTime() < deadline) Thread.sleep(20)
      assert(l.drained, "listener never saw the sentinel job")
      import scala.jdk.CollectionConverters._
      l.tags.asScala.toList
    } finally sc.removeSparkListener(l)
  }

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private lazy val texts = {
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    spark.createDataFrame((0L until 40L).map(i =>
      (i, if (i % 4 == 0) base else s"$base variant $i words ${i * 7}")))
      .toDF("doc_id", "text")
  }
  private lazy val sigs = spark.range(0, 60)
    .select(col("id").as("doc_id"), xxhash64(col("id")).as("sig"))
  private lazy val emb = graft.Tables.embeddings(spark, sf0001)

  /** (operator, guard keys, guard jobs per call, call) — every
    * job-priced guard. Job counts are scheduler jobs (an adaptive
    * query's shuffle stages are jobs of their own): 3 for one fused
    * estimate, 8 where a histogram barrier precedes it, 0 for the
    * rerank check, whose base
    * count comes from the query's own re-rank scan. */
  private lazy val pricedGuards: Seq[(String, Seq[String], Int, () => Any)] = {
    val pair = D.PairBudgetConfKey
    val cand = D.CandBudgetConfKey
    def inc(df: DataFrame, from: Long) = df.filter(col("doc_id") >= from)
    def corpus(df: DataFrame, from: Long) = df.filter(col("doc_id") < from)
    Seq(
      ("hammingPairs h=5", Seq(pair, cand), 8,
        () => D.hammingPairs(sigs, "doc_id", "sig", 5)),
      ("jaccardPairs", Seq(pair), 3,
        () => D.jaccardPairs(texts, "doc_id", "text", 8, 4, 0.8)),
      ("embeddingPairs", Seq(cand), 8,
        () => D.embeddingPairs(emb, "vec_id", "embedding", 8, 6, 0.4, 6)),
      ("incrementalJaccardPairs", Seq(pair), 3, () => {
        val s = D.minhashSignatures(texts, "doc_id", "text", 8, 4)
        D.incrementalJaccardPairs(corpus(s, 30), inc(s, 30), 0.8)
      }),
      ("incrementalHammingPairs h=5", Seq(pair, cand), 8,
        () => D.incrementalHammingPairs(corpus(sigs, 50), inc(sigs, 50),
          "doc_id", "sig", 5)),
      ("incrementalEmbeddingPairs", Seq(cand), 8, () => {
        val s = D.lshSignatureTable(emb, "vec_id", "embedding", 8, 6)
        D.incrementalEmbeddingPairs(s.filter(col("vec_id") % 10 =!= 0),
          s.filter(col("vec_id") % 10 === 0), 0.4, probes = 2)
      }),
      ("pqTopKFromIndex (pinned)", Seq(S.RerankSizingConfKey), 0,
        () => S.pqTopKFromIndex(pqIndex, emb, emb.filter(col("vec_id") < 3),
          pqBooks, "vec_id", "embedding", 5, 50)))
  }
  private lazy val pqBooks = S.pqTrain(emb, "vec_id", "embedding", 8, 16, 1)
  private lazy val pqIndex = S.pqEncodeIndex(emb, pqBooks, "vec_id", "embedding")

  test("off launches no guard job at call time; warn pays each guard's jobs") {
    val got = pricedGuards.map { case (what, keys, jobs, call) =>
      val on = withConfs(keys.map(_ -> "warn"): _*)(guardJobs(call()))
      assert(on.flatMap(_.split(",")).toSet == (if (jobs == 0) Set.empty else keys.toSet),
        s"$what: guard jobs tagged $on, expected keys $keys")
      val off = withConfs(keys.map(_ -> "off"): _*)(guardJobs(call()))
      (what, on.size, off.size)
    }
    assert(got == pricedGuards.map { case (what, _, jobs, _) => (what, jobs, 0) })
  }

  test("mode tokens are trimmed and lowercased; an unknown token names the key") {
    val keys = Seq(D.PairBudgetConfKey, D.CandBudgetConfKey,
      S.HierSizingConfKey, S.RerankSizingConfKey,
      S.ProbeSizingConfKey, S.LshSizingConfKey)
    keys.foreach { key =>
      assert(withConfs(key -> " Warn ")(Guard.mode(spark, key)) == "warn")
      assert(withConfs(key -> "OFF")(Guard.mode(spark, key)) == "off")
      val e = intercept[IllegalArgumentException] {
        withConfs(key -> "bogus")(Guard.mode(spark, key))
      }
      assert(e.getMessage.contains(key) &&
        e.getMessage.contains("enforce|warn|off"), e.getMessage)
    }
    // through an operator: a 40-copy heap (780 guaranteed pairs) over a
    // 500-pair budget proceeds under " Warn " and "OFF", fails on "bogus"
    val heap = spark.range(0, 40)
      .select(col("id").as("doc_id"), lit(0x1234ABCDL).as("sig"))
    withConfs(D.PairBudgetMaxKey -> "500") {
      Seq(" Warn ", "OFF").foreach { m =>
        withConfs(D.PairBudgetConfKey -> m) {
          assert(D.hammingPairs(heap, "doc_id", "sig").count() == 780)
        }
      }
      val e = intercept[IllegalArgumentException] {
        withConfs(D.PairBudgetConfKey -> "bogus")(
          D.hammingPairs(heap, "doc_id", "sig"))
      }
      assert(e.getMessage.contains(D.PairBudgetConfKey) &&
        e.getMessage.contains("enforce|warn|off"))
    }
  }

  test("fused estimates are keyed: each budget judges its own estimate") {
    // a 40-copy exact heap at maxHamming 5: the pair estimate is
    // C(40,2) = 780; the piece-candidate estimate is 4 pieces x 40 x 40
    // = 6400 (only the unflipped mask matches) — both run in one job
    val heap = spark.range(0, 40)
      .select(col("id").as("doc_id"), lit(0x1234ABCDL).as("sig"))
    val cases = Seq(
      (D.PairBudgetMaxKey, "500", "equal-signature heaps", "780"),
      (D.CandBudgetMaxKey, "1000", "flip-adjacent", "6.40e+03"))
    cases.foreach { case (budgetKey, budget, msg, est) =>
      val e = intercept[IllegalArgumentException] {
        withConfs(budgetKey -> budget)(D.hammingPairs(heap, "doc_id", "sig", 5))
      }
      assert(e.getMessage.contains(msg) && e.getMessage.contains(est) &&
        e.getMessage.contains(budgetKey), e.getMessage)
    }
    // each budget above its own estimate but below the other one's:
    // neither trips
    withConfs(D.PairBudgetMaxKey -> "1000", D.CandBudgetMaxKey -> "7000") {
      assert(D.hammingPairs(heap, "doc_id", "sig", 5).count() == 780)
    }
  }
}
