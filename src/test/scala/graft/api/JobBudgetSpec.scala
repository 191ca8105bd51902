package graft.api

import graft.{JobCount, SparkSpec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scheduler jobs per call as a budget: each verb below may launch at
  * most its pinned number of jobs while it is called (sf0.001, the test
  * session's 4 shuffle partitions, default guards). A change that adds
  * a job to one of them fails here; one that removes jobs lowers the pin. */
class JobBudgetSpec extends AnyFunSuite with SparkSpec {
  private val S = Similarity
  private lazy val emb = graft.Tables.embeddings(spark, sf0001)
  private lazy val queries = emb.filter(col("vec_id") < 10)
  private lazy val books = S.pqTrain(emb, "vec_id", "embedding", 8, 16, 2)
  private lazy val index = S.pqEncodeIndex(emb, books, "vec_id", "embedding")

  /** (verb, pinned call-time jobs, call). Lloyd training costs one seed
    * collect plus one aggregate job per round. */
  private lazy val budgets: Seq[(String, Int, () => Any)] = Seq(
    ("pqTrain iters=2", 3,
      () => S.pqTrain(emb, "vec_id", "embedding", 8, 16, 2)),
    ("kmeansCentroids iters=2", 3,
      () => S.kmeansCentroids(emb, emb.filter(col("vec_id") < 16),
        "vec_id", "embedding", 2)),
    ("ivfadcTopK (pinned)", 17,
      () => S.ivfadcTopK(emb, queries, "vec_id", "embedding", 5,
        8, 2, 8, 16, 2, 4, 50)),
    ("pqEncodeIndex", 1,
      () => S.pqEncodeIndex(emb, books, "vec_id", "embedding")),
    ("pqTopKFromIndex (pinned)", 5,
      () => S.pqTopKFromIndex(index, emb, queries, books,
        "vec_id", "embedding", 5, 50)))

  test("Lloyd-trained and PQ verbs stay within their call-time job budgets") {
    budgets.foreach { case (_, _, call) => call() } // warm: registrations, file listings
    val got = budgets.map { case (what, _, call) => what -> JobCount(spark)(call())._2 }
    info(got.map { case (w, n) => s"$w: $n" }.mkString(", "))
    budgets.zip(got).foreach { case ((what, pin, _), (_, n)) =>
      assert(n <= pin, s"$what launched $n jobs at call time, budget $pin")
    }
  }
}
