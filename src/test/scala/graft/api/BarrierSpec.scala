package graft.api

import graft.{SparkSpec, Tables}
import org.scalatest.funsuite.AnyFunSuite

/** The conf-driven materialization barrier: every mode must produce
  * identical operator output (the mode is a durability/locality choice,
  * never a semantic one), and the iterative operators must not leak one
  * cached copy per round under `persist`. */
class BarrierSpec extends AnyFunSuite with SparkSpec {

  /** RDD ids persisted by `body` that are STILL cached after it
    * returns. Id-based, not a global-count delta: neighbor suites'
    * async `unpersist(blocking = false)` churn can shrink
    * `getPersistentRDDs` mid-test (the r16 full-suite run read a
    * NEGATIVE -16 count delta here), but it can only remove ids that
    * existed BEFORE `body` — it can never add to `after -- before`. */
  private def leakedIds[A](body: => A): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    body
    sc.getPersistentRDDs.keySet.toSet -- before
  }

  private def withMode[A](m: String)(f: => A): A = {
    val prev = spark.conf.getOption(Barrier.ConfKey)
    spark.conf.set(Barrier.ConfKey, m)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(Barrier.ConfKey, v)
      case None => spark.conf.unset(Barrier.ConfKey)
    }
  }

  test("default mode is localCheckpoint; bad modes are rejected") {
    val docs = Tables.documents(spark, sf0001).limit(1)
    assert(Barrier.mode(docs) == "localCheckpoint")
    withMode("persist")(assert(Barrier.mode(docs) == "persist"))
    withMode("bogus") {
      val e = intercept[IllegalArgumentException](Barrier.mode(docs))
      assert(e.getMessage.contains("spark.graft.barrier"))
    }
  }

  test("dd2 jaccard pairs are identical under every barrier mode") {
    val docs = Tables.documents(spark, sf0001)
    def run(): Seq[String] =
      Dedup.jaccardPairs(docs, "doc_id", "text", 8, 4, 0.5)
        .collect().map(_.toString).sorted.toSeq
    val base = withMode("localCheckpoint")(run())
    assert(base.nonEmpty)
    for (m <- Seq("persist", "checkpoint", "none"))
      assert(withMode(m)(run()) == base, s"mode $m diverged from localCheckpoint")
  }

  test("dd6 duplicate groups are identical under every barrier mode") {
    import spark.implicits._
    // two components incl. a 5-node chain, its edges over two
    // partitions so the residue levels run in every mode
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("a", "b").repartition(2)
    def run(): Seq[String] =
      Dedup.duplicateGroups(pairs, "a", "b")
        .collect().map(_.toString).sorted.toSeq
    val base = withMode("localCheckpoint")(run())
    assert(base.nonEmpty)
    for (m <- Seq("persist", "checkpoint", "none"))
      assert(withMode(m)(run()) == base, s"mode $m diverged from localCheckpoint")
  }

  test("persist-mode scoped pqTrain releases the pool-thread barriers (collecting/adopt)") {
    // pqTrain submits its m sub-quantizer trainings from pool threads;
    // the scope stack is a ThreadLocal, so without Barrier.collecting +
    // adopt the per-thread barriers would escape the caller's scoped
    // block and stay cached forever under persist mode (the FaaS
    // deployment's barrier mode — a streaming seeding step would leak
    // one cached frame per subspace per round)
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001").limit(200)
    withMode("persist") {
      val leaked = leakedIds {
        Barrier.scoped {
          Similarity.pqTrain(emb, "vec_id", "embedding", 4, 8, 2).collect()
        }
      }
      assert(leaked.isEmpty,
        s"leaked cached barriers past the scope: RDD ids $leaked")
    }
  }

  test("localCheckpoint-mode scoped releases checkpointed blocks eagerly") {
    // localCheckpoint frames report storageLevel NONE (the blocks hang
    // off the checkpointed RDD, not the cache manager) — release must
    // free THEM too, or a multi-verb probe session accumulates every
    // verb's intermediates until GC (the r12 sf100 24g-heap note).
    val docs = Tables.documents(spark, sf0001).limit(50)
    withMode("localCheckpoint") {
      val leaked = leakedIds {
        Barrier.scoped {
          assert(Barrier(docs.select("doc_id")).count() == 50)
        }
      }
      assert(leaked.isEmpty,
        s"leaked localCheckpoint RDDs past the scope: ids $leaked")
    }
  }

  test("collecting releases its barriers when the body throws (persist mode)") {
    // On the error path nobody will ever adopt the collected frames:
    // without the catch-release, a failed pool-thread task under
    // persist mode leaks every barrier it created before the throw —
    // the exact leak collecting exists to prevent, just on failure.
    val docs = Tables.documents(spark, sf0001).limit(50)
    withMode("persist") {
      val leaked = leakedIds {
        intercept[RuntimeException] {
          Barrier.collecting {
            Barrier(docs.select("doc_id")) // materializes + registers
            throw new RuntimeException("subspace failed")
          }
        }
      }
      assert(leaked.isEmpty,
        s"leaked cached barriers on the error path: RDD ids $leaked")
    }
  }

  test("persist-mode fixpoints release per-round barriers (no cache leak)") {
    import spark.implicits._
    // a 7-node chain over three partitions: its residue runs a second
    // level, which does not halve it, and then star rounds; without
    // release() each level and round would leave a cached copy behind
    val pairs = (1L to 6L).map(i => (i, i + 1)).toDF("a", "b").repartition(3)
    withMode("persist") {
      val leaked = leakedIds {
        Dedup.duplicateGroups(pairs, "a", "b").collect()
      }
      // the top level's labels + the composed residue labels may stay
      // (the output reads both); per-level and per-round copies must not
      assert(leaked.size <= 2,
        s"leaked ${leaked.size} cached barriers: RDD ids $leaked")
    }
  }
}
