package graft.api

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
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

  test("persist-mode scoped pqTrain leaves no cached barrier (Lloyd engine)") {
    // the Lloyd engine reads its input through one lazy barrier and
    // hands back driver-built rows; under persist mode (the FaaS
    // deployment's barrier mode) a barrier that outlived the call would
    // stay cached for every seeding step of a stream
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

  test("filled: one full-scan action fills the barrier; later actions skip the source") {
    // the source counts the rows it computes; the filling action is the
    // Lloyd engine's (a filtered collect), the later one its round shape
    // (a raw-RDD pass over the frame)
    val n = 200L
    for (m <- Barrier.Modes.toSeq.sorted) withMode(m) {
      val computed = spark.sparkContext.longAccumulator(s"filled-$m")
      val touch = udf((x: Long) => { computed.add(1); x }).asNondeterministic()
      def src = spark.range(0, n, 1, 4).select(touch(col("id")).as("id"))
      val (b, (seeds, jobs)) = Barrier.filled(src) { b =>
        // only checkpoint fills eagerly: a lazy reliable checkpoint
        // would compute the frame twice
        assert(computed.value == (if (m == "checkpoint") n else 0L),
          s"$m: before the filling action")
        graft.JobCount(spark)(b.filter(col("id") < 5).collect())
      }
      assert(seeds.length == 5 && jobs == 1, s"$m: filling action ran $jobs jobs")
      assert(computed.value == n, s"$m: the filling action computed ${computed.value} rows")
      assert(b.queryExecution.toRdd.count() == n)
      // none keeps the lineage: the second action recomputes the source
      assert(computed.value == (if (m == "none") 2 * n else n),
        s"$m: the second action recomputed the source (${computed.value} rows)")
      Barrier.release(b)
      // counted: the barrier and its row count from one filling job
      val ((c, cn), cJobs) = graft.JobCount(spark)(Barrier.counted(src))
      assert(cn == n && (m == "checkpoint" || cJobs == 1), s"$m: counted ran $cJobs jobs")
      Barrier.release(c)
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
