package graft.api

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Asset lifecycle: generation-aware reads and compaction
  * ([[Asset.read]] / [[Asset.compact]]). The invariant
  * under test everywhere: the ROWS the reader returns never change
  * across compactions, crashed compaction attempts, or cleanup — only
  * the directory layout does. */
class AssetLifecycleSpec extends AnyFunSuite with SparkSpec {

  private def sigRows(dir: String): Set[(Long, Int)] =
    Asset.read(spark, dir)
      .select(col("doc_id"), col("nh"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet

  private def subdirs(dir: String): Set[String] =
    new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).toSet

  test("compaction folds incs into a generation without changing the rows") {
    val docs = Tables.documents(spark, sf0001)
    val root = java.nio.file.Files.createTempDirectory("graft-asset").toString
    try {
      Dedup.minhashSignatures(docs.filter(col("doc_id") % 3 === 0),
        "doc_id", "text", 8, 4).write.parquet(s"$root/base")
      Dedup.minhashSignatures(docs.filter(col("doc_id") % 3 === 1),
        "doc_id", "text", 8, 4).write.parquet(s"$root/inc_0")
      Dedup.minhashSignatures(docs.filter(col("doc_id") % 3 === 2),
        "doc_id", "text", 8, 4).write.parquet(s"$root/inc_1")
      val before = sigRows(root)
      assert(before.nonEmpty)

      // a crashed compaction attempt (data landed, no _manifest) is
      // invisible to the reader
      Dedup.minhashSignatures(docs.filter(col("doc_id") % 3 === 0).limit(5),
        "doc_id", "text", 8, 4).write.parquet(s"$root/base_gen1")
      assert(sigRows(root) == before, "incomplete generation must be ignored")

      // real compaction overwrites the crashed attempt; rows unchanged
      // (keepSuperseded = 0 pins the immediate-cleanup layout; the
      // retention default has its own test below)
      assert(Asset.compact(spark, root, keepSuperseded = 0) == 2)
      assert(sigRows(root) == before)
      assert(subdirs(root) == Set("base_gen1"),
        s"seed + folded incs cleaned up, got ${subdirs(root)}")
      assert(new java.io.File(s"$root/base_gen1/_manifest").exists())

      // nothing left to fold
      assert(Asset.compact(spark, root, keepSuperseded = 0) == 0)
      assert(sigRows(root) == before)

      // a later increment lands, reads merge it, next compaction chains
      // the generations (gen2 folds gen1 + inc_2)
      Dedup.minhashSignatures(docs.filter(col("doc_id") % 3 === 0).limit(7),
        "doc_id", "text", 8, 4)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .write.parquet(s"$root/inc_2")
      val withInc = sigRows(root)
      assert(withInc.size == before.size + 7)
      assert(Asset.compact(spark, root, keepSuperseded = 0) == 1)
      assert(sigRows(root) == withInc)
      assert(subdirs(root) == Set("base_gen2"))
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", root).!
    }
  }

  test("reader excludes a named inc subdir (streaming retry idempotence)") {
    val docs = Tables.documents(spark, sf0001)
    val root = java.nio.file.Files.createTempDirectory("graft-asset2").toString
    try {
      Dedup.minhashSignatures(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", 8, 4).write.parquet(s"$root/base")
      Dedup.minhashSignatures(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", 8, 4).write.parquet(s"$root/inc_3")
      val all = sigRows(root)
      val excl = Asset.read(spark, root, excludeInc = Some("inc_3"))
        .select(col("doc_id"), col("nh"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(excl.nonEmpty && all != excl)
      assert(excl.forall { case (id, _) => id % 2 == 0 })
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", root).!
    }
  }

  test("groups asset: upserts resolve latest-wins over the base, compaction folds them") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-groups").toString
    try {
      Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L)).toDF("doc_id", "group_id")
        .write.parquet(s"$root/base")
      // batch 0 merges {3} into group 1; batch 1 re-touches doc 3 and
      // adds a new doc 100 — doc 3's batch-1 row must win over batch 0's
      Seq((3L, 1L)).toDF("doc_id", "group_id").write.parquet(s"$root/inc_0")
      Seq((3L, 2L), (100L, 2L)).toDF("doc_id", "group_id")
        .write.parquet(s"$root/inc_1")
      def resolved() = Asset.readUpserts(spark, root)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = Set((1L, 1L), (2L, 1L), (3L, 2L), (4L, 4L), (100L, 2L))
      assert(resolved() == expected)
      // excludeInc: a replayed batch 1 must resolve pre-batch-1 state
      val pre = Asset.readUpserts(spark, root, excludeInc = Some("inc_1"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pre == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L)))
      // compaction folds both upserts into a resolved generation
      assert(Asset.compactUpserts(spark, root, keepSuperseded = 0) == 2)
      assert(resolved() == expected)
      val names = new java.io.File(root).listFiles()
        .filter(_.isDirectory).map(_.getName).toSet
      assert(names == Set("base_gen1"), s"got $names")
      assert(Asset.compactUpserts(spark, root, keepSuperseded = 0) == 0)
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", root).!
    }
  }

  test("readGroupsAsset streams the base: broadcast anti-join, no sort-merge") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-groupsplan").toString
    try {
      Seq((1L, 1L), (2L, 1L), (3L, 3L)).toDF("doc_id", "group_id")
        .write.parquet(s"$root/base")
      Seq((3L, 1L)).toDF("doc_id", "group_id").write.parquet(s"$root/inc_0")
      val df = Asset.readUpserts(spark, root)
      df.collect() // materialize so AQE's final plan is in place
      val plan = df.queryExecution.executedPlan.toString
      // the corpus-sized base side must NEVER shuffle: resolution is a
      // broadcast anti-join on the (small) updated-id set
      assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
        s"expected a broadcast anti-join resolution, got:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"base side shuffled through a sort-merge join:\n$plan")
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", root).!
    }
  }

  test("retention: a reader holding the previous generation's file list survives a compaction") {
    val docs = Tables.documents(spark, sf0001)
    val root = java.nio.file.Files.createTempDirectory("graft-retention").toString
    def sigs(pred: org.apache.spark.sql.Column) =
      Dedup.minhashSignatures(docs.filter(pred), "doc_id", "text", 8, 4)
    try {
      sigs(col("doc_id") % 3 === 0).write.parquet(s"$root/base")
      sigs(col("doc_id") % 3 === 1).write.parquet(s"$root/inc_0")
      // compaction 1 (default retention): gen1 lands, the seed and
      // inc_0 it folded LINGER one more cycle
      assert(Asset.compact(spark, root) == 1)
      assert(subdirs(root) == Set("base", "inc_0", "base_gen1"),
        s"superseded dirs must linger one compaction, got ${subdirs(root)}")
      val afterGen1 = sigRows(root)

      // an ad-hoc reader plans its scan NOW (file list = gen1 + inc_1)
      sigs(col("doc_id") % 3 === 2).write.parquet(s"$root/inc_1")
      val inFlight = Asset.read(spark, root)
      val expected = sigRows(root)

      // compaction 2 supersedes gen1 + inc_1 (kept) and expires the
      // cycle-1 leftovers (base, inc_0 deleted)
      assert(Asset.compact(spark, root) == 1)
      assert(subdirs(root) == Set("base_gen1", "inc_1", "base_gen2"),
        s"got ${subdirs(root)}")
      // the in-flight reader's planned files all still exist
      val got = inFlight.select(col("doc_id"), col("nh"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == expected,
        "a reader that planned before compaction must still see its rows")
      assert(sigRows(root) == expected)
      assert(afterGen1.subsetOf(expected))

      // a no-op compaction only expires dirs whose retention has passed
      // (gen1/inc_1 were superseded at gen2 = the newest gen: kept)
      assert(Asset.compact(spark, root) == 0)
      assert(subdirs(root) == Set("base_gen1", "inc_1", "base_gen2"))
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", root).!
    }
  }

  test("retention: a CONCURRENT reader paused mid-scan survives the compaction that supersedes its generation") {
    // The strongest retention pin (round-11 task #5): an actual reader
    // THREAD, scan already started (first rows consumed), paused while
    // a compaction supersedes the generation it is scanning AND
    // retention-expires the previous cycle's dirs under it — then
    // resumed. With keepSuperseded = 1 (default) every file the reader
    // planned still exists, so it must produce every planned row.
    // Boundary (documented, not flaky-tested): keepSuperseded counts
    // GENERATION-ADVANCING compactions — a reader slow enough to span
    // N of them needs keepSuperseded = N; within one cycle, 1 suffices.
    val docs = Tables.documents(spark, sf0001)
    val root = java.nio.file.Files.createTempDirectory("graft-race").toString
    def sigs(pred: org.apache.spark.sql.Column) =
      Dedup.minhashSignatures(docs.filter(pred), "doc_id", "text", 8, 4)
    val oldMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      sigs(col("doc_id") % 3 === 0).write.parquet(s"$root/base")
      sigs(col("doc_id") % 3 === 1).write.parquet(s"$root/inc_0")
      assert(Asset.compact(spark, root) == 1) // gen1; base+inc_0 linger
      sigs(col("doc_id") % 3 === 2).repartition(4).write.parquet(s"$root/inc_1")
      val expected = sigRows(root)

      // force a multi-partition scan (tiny files otherwise coalesce
      // into one task and the whole read would finish pre-compaction)
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
      val inFlight = Asset.read(spark, root)
        .select(col("doc_id"), col("nh"))
      assert(inFlight.rdd.getNumPartitions > 1,
        "the scan must span several tasks for a mid-scan pause to mean anything")

      val started = new java.util.concurrent.CountDownLatch(1)
      val compacted = new java.util.concurrent.CountDownLatch(1)
      val got = scala.collection.mutable.Set[(Long, Int)]()
      @volatile var readerErr: Throwable = null
      val reader = new Thread(() => {
        try {
          val it = inFlight.toLocalIterator()
          var n = 0
          while (it.hasNext) {
            val r = it.next()
            got += ((r.getLong(0), r.getInt(1)))
            n += 1
            if (n == 3) { // scan underway, most partitions still unread
              started.countDown()
              compacted.await(120, java.util.concurrent.TimeUnit.SECONDS)
            }
          }
        } catch { case t: Throwable => readerErr = t }
      })
      reader.start()
      assert(started.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "reader never reached its mid-scan pause")
      // compaction 2 UNDER the paused reader: supersedes gen1 + inc_1
      // (the dirs being scanned — kept by retention) and expires the
      // cycle-1 leftovers (base, inc_0 — deleted NOW)
      assert(Asset.compact(spark, root) == 1)
      assert(subdirs(root) == Set("base_gen1", "inc_1", "base_gen2"),
        s"expiry must delete base/inc_0 mid-read, got ${subdirs(root)}")
      compacted.countDown()
      reader.join(120000)
      assert(!reader.isAlive, "reader thread hung")
      if (readerErr != null) throw readerErr
      assert(got == expected,
        "the concurrent reader must see every row it planned: " +
          s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", oldMax)
      import scala.sys.process._
      Seq("rm", "-rf", root).!
    }
  }

  test("groups asset: upsert accumulation past maxUpsertDirs fails loud; compaction is never blocked") {
    val s = spark
    import s.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-upguard").toString
    try {
      Seq((1L, 1L), (2L, 2L)).toDF("doc_id", "group_id")
        .write.parquet(s"$root/base")
      (0 until 4).foreach { i =>
        Seq((2L, 1L), (100L + i, 1L)).toDF("doc_id", "group_id")
          .write.parquet(s"$root/inc_$i")
      }
      // over the (lowered) threshold: read refuses and names the fix
      val e = intercept[IllegalArgumentException] {
        Asset.readUpserts(spark, root, maxUpsertDirs = 3)
      }
      assert(e.getMessage.contains("compactGroupsAsset"))
      assert(e.getMessage.contains("4 un-compacted upsert dirs"))
      // at the threshold: reads fine
      assert(Asset.readUpserts(spark, root, maxUpsertDirs = 4)
        .count() == 6)
      // the fix itself must never be refused by the guard it fixes —
      // compaction reads unguarded, folds all 4, and the default-guard
      // read works again
      assert(Asset.compactUpserts(spark, root, keepSuperseded = 0) == 4)
      assert(Asset.readUpserts(spark, root).count() == 6)
      // the shipped default is the documented constant
      assert(Asset.DefaultMaxUpsertDirs == 64)
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", root).!
    }
  }

  test("a lingering generation whose manifest vanishes mid-scan reads as incomplete") {
    val docs = Tables.documents(spark, sf0001)
    val root = java.nio.file.Files.createTempDirectory("graft-vanish").toString
    def sigs(pred: org.apache.spark.sql.Column) =
      Dedup.minhashSignatures(docs.filter(pred), "doc_id", "text", 8, 4)
    try {
      sigs(col("doc_id") % 2 === 0).write.parquet(s"$root/base")
      sigs(col("doc_id") % 2 === 1).write.parquet(s"$root/inc_0")
      assert(Asset.compact(spark, root) == 1) // gen1; base+inc_0 linger
      val expected = sigRows(root)
      // a concurrent compaction's cleanup deletes a lingering gen's
      // manifest between the reader's listing and its manifest read —
      // the scan must fall through to the surviving state, not crash
      sigs(col("doc_id") % 4 === 1).limit(3)
        .withColumn("doc_id", col("doc_id") + 7000000L)
        .write.parquet(s"$root/inc_1")
      assert(Asset.compact(spark, root) == 1) // gen2; gen1+inc_1 linger
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(s"$root/base_gen1/_manifest"))
      val got = sigRows(root)
      assert(got.size == expected.size + 3,
        "reader must use gen2 and ignore the manifest-less gen1")
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", root).!
    }
  }

  test("an empty or truncated _manifest marks the generation incomplete, not empty-folded") {
    val docs = Tables.documents(spark, sf0001)
    val root = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    try {
      Dedup.minhashSignatures(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", 8, 4).write.parquet(s"$root/base")
      Dedup.minhashSignatures(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", 8, 4).write.parquet(s"$root/inc_0")
      val before = sigRows(root)
      // a crashed pre-rename writer look-alike: generation data landed
      // and a ZERO-BYTE _manifest exists. Treating it as complete with
      // an empty fold list would return gen rows PLUS the already-
      // folded inc — duplicate signatures.
      Dedup.minhashSignatures(docs.limit(3), "doc_id", "text", 8, 4)
        .write.parquet(s"$root/base_gen1")
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(s"$root/base_gen1/_manifest"))
      assert(sigRows(root) == before,
        "an empty _manifest must not count as a complete generation")
      // retry folds over the crashed attempt and publishes atomically
      assert(Asset.compact(spark, root, keepSuperseded = 0) == 1)
      assert(sigRows(root) == before)
      assert(subdirs(root) == Set("base_gen1"))
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", root).!
    }
  }

  test("a non-lifecycle dir in a compacted asset fails loud instead of being deleted") {
    val docs = Tables.documents(spark, sf0001)
    val root = java.nio.file.Files.createTempDirectory("graft-unrec").toString
    try {
      Dedup.minhashSignatures(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", 8, 4).write.parquet(s"$root/base")
      Dedup.minhashSignatures(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", 8, 4).write.parquet(s"$root/inc_0")
      assert(Asset.compact(spark, root, keepSuperseded = 0) == 1)
      // a user drops new data NOT via the lifecycle: the old code
      // classified it as a stale seed and the next compaction deleted
      // it unread — now both read and compaction refuse
      Dedup.minhashSignatures(docs.limit(4), "doc_id", "text", 8, 4)
        .withColumn("doc_id", col("doc_id") + 5000000L)
        .write.parquet(s"$root/base2")
      val e = intercept[IllegalArgumentException] {
        Asset.read(spark, root)
      }
      assert(e.getMessage.contains("base2"))
      intercept[IllegalArgumentException] {
        Asset.compact(spark, root)
      }
      assert(new java.io.File(s"$root/base2").exists(),
        "off-lifecycle data must never be deleted")
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", root).!
    }
  }

  test("unseeded asset fails loud") {
    val root = java.nio.file.Files.createTempDirectory("graft-asset3").toString
    val e = intercept[IllegalArgumentException] {
      Asset.read(spark, root)
    }
    assert(e.getMessage.contains("unseeded"))
  }

  test("assertDisjointIds flags a re-ingested id and passes disjoint sets") {
    val s = spark
    import s.implicits._
    val corpus = Seq((1L, 10L), (2L, 20L)).toDF("doc_id", "sig")
    val incBad = Seq((2L, 21L), (3L, 30L)).toDF("doc_id", "sig")
    val incOk = Seq((3L, 30L)).toDF("doc_id", "sig")
    Dedup.assertDisjointIds(corpus, incOk, "doc_id")
    val e = intercept[IllegalArgumentException] {
      Dedup.assertDisjointIds(corpus, incBad, "doc_id")
    }
    assert(e.getMessage.contains("corpus ids"))
  }

  test("retention: keepSuperseded=2 carries a reader across TWO generation-advancing compactions") {
    // The documented boundary of the single-cycle retention tests: a
    // reader slow enough to span N generation-advancing compactions
    // needs keepSuperseded = N. This pins N = 2 — plan against gen1,
    // survive the compactions that produce gen2 AND gen3 — and pins
    // the expiry schedule: dirs superseded at gen k are deleted by the
    // compaction producing gen k+2, not before.
    val docs = Tables.documents(spark, sf0001)
    val root = java.nio.file.Files.createTempDirectory("graft-retention2").toString
    def sigs(pred: org.apache.spark.sql.Column) =
      Dedup.minhashSignatures(docs.filter(pred), "doc_id", "text", 8, 4)
    try {
      sigs(col("doc_id") % 4 === 0).write.parquet(s"$root/base")
      sigs(col("doc_id") % 4 === 1).write.parquet(s"$root/inc_0")
      // compaction 1 → gen1; seed cycle lingers (superseded at gen1)
      assert(Asset.compact(spark, root, keepSuperseded = 2) == 1)
      assert(subdirs(root) == Set("base", "inc_0", "base_gen1"))

      // the slow reader plans NOW: file list = gen1 + inc_1
      sigs(col("doc_id") % 4 === 2).write.parquet(s"$root/inc_1")
      val slowReader = Asset.read(spark, root)
      val planned = sigRows(root)

      // compaction 2 → gen2 (supersedes gen1 + inc_1). With
      // keepSuperseded=2 the seed cycle (superseded at gen1, age 1)
      // must STILL exist — under the default 1 it would expire here.
      assert(Asset.compact(spark, root, keepSuperseded = 2) == 1)
      assert(subdirs(root) ==
        Set("base", "inc_0", "base_gen1", "inc_1", "base_gen2"),
        s"seed cycle must survive one more cycle under keepSuperseded=2, got ${subdirs(root)}")

      // compaction 3 → gen3 (folds inc_2): the seed cycle is now age 2
      // and expires; the reader's cycle (gen1 + inc_1, age 1) remains
      sigs(col("doc_id") % 4 === 3).write.parquet(s"$root/inc_2")
      assert(Asset.compact(spark, root, keepSuperseded = 2) == 1)
      assert(subdirs(root) ==
        Set("base_gen1", "inc_1", "base_gen2", "inc_2", "base_gen3"),
        s"got ${subdirs(root)}")

      // the reader that planned before BOTH compactions completes whole
      val got = slowReader.select(col("doc_id"), col("nh"))
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
      assert(got == planned,
        "a reader spanning two compactions must still see every planned row")
      // current readers see the same logical content plus inc_2's rows
      assert(planned.subsetOf(sigRows(root)))
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", root).!
    }
  }

  test("pair-budget histogram sidecar: seed stamp, live incs, exclusion, compaction") {
    import spark.implicits._
    val gk = Dedup.hammingGuardKeys("sig")
    val root = java.nio.file.Files.createTempDirectory("graft-hist").toString
    def hist(excl: Option[String] = None): Option[Map[Long, Long]] =
      Asset.readSidecar(spark, root, Asset.pairHistogram(gk), excl)
        .map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    try {
      // seed: sig 100 ×3 (a heap), sig 200 ×1 (a singleton)
      Seq((1L, 100L), (2L, 100L), (3L, 100L), (4L, 200L))
        .toDF("doc_id", "sig").write.parquet(s"$root/base")
      assert(hist().isEmpty, "unstamped seed must report no sidecar")
      Asset.writeSidecar(spark, s"$root/base", Asset.pairHistogram(gk))
      // c >= 2 keys only; the singleton is the guards' +1 floor's job
      assert(hist() == Some(Map(100L -> 3L)))
      // the sidecar is invisible to the asset's own parquet scan
      assert(Asset.read(spark, root).count() == 4)

      // live incs merge at read time; excludeInc drops a batch's own dir
      Seq((10L, 100L), (11L, 300L), (12L, 300L))
        .toDF("doc_id", "sig").write.parquet(s"$root/inc_0")
      assert(hist() == Some(Map(100L -> 4L, 300L -> 2L)))
      assert(hist(Some("inc_0")) == Some(Map(100L -> 3L)))

      // compaction with guardKeys persists the merged counts in the new
      // generation's own sidecar (reader now serves it with no inc scan)
      assert(Asset.compact(spark, root, keepSuperseded = 0,
        sidecar = Some(Asset.pairHistogram(gk))) == 1)
      assert(hist() == Some(Map(100L -> 4L, 300L -> 2L)))
      assert(Asset.read(spark, root).count() == 7)

      // a later compaction WITHOUT guardKeys produces a generation with
      // no sidecar — the reader reports None (guards fall back loudly
      // to the full aggregate, never serve a stale histogram)
      Seq((20L, 300L)).toDF("doc_id", "sig").write.parquet(s"$root/inc_1")
      assert(hist() == Some(Map(100L -> 4L, 300L -> 3L)))
      assert(Asset.compact(spark, root, keepSuperseded = 0) == 1)
      assert(hist().isEmpty,
        "a generation compacted without guardKeys must not inherit a sidecar")
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", root).!
    }
  }

  test("pair-budget histogram sidecar: multi-dir seeds refuse the fast path (per-dir truncation would under-estimate)") {
    import spark.implicits._
    val gk = Dedup.hammingGuardKeys("sig")
    val root = java.nio.file.Files.createTempDirectory("graft-hist-md").toString
    try {
      // sig 100 holds ONE copy in each seed dir — true cc = 2 (a heap
      // spread across seeds), but each per-dir sidecar truncates its
      // cc = 1 row away: no reader-side re-aggregation can recover it,
      // so serving these sidecars would UNDER-estimate the pair budget
      // (breaking the guard's over-estimate-only guarantee)
      Seq((1L, 100L), (2L, 300L), (3L, 300L)).toDF("doc_id", "sig")
        .write.parquet(s"$root/seed_a")
      Seq((4L, 100L), (5L, 400L)).toDF("doc_id", "sig")
        .write.parquet(s"$root/seed_b")
      Asset.writeSidecar(spark, s"$root/seed_a", Asset.pairHistogram(gk))
      Asset.writeSidecar(spark, s"$root/seed_b", Asset.pairHistogram(gk))
      assert(Asset.readSidecar(spark, root, Asset.pairHistogram(gk)).isEmpty,
        "multi-dir seeds must fall back to the exact full aggregate")
      // first compaction (folding an inc) merges the seeds into ONE
      // generation whose sidecar sees the cross-dir heap whole — fast
      // path restored
      Seq((6L, 400L)).toDF("doc_id", "sig").write.parquet(s"$root/inc_0")
      assert(Asset.compact(spark, root, keepSuperseded = 0,
        sidecar = Some(Asset.pairHistogram(gk))) == 1)
      val hist = Asset.readSidecar(spark, root, Asset.pairHistogram(gk))
        .map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(hist == Some(Map(100L -> 2L, 300L -> 2L, 400L -> 2L)))
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", root).!
    }
  }
}
