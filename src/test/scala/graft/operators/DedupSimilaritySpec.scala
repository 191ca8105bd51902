package graft.operators

import graft.{Registry, SparkSpec}
import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSimilaritySpec extends AnyFunSuite with SparkSpec {

  private def run(name: String) =
    Registry.queries(name)(spark, sf0001)

  test("dd1 exact dedup: fingerprint groups cover all docs") {
    val df = run("dd1_exact_dedup")
    val total = df.agg(sum("n_copies")).head().getLong(0)
    assert(total == 500)
  }

  test("dd2 jaccard pairs are high-similarity and deduplicated") {
    val rows = run("dd2_ngram_jaccard").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getDouble(2) >= 0.5))
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.distinct.length == pairs.length)
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("dd3 minhash LSH recalls the planted near-dups (vs exact jaccard)") {
    val exact = run("dd2_ngram_jaccard").filter(col("jac") >= 0.9)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = run("dd3_minhash_lsh")
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    val recall = exact.count(lsh.contains).toDouble / exact.size
    assert(recall >= 0.8, s"LSH recall $recall over ${exact.size} exact pairs")
  }

  test("dd4 simhash: hamming<=3 pairs include the exact duplicates") {
    val dups = run("dd1_exact_dedup").filter(col("n_copies") > 1)
    val sim = run("dd4_simhash").collect()
    assert(sim.forall(_.getInt(2) <= 3))
    if (dups.count() > 0) assert(sim.nonEmpty)
  }

  test("dd7 incremental ≡ inc-touching subset of full jaccardPairs, via a parquet round-trip of the signature asset") {
    val docs = graft.Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = docs.filter(col("doc_id") % 10 === 0)
    // the corpus signatures go through parquet: the asset a daily
    // pipeline persists once and reuses per increment
    val tmp = java.nio.file.Files.createTempDirectory("dd7sigs").toString
    graft.api.Dedup.minhashSignatures(corpus, "doc_id", "text", 8, 4)
      .write.mode("overwrite").parquet(s"$tmp/corpus_sigs")
    val corpusSigs = spark.read.parquet(s"$tmp/corpus_sigs")
    val incSigs = graft.api.Dedup.minhashSignatures(inc, "doc_id", "text", 8, 4)
    val got = graft.api.Dedup.incrementalJaccardPairs(corpusSigs, incSigs, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = graft.api.Dedup.jaccardPairs(docs, "doc_id", "text", 8, 4, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filter(p => p._1 % 10 == 0 || p._2 % 10 == 0)
    assert(got == expected)
    assert(got.nonEmpty, "fixture should hold inc-touching jaccard pairs")
    assert(got.forall { case (a, b, _) => a % 10 == 0 || b % 10 == 0 })
    assert(full.exists(p => p._1 % 10 != 0 && p._2 % 10 != 0),
      "fixture should also hold corpus-corpus pairs dd7 must NOT re-find")
  }

  test("dd8 incremental hamming ≡ inc-touching subset of full simhashPairs") {
    graft.functions.HashFunctions.register(spark)
    val docs = graft.Tables.documents(spark, sf0001)
    def sigs(f: org.apache.spark.sql.Column) = docs.filter(f)
      .select(col("doc_id"),
        graft.functions.HashFunctions.simhashText(col("text")).as("sig"))
    val got = graft.api.Dedup.incrementalHammingPairs(
        sigs(col("doc_id") % 10 =!= 0), sigs(col("doc_id") % 10 === 0),
        "doc_id", "sig", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = graft.api.Dedup.simhashPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = full.filter(p => p._1 % 10 == 0 || p._2 % 10 == 0)
    assert(got == expected)
    assert(got.nonEmpty, "fixture should hold inc-touching hamming pairs")
    assert(full.exists(p => p._1 % 10 != 0 && p._2 % 10 != 0),
      "fixture should also hold corpus-corpus pairs dd8 must NOT re-find")
  }

  test("dd8 ladder: maxHamming 4-7 one-bit piece probing is pigeonhole-complete; 8 fails toward the embedding family") {
    val D = graft.api.Dedup
    val s = spark
    import s.implicits._
    // fixture with known distance structure: random 64-bit sigs plus
    // planted neighbors at every distance 1..8 (distinct flipped bits)
    val rnd = new scala.util.Random(7)
    val base = (0 until 120).map(_ => rnd.nextLong())
    val planted = (0 until 40).map { i =>
      val d = 1 + (i % 8) // distances 1..8
      val bits = rnd.shuffle((0 until 64).toList).take(d)
      bits.foldLeft(base(i))((s, b) => s ^ (1L << b))
    }
    val all = (base ++ planted).zipWithIndex.map { case (sg, i) => (i.toLong, sg) }
    val sigs = all.toDF("doc_id", "sig")
    def brute(maxH: Int): Set[(Long, Long, Int)] = (for {
      (ia, a) <- all; (ib, b) <- all if ia < ib
      h = java.lang.Long.bitCount(a ^ b) if h <= maxH
    } yield (ia, ib, h)).toSet
    for (maxH <- Seq(3, 4, 5, 7)) {
      val got = D.hammingPairs(sigs, "doc_id", "sig", maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute(maxH), s"completeness broken at maxHamming=$maxH")
    }
    // the fixture must actually exercise the extension: pairs at
    // distances 4..7 exist (found only by the probed form)
    assert(brute(7).size > brute(3).size,
      "fixture must hold pairs in the 4..7 band")
    val e = intercept[IllegalArgumentException] {
      D.hammingPairs(sigs, "doc_id", "sig", 8)
    }
    assert(e.getMessage.contains("embedding"))
    val ei = intercept[IllegalArgumentException] {
      D.incrementalHammingPairs(sigs, sigs, "doc_id", "sig", 8)
    }
    assert(ei.getMessage.contains("embedding"))
  }

  test("dd8 ladder: incremental maxHamming=5 ≡ inc-touching subset; groups compose") {
    val D = graft.api.Dedup
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(11)
    val base = (0 until 150).map(_ => rnd.nextLong())
    val planted = (0 until 50).map { i =>
      val d = 1 + (i % 8)
      val bits = rnd.shuffle((0 until 64).toList).take(d)
      bits.foldLeft(base(i))((s, b) => s ^ (1L << b))
    }
    val all = (base ++ planted).zipWithIndex.map { case (sg, i) => (i.toLong, sg) }
    val sigs = all.toDF("doc_id", "sig")
    val corpus = sigs.filter(col("doc_id") % 5 =!= 0)
    val inc = sigs.filter(col("doc_id") % 5 === 0)
    val full = D.hammingPairs(sigs, "doc_id", "sig", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val got = D.incrementalHammingPairs(corpus, inc, "doc_id", "sig", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = full.filter(p => p._1 % 5 == 0 || p._2 % 5 == 0)
    assert(got == expected)
    assert(got.exists(_._3 > 3),
      "fixture must hold inc-touching pairs only the 4..7 probes find")
    assert(full.exists(p => p._1 % 5 != 0 && p._2 % 5 != 0),
      "fixture should also hold corpus-corpus pairs dd8 must NOT re-find")
    // groups compose at the extended distance too
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(key(D.hammingGroups(sigs, "doc_id", "sig", 5)) ==
      key(D.duplicateGroups(
        D.hammingPairs(sigs, "doc_id", "sig", 5), "doc_a", "doc_b")))
  }

  test("dd9 incremental embedding ≡ inc-touching subset of full embeddingPairs") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    def sigs(f: org.apache.spark.sql.Column) = graft.api.Dedup.lshSignatureTable(
      emb.filter(f), "vec_id", "embedding", 8, 6)
    val got = graft.api.Dedup.incrementalEmbeddingPairs(
        sigs(col("vec_id") % 10 =!= 0), sigs(col("vec_id") % 10 === 0),
        0.3, probes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = graft.api.Dedup.embeddingPairs(emb, "vec_id", "embedding",
        8, 6, 0.3, probes = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val expected = full.filter(p => p._1 % 10 == 0 || p._2 % 10 == 0)
    assert(got == expected)
    assert(got.nonEmpty, "fixture should hold inc-touching embedding pairs")
  }

  test("dd10 incremental groups ≡ dd6 over corpus ∪ inc restricted to touched components") {
    val docs = graft.Tables.documents(spark, sf0001)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val inc = docs.filter(col("doc_id") % 10 === 0)
    // asset goes through parquet: the persisted form a daily run reads
    val tmp = java.nio.file.Files.createTempDirectory("dd10asset").toString
    graft.api.Dedup.duplicateGroups(
        graft.api.Dedup.jaccardPairs(corpus, "doc_id", "text", 8, 4, 0.8),
        "doc_a", "doc_b")
      .write.mode("overwrite").parquet(s"$tmp/groups")
    val asset = spark.read.parquet(s"$tmp/groups")
    val incPairs = graft.api.Dedup.incrementalJaccardPairs(
      graft.api.Dedup.minhashSignatures(corpus, "doc_id", "text", 8, 4),
      graft.api.Dedup.minhashSignatures(inc, "doc_id", "text", 8, 4), 0.8)
    val got = graft.api.Dedup.incrementalGroups(asset, incPairs, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = graft.api.Dedup.duplicateGroups(
        graft.api.Dedup.jaccardPairs(docs, "doc_id", "text", 8, 4, 0.8),
        "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val touchedGroups = full.filter(_._1 % 10 == 0).map(_._2)
    val expected = full.filter(r => touchedGroups.contains(r._2))
    assert(got == expected)
    assert(got.nonEmpty, "fixture should hold inc-touched components")
    assert(full.exists(r => !touchedGroups.contains(r._2)),
      "fixture should also hold untouched components dd10 must NOT emit")
  }

  test("dd10 plan: the parquet asset joins via broadcast, never sort-merge") {
    val s = spark
    import s.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("dd10plan").toString
    try {
      Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L), (5L, 3L))
        .toDF("doc_id", "group_id").write.parquet(s"$tmp/asset")
      val asset = spark.read.parquet(s"$tmp/asset")
      val incPairs = Seq((100L, 3L), (100L, 101L)).toDF("doc_a", "doc_b")
      val df = graft.api.Dedup.incrementalGroups(asset, incPairs, "doc_a", "doc_b")
      df.collect() // materialize so AQE's final plan is in place
      val plan = df.queryExecution.executedPlan.toString
      // the corpus-sized asset must only ever STREAM against broadcasts
      // of increment-sized sides (endpoints, touched groups, new labels)
      assert(plan.contains("BroadcastHashJoin"),
        s"expected broadcast joins over the asset scan, got:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"asset side shuffled through a sort-merge join:\n$plan")
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", tmp).!
    }
  }

  test("dd10 handles the bridge-merge and first-time-paired cases") {
    val s = spark
    import s.implicits._
    // two existing groups {1,2} and {10,11}, one untouched group {20,21};
    // doc 50 exists in the corpus but was never paired (not in the asset)
    val asset = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L),
      (20L, 20L), (21L, 20L)).toDF("doc_id", "group_id")
    // inc doc 100 bridges groups 1 and 10; inc doc 101 pairs with the
    // previously-unpaired corpus doc 50
    val incPairs = Seq((100L, 2L), (100L, 10L), (101L, 50L)).toDF("doc_a", "doc_b")
    val got = graft.api.Dedup.incrementalGroups(asset, incPairs, "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 1L), (2L, 1L), (10L, 1L), (11L, 1L), (100L, 1L),
      (50L, 50L), (101L, 50L)),
      s"merged bridge + new component expected, got $got")
  }

  test("s1 brute-force topk: 5 ranked neighbors per probe, cosine in [-1,1]") {
    val rows = run("s1_cosine_topk").collect()
    assert(rows.length == 50) // 10 probes × k=5
    assert(rows.forall(r => r.getDouble(2) >= -1.0 && r.getDouble(2) <= 1.0))
    val perQuery = rows.groupBy(_.getLong(0))
    assert(perQuery.forall { case (_, rs) =>
      rs.map(_.getInt(3)).sorted.toSeq == Seq(1, 2, 3, 4, 5) })
  }

  test("s2 LSH ANN returns subsets of the corpus, never the probe itself") {
    val rows = run("s2_ann_lsh").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
  }

  test("s3 IVF ANN: ranked results from probed cells, overlapping brute force") {
    val brute = run("s1_cosine_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = run("s3_ann_ivf").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getInt(3) >= 1 && r.getInt(3) <= 5))
    val ivf = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = brute.count(ivf.contains).toDouble / brute.size
    assert(overlap > 0.0, "IVF found none of the brute-force neighbors")
  }

  test("s4 trained-codebook IVF: ranked results, brute-force overlap, balanced cells") {
    val brute = run("s1_cosine_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = run("s4_ann_ivf_trained").collect()
    assert(rows.length == 50) // 10 probes × k=5
    assert(rows.forall(r => r.getInt(3) >= 1 && r.getInt(3) <= 5))
    val s4 = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(s4.contains).toDouble / brute.size
    assert(recall >= 0.7, s"trained-IVF recall@5 $recall vs brute force")
    // the codebook's raison d'être: trained cells stay balanced —
    // max cell is bounded relative to the mean (the per-query probe
    // cost bound at corpus scale)
    val emb = graft.Tables.embeddings(spark, sf0001)
    val cells = graft.api.Similarity.kmeansAssign(
      emb, emb.filter(col("vec_id") < 16), "vec_id", "embedding", 2)
      .groupBy("cent_id").count().collect().map(_.getLong(1))
    val maxOverMean = cells.max.toDouble / (cells.sum.toDouble / cells.length)
    assert(maxOverMean < 2.0,
      s"trained cells unbalanced: max/mean $maxOverMean over ${cells.length} cells")
  }

  test("dd11 semantic survivors ≡ independent union-find over within-cluster cosine pairs") {
    // Recompute the whole SemDeDup decision driver-side from first
    // principles: final k-means assignment from the library call, then
    // brute-force within-cluster cosine pairs, union-find components,
    // keeper = min (ccos, id) per component — and demand exact set
    // equality with the operator's survivors.
    val emb = graft.Tables.embeddings(spark, sf0001)
    val assigned = graft.api.Similarity.kmeansAssign(
      emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 2)
      .select("vec_id", "cent_id", "ccos", "embedding").collect()
    assert(assigned.length == 500)
    assert(assigned.map(_.getLong(0)).distinct.length == 500,
      "kmeansAssign must assign every vector exactly once")
    val vecs = assigned.map(r => r.getLong(0) -> r.getSeq[Float](3).toArray).toMap
    val cell = assigned.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ccos = assigned.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def cos(a: Long, b: Long): Double =
      dot(vecs(a), vecs(b)) /
        (math.sqrt(dot(vecs(a), vecs(a))) * math.sqrt(dot(vecs(b), vecs(b))))
    val ids = vecs.keys.toArray.sorted
    val pairs = for {
      i <- ids; j <- ids
      if i < j && cell(i) == cell(j) && cos(i, j) >= 0.4
    } yield (i, j)
    assert(pairs.nonEmpty, "fixture must contain within-cluster near-dups")
    val parent = scala.collection.mutable.Map(ids.map(x => x -> x): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val dropped = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .groupBy(find).values.flatMap { ms =>
        val keeper = ms.minBy(m => (ccos(m), m))
        ms.filterNot(_ == keeper)
      }.toSet
    val expect = ids.filterNot(dropped).map(id => (id, cell(id))).toSet
    val got = run("dd11_semantic").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dropped.nonEmpty)
    assert(got == expect,
      s"survivor sets diverge: missing=${(expect -- got).take(5)} extra=${(got -- expect).take(5)}")
  }

  test("dd11 keeps the cluster outlier: every dropped member has a surviving dominator") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val survivors = run("dd11_semantic").collect().map(_.getLong(0)).toSet
    val assigned = graft.api.Similarity.kmeansAssign(
      emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 2)
      .select("vec_id", "cent_id", "ccos").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val droppedIds = assigned.keySet -- survivors
    assert(droppedIds.nonEmpty)
    droppedIds.foreach { d =>
      val (dc, dcos) = assigned(d)
      // some survivor in the same cell is at-least-as-far from the
      // centroid (the SemDeDup keep rule ran in this cell)
      assert(survivors.exists { s =>
        val (sc, scos) = assigned(s)
        sc == dc && (scos < dcos || (scos == dcos && s < d))
      }, s"dropped $d has no dominating survivor in cell $dc")
    }
  }

  test("hierarchical assignment: w = k1 is exactly the flat argmax; w = 1 routes sanely") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val seeds = emb.filter(col("vec_id") < 16)
    val coarse = emb.filter(col("vec_id") < 4)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cent_id", "ccos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // iters = 0 k-means = flat assignment against the raw seed centroids
    val flat = key(graft.api.Similarity.kmeansAssign(
      emb, seeds, "vec_id", "embedding", 0))
    // probing ALL coarse cells degenerates to the exact flat argmax
    val exhaustive = key(graft.api.Similarity.hierarchicalAssign(
      emb, seeds, coarse, "vec_id", "embedding", w = 4))
    assert(exhaustive == flat)
    // w = 1: every row still gets one of the 16 centroids, assignment
    // is total, and most rows agree with the flat argmax (the
    // coarse-boundary misses are the documented approximation)
    val hier1 = graft.api.Similarity.hierarchicalAssign(
      emb, seeds, coarse, "vec_id", "embedding", w = 1)
      .select("vec_id", "cent_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(hier1.length == 500)
    assert(hier1.map(_._1).distinct.length == 500)
    assert(hier1.forall(_._2 < 16))
    val flatMap2 = flat.map(t => t._1 -> t._2).toMap
    val agree = hier1.count { case (v, c) => flatMap2(v) == c }.toDouble / 500
    assert(agree >= 0.5, s"w=1 agreement with flat argmax only $agree")
  }

  test("hammingGroups == duplicateGroups(hammingPairs) incl. exact-dup heaps") {
    import spark.implicits._
    // a fixture with a LARGE exact-duplicate heap (one sig shared by
    // 40 docs — the shape whose all-pairs form is quadratic), a near
    // pair bridging two sigs, an exact pair, and singletons
    val rows =
      (1L to 40L).map(i => (i, 0x0F0F0F0F0F0F0F0FL)) ++          // heap of 40
      Seq((50L, 0x0F0F0F0F0F0F0F0EL),                            // hamming 1 off the heap
        (60L, 0x7000000000000000L), (61L, 0x7000000000000000L),  // exact pair
        (70L, 0x1234567890ABCDEFL),                              // singleton
        (71L, -0x0F0F0F0F0F0F0F10L))                             // negative-sig singleton
    val sigs = rows.toDF("doc_id", "sig")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "group_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val contracted = key(graft.api.Dedup.hammingGroups(sigs, "doc_id", "sig", 2))
    val naive = key(graft.api.Dedup.duplicateGroups(
      graft.api.Dedup.hammingPairs(sigs, "doc_id", "sig", 2), "doc_a", "doc_b"))
    assert(contracted == naive)
    // the heap + its hamming-1 neighbor form one 41-member group at
    // min id 1; the exact pair groups at 60; singletons are absent
    assert(contracted.count(_._2 == 1L) == 41)
    assert(contracted.filter(_._2 == 60L).map(_._1) == Set(60L, 61L))
    assert(!contracted.exists(t => t._1 == 70L || t._1 == 71L))
  }

  test("hier sizing: k1 ~ sqrt(w*k) is enforced, auto path derives it") {
    val S = graft.api.Similarity
    // the rule itself: k1* minimizes k1 + w*k/k1
    assert(S.coarseSizeFor(16000, 2) == 179)
    val cost = (k1: Double) => k1 + 2.0 * 16000 / k1
    assert(cost(179) <= cost(1000) && cost(179) <= cost(50))
    val emb = graft.Tables.embeddings(spark, sf0001)
    val seeds = emb.filter(col("vec_id") < 64)
    // the r12 probe's wall binding — k1 = k (linear growth): per-row
    // cost 64 + 2 = 66 dots vs optimal 2*sqrt(128) = 22.6 → rejected
    val e = intercept[IllegalArgumentException] {
      S.hierarchicalAssign(emb, seeds, seeds, "vec_id", "embedding", w = 2)
    }
    assert(e.getMessage.contains("sqrt band"))
    // warn mode logs and proceeds; off skips
    for (m <- Seq("warn", "off")) {
      spark.conf.set(S.HierSizingConfKey, m)
      try assert(S.hierarchicalAssign(emb, seeds, seeds,
        "vec_id", "embedding", w = 2).count() == 500)
      finally spark.conf.unset(S.HierSizingConfKey)
    }
    // the auto overload routes through an evenly-spaced sqrt(w*k)-row
    // seed subset: k=16, w=2 → k1=6, stride 2 → seed ranks 0,2,..,10
    val seeds16 = emb.filter(col("vec_id") < 16)
    val expectCoarse = emb.filter(col("vec_id").isin(0L, 2L, 4L, 6L, 8L, 10L))
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "cent_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(S.coarseSizeFor(16, 2) == 6)
    val auto = key(S.kmeansAssignHier(emb, seeds16, "vec_id", "embedding", 1, 2))
    val pinned = key(S.kmeansAssignHier(emb, seeds16, expectCoarse,
      "vec_id", "embedding", 1, 2))
    assert(auto == pinned)
  }

  test("pq: encode shape, ADC = dot against the reconstruction, recall floor vs exact") {
    import graft.functions.PqFunctions
    val emb = graft.Tables.embeddings(spark, sf0001)
    val (m, ks) = (8, 16)
    val books = graft.api.Similarity.pqTrain(emb, "vec_id", "embedding", m, ks, 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getSeq[Float](2).toArray))
    assert(books.map(_._1).distinct.sorted.toSeq == (0 until m))
    assert(books.forall(_._3.length == 8)) // 64-dim fixture / 8 subspaces
    // per-subspace books, code-id ascending — the engine's position order
    val byM = books.groupBy(_._1).map { case (s, bs) =>
      s -> bs.sortBy(_._2).map(_._3)
    }
    // encode + LUT through the native expressions, then check the ADC
    // identity: adc == dot(query, concat(books[m][code_m])) exactly
    PqFunctions.register(spark)
    val booksRow = graft.api.Similarity
      .pqTrain(emb, "vec_id", "embedding", m, ks, 2)
      .groupBy("m").agg(array_sort(collect_list(struct(col("code_id"), col("c_emb")))).as("codes"))
      .groupBy().agg(transform(array_sort(collect_list(struct(col("m"), col("codes")))),
        s => s.getField("codes")).as("books"))
    val sample = emb.limit(20).crossJoin(broadcast(booksRow))
      .select(col("vec_id"),
        PqFunctions.pqEncode(col("books"), col("embedding")).as("codes"),
        PqFunctions.pqAdc(
          PqFunctions.pqLut(col("books"), col("embedding")),
          PqFunctions.pqEncode(col("books"), col("embedding"))).as("self_adc"),
        col("embedding"))
      .collect()
    sample.foreach { r =>
      val codes = r.getSeq[Int](1)
      assert(codes.length == m)
      codes.zipWithIndex.foreach { case (c, s) =>
        assert(c >= 0 && c < byM(s).length, s"code $c out of range in subspace $s")
      }
      val recon = codes.zipWithIndex.flatMap { case (c, s) => byM(s)(c) }
      val x = r.getSeq[Float](3)
      var dot = 0.0
      recon.indices.foreach(i => dot += x(i).toDouble * recon(i).toDouble)
      assert(math.abs(r.getDouble(2) - dot) < 1e-9,
        s"ADC ${r.getDouble(2)} != reconstruction dot $dot for ${r.getLong(0)}")
    }
    // recall@5 vs the exact s1 baseline at the SHIPPED geometry
    // (8 × 64 codes, rerank 50) — STATUS r12 measures 0.90 @ sf0.001
    // / 0.94 @ sf0.01; pinned with margin
    def topSets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, ns) => q -> ns.map(_._2).toSet }
    val exact = topSets(graft.api.Similarity.cosineTopK(
      emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5))
    val pq = topSets(graft.api.Similarity.pqTopK(
      emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5,
      graft.operators.SimilarityQueries.PqM,
      graft.operators.SimilarityQueries.PqKs, 2,
      graft.operators.SimilarityQueries.PqRerank))
    val recall = exact.map { case (q, ns) =>
      (ns intersect pq.getOrElse(q, Set.empty)).size.toDouble / ns.size
    }.sum / exact.size
    assert(recall >= 0.8, s"PQ recall@5 only $recall")
  }

  test("ivfadc: shipped geometry recalls most exact neighbors; every returned cosine is exact") {
    import graft.operators.SimilarityQueries._
    val emb = graft.Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 10)
    def topSets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).groupBy(_._1)
    val exact = topSets(graft.api.Similarity.cosineTopK(
      emb, queries, "vec_id", "embedding", 5))
    val adc = topSets(graft.api.Similarity.ivfadcTopK(
      emb, queries, "vec_id", "embedding", 5,
      AdcCells, AdcCoarseIters, PqM, AdcKs, PqIters, AdcProbe, PqRerank))
    // recall floor (STATUS r12 measures 0.88 at sf0.01 at this
    // geometry; the probe ceiling is the documented IVF knob)
    val recall = exact.map { case (q, ns) =>
      val got = adc.getOrElse(q, Array.empty).map(_._2).toSet
      ns.map(_._2).count(got).toDouble / ns.size
    }.sum / exact.size
    assert(recall >= 0.7, s"IVFADC recall@5 only $recall")
    // within the returned rows, cosines are EXACT — identical to the
    // brute-force values for every (q, n) the two result sets share
    val exactCos = exact.values.flatten.map(t => (t._1, t._2) -> t._3).toMap
    adc.values.flatten.foreach { case (q, n, cos) =>
      exactCos.get((q, n)).foreach(e => assert(e == cos,
        s"re-ranked cosine for ($q,$n) differs from exact: $cos vs $e"))
    }
  }

  test("pq index asset: persisted codes + frozen books answer identically to the in-memory path") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val inc = emb.filter(col("vec_id") % 10 === 0)
    val queries = emb.filter(col("vec_id") < 10)
    val books = graft.api.Similarity.pqTrain(corpus, "vec_id", "embedding", 8, 16, 2)
    val dir = java.nio.file.Files.createTempDirectory("pq-asset").toString
    books.write.parquet(s"$dir/books")
    graft.api.Similarity.pqEncodeIndex(corpus, books, "vec_id", "embedding")
      .write.parquet(s"$dir/index")
    // round-tripped asset (codes + norm through parquet, books through
    // parquet) vs everything in-memory — must be IDENTICAL rows: the
    // index schema (int codes, float-derived double norm) is exact
    val booksRt = spark.read.parquet(s"$dir/books")
    val indexRt = spark.read.parquet(s"$dir/index")
      .unionByName(graft.api.Similarity.pqEncodeIndex(inc, booksRt, "vec_id", "embedding"))
    val fromAsset = graft.api.Similarity.pqTopKFromIndex(
      indexRt, emb, queries, booksRt, "vec_id", "embedding", 5, 50)
    val inMem = graft.api.Similarity.pqTopKFromIndex(
      graft.api.Similarity.pqEncodeIndex(corpus, books, "vec_id", "embedding")
        .unionByName(graft.api.Similarity.pqEncodeIndex(inc, books, "vec_id", "embedding")),
      emb, queries, books, "vec_id", "embedding", 5, 50)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val a = key(fromAsset)
    assert(a.size == 50)
    assert(a == key(inMem))
  }

  test("rerank sizing: calibrated floor enforced, warn/off downgrade, auto path derives it") {
    val S = graft.api.Similarity
    // the curve: calibration point, 10k floor, n-1 cap, monotone in n
    assert(S.rerankFor(S.RerankCalibN, 5) == S.RerankCalibR)
    assert(S.rerankFor(10L, 3) == 9) // capped at n-1
    assert(S.rerankFor(1000L, 50) == 500) // 10k floor binds at small n
    val rs = Seq(1000L, 10000L, 100000L, 1000000L).map(S.rerankFor(_, 5))
    assert(rs == rs.sorted && rs.distinct == rs)
    // the LSH compensation knee: T = ln(1-R)/ln(1-r), pinned at the
    // r14-measured scale-free per-table rates (planes 6/9/12)
    assert(S.lshTablesFor(0.9, 0.301) == 7)
    assert(S.lshTablesFor(0.9, 0.110) == 20)
    assert(S.lshTablesFor(0.9, 0.037) == 62)
    val emb = graft.Tables.embeddings(spark, sf0001) // 500 vectors
    val queries = emb.filter(col("vec_id") < 3)
    // pinned R an order of magnitude under the curve throws — floor
    // at n=500 is rerankFor(500,5)/10 = 25, so R=10 is rejected...
    val e = intercept[IllegalArgumentException] {
      S.pqTopK(emb, queries, "vec_id", "embedding", 5, 8, 16, 1, 10)
    }
    assert(e.getMessage.contains("rerank") &&
      e.getMessage.contains("rerankForMeasured"))
    // ...while the committed fixture geometry (R=50) stays in-band
    // (s6/s7 pass the oracle gate under the default enforce mode)
    assert(50 >= S.rerankFor(500L, 5) / S.RerankBand)
    // warn and off modes proceed
    for (m <- Seq("warn", "off")) {
      spark.conf.set(S.RerankSizingConfKey, m)
      try assert(S.pqTopK(emb, queries,
        "vec_id", "embedding", 5, 8, 16, 1, 10).count() == 15)
      finally spark.conf.unset(S.RerankSizingConfKey)
    }
    // the auto overload ≡ pinned at rerankFor(n, k) — the
    // sizing-by-construction path
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val auto = key(S.pqTopK(emb, queries, "vec_id", "embedding", 5, 8, 16, 1))
    val pinned = key(S.pqTopK(emb, queries, "vec_id", "embedding", 5, 8, 16, 1,
      S.rerankFor(emb.count(), 5)))
    assert(auto == pinned && auto.size == 15)
    // the index path enforces through the BASE corpus count
    val books = S.pqTrain(emb, "vec_id", "embedding", 8, 16, 1)
    val index = S.pqEncodeIndex(emb, books, "vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      S.pqTopKFromIndex(index, emb, queries, books, "vec_id", "embedding", 5, 10)
    }
    assert(e2.getMessage.contains("rerank"))
    val autoIdx = key(S.pqTopKFromIndex(index, emb, queries, books,
      "vec_id", "embedding", 5))
    val pinnedIdx = key(S.pqTopKFromIndex(index, emb, queries, books,
      "vec_id", "embedding", 5, S.rerankFor(emb.count(), 5)))
    assert(autoIdx == pinnedIdx && autoIdx.size == 15)
  }

  test("ivfadc probe sizing: probe-starved nProbe rejected, auto derives half the cells") {
    val S = graft.api.Similarity
    assert(S.probeFor(8) == 4 && S.probeFor(1) == 1 && S.probeFor(16) == 8)
    val emb = graft.Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 3)
    // nProbe=1 of 8 cells < the nCells/4 floor — the probe-starved
    // regime the r13 sweep measured as unfixable by rerank
    val e = intercept[IllegalArgumentException] {
      S.ivfadcTopK(emb, queries, "vec_id", "embedding", 5,
        8, 1, 8, 16, 1, 1, 50)
    }
    assert(e.getMessage.contains("nProbe") &&
      e.getMessage.contains("PROBE-limited"))
    // the committed s8 knee (3 of 8) stays inside the band
    assert(3 >= (8 + 3) / 4)
    // auto overload ≡ pinned at (probeFor(nCells), rerankFor(n, k))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val auto = key(S.ivfadcTopK(emb, queries, "vec_id", "embedding", 5,
      8, 1, 8, 16, 1))
    val pinned = key(S.ivfadcTopK(emb, queries, "vec_id", "embedding", 5,
      8, 1, 8, 16, 1, S.probeFor(8), S.rerankFor(emb.count(), 5)))
    assert(auto == pinned && auto.size == 15)
  }

  test("hammingPairs pair budget: duplicate heaps fail loud, pointing at hammingGroups") {
    import spark.implicits._
    val D = graft.api.Dedup
    // a 40-copy exact-signature heap: C(40,2) = 780 guaranteed pairs
    val heap = (0L until 40L).map(i => (i, 0x1234ABCDL)).toDF("doc_id", "sig")
    spark.conf.set(D.PairBudgetMaxKey, "500")
    try {
      val e = intercept[IllegalArgumentException] {
        D.hammingPairs(heap, "doc_id", "sig")
      }
      assert(e.getMessage.contains("hammingGroups") &&
        e.getMessage.contains("780"))
      // warn mode proceeds and the join emits the full heap
      spark.conf.set(D.PairBudgetConfKey, "warn")
      try assert(D.hammingPairs(heap, "doc_id", "sig").count() == 780)
      finally spark.conf.unset(D.PairBudgetConfKey)
      // the component form passes UNDER THE SAME 500-pair budget: it
      // contracts to one distinct signature before banding, so its
      // inner pair join sees 0 guaranteed pairs — the whole point
      val groups = D.hammingGroups(heap, "doc_id", "sig").collect()
      assert(groups.length == 40 && groups.forall(_.getLong(1) == 0L))
    } finally spark.conf.unset(D.PairBudgetMaxKey)
    // fixture-scale corpora pass untouched under the DEFAULT budget
    // (mm8/dd4's oracle-gated calls run with no conf set)
    assert(run("dd4_simhash").columns.sameElements(
      Seq("doc_a", "doc_b", "hamming")))
  }

  test("extended-band hamming candidate budget: near-equal wobble clusters trip where the exact-heap pair guard is blind (r19 ADVICE)") {
    import spark.implicits._
    val D = graft.api.Dedup
    // a 40-doc WOBBLE cluster: every sig one distinct bit off a base —
    // all sigs DISTINCT (the exact-heap pair guard estimates 0
    // guaranteed pairs) yet every pair is at hamming 2, so the h >= 4
    // probe join emits all C(40,2) = 780 pairs
    val base = 0x1234ABCD5678EF01L
    val wobble = (0L until 40L).map(i => (i, base ^ (1L << i.toInt)))
      .toDF("doc_id", "sig")
    spark.conf.set(D.CandBudgetMaxKey, "1000")
    try {
      // maxHamming 3: the new guard does not run (pre-r19 band,
      // behavior unchanged) — and the pair guard sees nothing
      assert(D.hammingPairs(wobble, "doc_id", "sig", 3).count() == 780)
      // maxHamming 5: the piece-collision estimate (>= 40^2 on the
      // unflipped pieces alone) trips the lowered budget
      val e = intercept[IllegalArgumentException] {
        D.hammingPairs(wobble, "doc_id", "sig", 5)
      }
      assert(e.getMessage.contains("flip-adjacent") &&
        e.getMessage.contains("hammingGroups"))
      // warn proceeds; same pairs out (all at hamming 2 <= 5)
      spark.conf.set(D.CandBudgetConfKey, "warn")
      try assert(D.hammingPairs(wobble, "doc_id", "sig", 5).count() == 780)
      finally spark.conf.unset(D.CandBudgetConfKey)
      // incremental form: one increment doc at the cluster's base
      // pairs with all 40 corpus wobbles — distinct sigs everywhere,
      // so only the candidate estimate can see it coming
      val inc = Seq((100L, base)).toDF("doc_id", "sig")
      spark.conf.set(D.CandBudgetMaxKey, "100")
      val ei = intercept[IllegalArgumentException] {
        D.incrementalHammingPairs(wobble, inc, "doc_id", "sig", 5)
      }
      assert(ei.getMessage.contains("incrementalHammingPairs"))
      spark.conf.set(D.CandBudgetConfKey, "warn")
      try {
        val got = D.incrementalHammingPairs(wobble, inc, "doc_id", "sig", 5)
        assert(got.count() == 40)
      } finally spark.conf.unset(D.CandBudgetConfKey)
      // r19 verdict item #4 (probe-side choice at h >= 4): on a
      // duplicate-heaped corpus — the same 40 wobble sigs at 100
      // copies each — raw hammingPairs pays the 17x expansion on all
      // 4000 rows and trips, while hammingGroups probes the
      // CONTRACTED relation (40 distinct sigs) and passes UNDER THE
      // SAME BUDGET, emitting every member's group label
      import org.apache.spark.sql.functions.{col => c2, explode => ex2,
        lit => l2, sequence => seq2}
      val heaped = wobble
        .select(c2("doc_id"), c2("sig"), ex2(seq2(l2(0), l2(99))).as("r"))
        .select((c2("doc_id") + c2("r") * 1000L).as("doc_id"), c2("sig"))
      spark.conf.set(D.CandBudgetMaxKey, "200000")
      // the pair guard would refuse the raw form first (100-copy
      // heaps): route it to warn so the trip observed is the
      // candidate guard's
      spark.conf.set(D.PairBudgetConfKey, "warn")
      try {
        val er = intercept[IllegalArgumentException] {
          D.hammingPairs(heaped, "doc_id", "sig", 5)
        }
        assert(er.getMessage.contains("flip-adjacent"))
        val groups = D.hammingGroups(heaped, "doc_id", "sig", 5)
        // all 4000 docs form one component (wobbles pairwise h=2)
        assert(groups.count() == 4000)
      } finally {
        spark.conf.unset(D.PairBudgetConfKey)
      }
    } finally spark.conf.unset(D.CandBudgetMaxKey)
    // the committed dd13 binding (h = 5 on the sf0.001 corpus) passes
    // untouched under the DEFAULT budget — its oracle row stays green
    assert(run("dd13_inc_simhash_h5").columns.sameElements(
      Seq("doc_a", "doc_b", "hamming")))
  }

  test("embeddingPairs candidate budget: volume estimate trips a lowered budget, warn proceeds") {
    val D = graft.api.Dedup
    val emb = graft.Tables.embeddings(spark, sf0001)
    // the 500-row fixture at the committed 8x6 multi-probe geometry
    // estimates ~1e4 candidates — a 1000-candidate budget trips
    spark.conf.set(D.CandBudgetMaxKey, "1000")
    try {
      val e = intercept[IllegalArgumentException] {
        D.embeddingPairs(emb, "vec_id", "embedding", 8, 6, 0.4, probes = 6)
      }
      assert(e.getMessage.contains("candidate") &&
        e.getMessage.contains("lshTablesFor"))
      // warn mode proceeds and the verified pairs still come out
      spark.conf.set(D.CandBudgetConfKey, "warn")
      try assert(D.embeddingPairs(emb, "vec_id", "embedding",
        8, 6, 0.4, probes = 6).count() > 0)
      finally spark.conf.unset(D.CandBudgetConfKey)
    } finally spark.conf.unset(D.CandBudgetMaxKey)
    // the committed dd5 binding passes untouched under the DEFAULT
    // budget (its oracle row stays green in the full gate)
    assert(run("dd5_embed_dup").columns.sameElements(
      Seq("vec_a", "vec_b", "cos")))
  }

  test("s2p multi-probe lshTopK: probes=0 is exactly s2, full probes never lowers recall") {
    import graft.functions.SimConstants.{NPlanes, NTables}
    val S = graft.api.Similarity
    val emb = graft.Tables.embeddings(spark, sf0001)
    val queries = emb.filter(col("vec_id") < 10)
    def key(df: org.apache.spark.sql.DataFrame) = df.select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = key(S.lshTopK(emb, queries, "vec_id", "embedding", 5,
      NTables, NPlanes))
    assert(oneShot == key(S.lshTopK(emb, queries, "vec_id", "embedding", 5,
      NTables, NPlanes, probes = 0)))
    val probed = key(S.lshTopK(emb, queries, "vec_id", "embedding", 5,
      NTables, NPlanes, probes = NPlanes))
    val exact = key(S.cosineTopK(emb, queries, "vec_id", "embedding", 5))
    // probing Hamming-1 buckets only ADDS candidates, and the re-rank
    // is exact, so recall vs the exact baseline cannot drop
    def recall(got: Set[(Long, Long)]) =
      exact.count(got).toDouble / exact.size
    assert(recall(probed) >= recall(oneShot),
      s"probed ${recall(probed)} < one-shot ${recall(oneShot)}")
  }

  test("jaccardPairs pair budget: exact-duplicate text heaps fail loud, pointing at jaccardGroups") {
    import spark.implicits._
    val D = graft.api.Dedup
    // a 40-copy exact-duplicate TEXT heap: identical texts ⇒ identical
    // minhash signatures ⇒ every band collides AND every pair survives
    // verification at jac = 1.0 — C(40,2) = 780 guaranteed pairs (the
    // r14 verdict's mechanism: the mm8 wall, one signature family over)
    val heap = (0L until 40L)
      .map(i => (i, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    spark.conf.set(D.PairBudgetMaxKey, "500")
    try {
      val e = intercept[IllegalArgumentException] {
        D.jaccardPairs(heap, "doc_id", "text", 8, 4, 0.8)
      }
      assert(e.getMessage.contains("jaccardGroups") &&
        e.getMessage.contains("780"))
      // warn mode proceeds; the full heap comes out, all at jac = 1.0
      spark.conf.set(D.PairBudgetConfKey, "warn")
      try {
        val rows = D.jaccardPairs(heap, "doc_id", "text", 8, 4, 0.8).collect()
        assert(rows.length == 780 && rows.forall(_.getDouble(2) == 1.0))
      } finally spark.conf.unset(D.PairBudgetConfKey)
      // the contraction verb passes UNDER THE SAME 500-pair budget: it
      // bands one representative per distinct shingle set, so its inner
      // pair join sees 0 guaranteed pairs — heap members never expand
      val groups = D.jaccardGroups(heap, "doc_id", "text", 8, 4, 0.8).collect()
      assert(groups.length == 40 && groups.forall(_.getLong(1) == 0L))
    } finally spark.conf.unset(D.PairBudgetMaxKey)
    // fixture-scale corpora pass untouched under the DEFAULT budget
    assert(run("dd2_ngram_jaccard").columns.sameElements(
      Seq("doc_a", "doc_b", "jac")))
  }

  test("jaccardGroups ≡ duplicateGroups(jaccardPairs) on the fixture") {
    val D = graft.api.Dedup
    val docs = graft.Tables.documents(spark, sf0001)
    val expected = D.duplicateGroups(
        D.jaccardPairs(docs, "doc_id", "text", 8, 4, 0.8), "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = D.jaccardGroups(docs, "doc_id", "text", 8, 4, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(expected.nonEmpty && got == expected)
  }

  test("incremental pair budgets: one increment doc detonating a corpus heap fails loud in all three families") {
    import spark.implicits._
    val D = graft.api.Dedup
    // corpus = a 40-copy heap (ids 1..40), increment = ONE more copy
    // (id 0): guaranteed inc-touching pairs = 40·1 + C(1,2) = 40 — the
    // re-crawled-boilerplate scenario where yesterday's asset is fine
    // until today's doc lands in the heap
    val txt = "the quick brown fox jumps over the lazy dog"
    val corpusDocs = (1L to 40L).map(i => (i, txt)).toDF("doc_id", "text")
    val incDocs = Seq((0L, txt)).toDF("doc_id", "text")
    val corpusJ = D.minhashSignatures(corpusDocs, "doc_id", "text", 8, 4)
    val incJ = D.minhashSignatures(incDocs, "doc_id", "text", 8, 4)
    val corpusH = (1L to 40L).map(i => (i, 0x1234ABCDL)).toDF("doc_id", "sig")
    val incH = Seq((0L, 0x1234ABCDL)).toDF("doc_id", "sig")
    val vec = Array.tabulate(8)(i => 0.1f * (i + 1))
    val corpusE = D.lshSignatureTable(
      (1L to 40L).map(i => (i, vec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 2, 4)
    val incE = D.lshSignatureTable(
      Seq((0L, vec)).toDF("vec_id", "embedding"), "vec_id", "embedding", 2, 4)
    spark.conf.set(D.PairBudgetMaxKey, "30")
    spark.conf.set(D.CandBudgetMaxKey, "50")
    try {
      val ej = intercept[IllegalArgumentException] {
        D.incrementalJaccardPairs(corpusJ, incJ, 0.8)
      }
      assert(ej.getMessage.contains("incrementalJaccardPairs") &&
        ej.getMessage.contains("jaccardGroups"))
      val eh = intercept[IllegalArgumentException] {
        D.incrementalHammingPairs(corpusH, incH, "doc_id", "sig")
      }
      assert(eh.getMessage.contains("incrementalHammingPairs") &&
        eh.getMessage.contains("hammingGroups"))
      // identical vectors ⇒ identical LSH sigs: 2 tables × (40·1) = 80
      // candidates > the 50 budget (volume semantics — CandBudget)
      val ee = intercept[IllegalArgumentException] {
        D.incrementalEmbeddingPairs(corpusE, incE, 0.9)
      }
      assert(ee.getMessage.contains("incrementalEmbeddingPairs"))
      // warn mode proceeds in every family and the heap pairs come out
      spark.conf.set(D.PairBudgetConfKey, "warn")
      spark.conf.set(D.CandBudgetConfKey, "warn")
      try {
        assert(D.incrementalJaccardPairs(corpusJ, incJ, 0.8).count() == 40)
        assert(D.incrementalHammingPairs(
          corpusH, incH, "doc_id", "sig").count() == 40)
        assert(D.incrementalEmbeddingPairs(corpusE, incE, 0.9).count() == 40)
      } finally {
        spark.conf.unset(D.PairBudgetConfKey)
        spark.conf.unset(D.CandBudgetConfKey)
      }
    } finally {
      spark.conf.unset(D.PairBudgetMaxKey)
      spark.conf.unset(D.CandBudgetMaxKey)
    }
  }

  test("histogram-backed incremental guards are Theta(increment): they trip WITHOUT scanning the corpus") {
    import spark.implicits._
    val D = graft.api.Dedup
    // same detonation fixture as above: a 40-copy corpus heap, one
    // increment doc landing in it
    val txt = "the quick brown fox jumps over the lazy dog"
    val corpusJ = D.minhashSignatures(
      (1L to 40L).map(i => (i, txt)).toDF("doc_id", "text"),
      "doc_id", "text", 8, 4)
    val incJ = D.minhashSignatures(
      Seq((0L, txt)).toDF("doc_id", "text"), "doc_id", "text", 8, 4)
    val corpusH = (1L to 40L).map(i => (i, 0x1234ABCDL)).toDF("doc_id", "sig")
    val incH = Seq((0L, 0x1234ABCDL)).toDF("doc_id", "sig")
    val vec = Array.tabulate(8)(i => 0.1f * (i + 1))
    val corpusE = D.lshSignatureTable(
      (1L to 40L).map(i => (i, vec)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", 2, 4)
    val incE = D.lshSignatureTable(
      Seq((0L, vec)).toDF("vec_id", "embedding"), "vec_id", "embedding", 2, 4)
    // sidecars, built exactly as Asset.pairHistogram persists them
    def histOf(sigs: org.apache.spark.sql.DataFrame,
        gk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      Some(gk(sigs).groupBy("k").agg(count(lit(1)).as("cc"))
        .filter(col("cc") >= 2))
    val histJ = histOf(corpusJ, D.jaccardGuardKeys)
    val histH = histOf(corpusH, D.hammingGuardKeys("sig"))
    val histE = histOf(corpusE, D.embeddingGuardKeys)
    // corpora whose EVALUATION throws: the histogram path must decide
    // from sidecar + increment alone — any corpus scan detonates the
    // test with raise_error's message instead of the guard's
    def poison(df: org.apache.spark.sql.DataFrame, c: String) =
      df.withColumn(c, when(
        raise_error(lit("corpus scanned by a histogram-backed precheck"))
          .isNull, col(c)))
    val poisonJ = poison(corpusJ, "bkeys")
    val poisonH = poison(corpusH, "sig")
    val poisonE = poison(corpusE, "sigs")
    spark.conf.set(D.PairBudgetMaxKey, "30")
    spark.conf.set(D.CandBudgetMaxKey, "50")
    try {
      // estimates: (40 sidecar copies + the 1-hidden-copy floor)·1 inc
      // = 41 guaranteed pairs (vs the full path's exact 40) — the
      // documented ≤ |increment| conservative overage
      val ej = intercept[IllegalArgumentException] {
        D.incrementalJaccardPairs(poisonJ, incJ, 0.8, histJ)
      }
      assert(ej.getMessage.contains("incrementalJaccardPairs") &&
        ej.getMessage.contains("41"))
      val eh = intercept[IllegalArgumentException] {
        D.incrementalHammingPairs(poisonH, incH, "doc_id", "sig", 3, histH)
      }
      assert(eh.getMessage.contains("incrementalHammingPairs") &&
        eh.getMessage.contains("41"))
      // identical vectors ⇒ 2 tables × (40+1 floored)·1 = 82 candidates
      val ee = intercept[IllegalArgumentException] {
        D.incrementalEmbeddingPairs(poisonE, incE, 0.9, 0, histE)
      }
      assert(ee.getMessage.contains("incrementalEmbeddingPairs") &&
        ee.getMessage.contains("82"))
      // and with multi-probe the flip targets look up the SIDECAR too
      // (an inc row probing a hot corpus-only bucket must be counted):
      // each probed flip bucket is empty here but floors at cin·(1+ci)
      val ep = intercept[IllegalArgumentException] {
        D.incrementalEmbeddingPairs(poisonE, incE, 0.9, 2, histE)
      }
      assert(ep.getMessage.contains("incrementalEmbeddingPairs"))
      // the histogram path computes the same JOIN output (real corpus,
      // warn mode): the sidecar changes the precheck's cost shape only
      spark.conf.set(D.PairBudgetConfKey, "warn")
      spark.conf.set(D.CandBudgetConfKey, "warn")
      try {
        assert(D.incrementalJaccardPairs(corpusJ, incJ, 0.8, histJ)
          .count() == 40)
        assert(D.incrementalHammingPairs(
          corpusH, incH, "doc_id", "sig", 3, histH).count() == 40)
        assert(D.incrementalEmbeddingPairs(corpusE, incE, 0.9, 0, histE)
          .count() == 40)
      } finally {
        spark.conf.unset(D.PairBudgetConfKey)
        spark.conf.unset(D.CandBudgetConfKey)
      }
      // a quiet corpus under the DEFAULT budget passes through the
      // histogram path in enforce mode (no false trip from the floor)
      spark.conf.unset(D.PairBudgetMaxKey)
      val quietC = (1L to 30L).map(i => (i, 1000L + i)).toDF("doc_id", "sig")
      val quietI = Seq((100L, 5000L)).toDF("doc_id", "sig")
      assert(D.incrementalHammingPairs(quietC, quietI, "doc_id", "sig", 3,
        histOf(quietC, D.hammingGuardKeys("sig"))).count() == 0)
    } finally {
      spark.conf.unset(D.PairBudgetMaxKey)
      spark.conf.unset(D.CandBudgetMaxKey)
    }
  }

  test("pqTopKFromIndex: rerank sizing off skips the base count job (by-name contract)") {
    val S = graft.api.Similarity
    val emb = graft.Tables.embeddings(spark, sf0001)
    val books = S.pqTrain(emb, "vec_id", "embedding", 8, 16, 1)
    val index = S.pqEncodeIndex(emb, books, "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") < 2)
    // a base whose EVALUATION throws: with the conf off, the sizing
    // check must never run the count job (r14 ADVICE: the count was
    // evaluated as an argument before the mode check)
    val boom = udf(() => {
      throw new RuntimeException("boom-count-ran"); true
    })
    val boomBase = emb.filter(boom())
    spark.conf.set(S.RerankSizingConfKey, "off")
    try {
      // plan construction only — must not evaluate boomBase
      S.pqTopKFromIndex(index, boomBase, queries, books,
        "vec_id", "embedding", 5, 50)
    } finally spark.conf.unset(S.RerankSizingConfKey)
    // under the default (enforce) the count runs and surfaces the boom
    val e = intercept[Throwable] {
      S.pqTopKFromIndex(index, boomBase, queries, books,
        "vec_id", "embedding", 5, 50)
    }
    def chain(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: chain(t.getCause)
    assert(chain(e).exists(m => m != null && m.contains("boom-count-ran")))
  }

  test("LSH auto-sizing: model matches r14 measured rates, auto ≡ pinned, envelope enforced") {
    val S = graft.api.Similarity
    val D = graft.api.Dedup
    // closed-form per-table rate vs the r14 MEASURED scale-free rates
    // (cos≈0.4 fixture regime, full multi-probe): within 15% at every
    // geometry and always on the conservative side (model ≤ measured,
    // so lshTablesFor sizes slightly MORE tables than the measurement
    // strictly requires)
    val measured = Map(6 -> 0.301, 9 -> 0.110, 12 -> 0.037)
    measured.foreach { case (planes, m) =>
      val model = S.lshPerTableRate(0.4, planes, planes)
      assert(model <= m && (m - model) / m < 0.15,
        s"planes=$planes: model $model vs measured $m")
    }
    // volume discipline: planes = ceil(log2 n)
    assert(S.lshPlanesFor(2000) == 11 && S.lshPlanesFor(2000000) == 21)
    // derived geometry at fixture scale, and auto ≡ pinned through it
    val emb = graft.Tables.embeddings(spark, sf0001)
    val n = emb.count()
    val g = S.lshGeometryFor(n, 0.4, spark)
    assert(g.planes == S.lshPlanesFor(n) && g.probes == g.planes)
    assert(g.tables ==
      S.lshTablesFor(0.9, S.lshPerTableRate(0.4, g.planes, g.probes)))
    def pairKey(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairKey(D.embeddingPairs(emb, "vec_id", "embedding", 0.4)) ==
      pairKey(D.embeddingPairs(emb, "vec_id", "embedding",
        g.tables, g.planes, 0.4, g.probes)))
    val queries = emb.filter(col("vec_id") < 3)
    def topKey(df: org.apache.spark.sql.DataFrame) = df.select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(topKey(S.lshTopK(emb, queries, "vec_id", "embedding", 5, 0.4)) ==
      topKey(S.lshTopK(emb, queries, "vec_id", "embedding", 5,
        g.tables, g.planes, g.probes)))
    // outside the envelope (table cap): enforce fails loud naming the
    // PQ/IVF family; warn clamps to the cap
    spark.conf.set(S.LshMaxTablesKey, "4")
    try {
      val e = intercept[IllegalArgumentException] {
        S.lshGeometryFor(n, 0.4, spark)
      }
      assert(e.getMessage.contains("PQ/IVF"))
      spark.conf.set(S.LshSizingConfKey, "warn")
      try assert(S.lshGeometryFor(n, 0.4, spark).tables == 4)
      finally spark.conf.unset(S.LshSizingConfKey)
    } finally spark.conf.unset(S.LshMaxTablesKey)
    // pinned-geometry collapse floor: a one-shot geometry whose model
    // recall at the threshold is under 0.5 is rejected (the r14 probe's
    // measured 1-7% regime), warn proceeds
    val e2 = intercept[IllegalArgumentException] {
      D.embeddingPairs(emb, "vec_id", "embedding", 1, 12, 0.4, probes = 0)
    }
    assert(e2.getMessage.contains("model recall") &&
      e2.getMessage.contains("auto-sized"))
    spark.conf.set(S.LshSizingConfKey, "warn")
    try D.embeddingPairs(emb, "vec_id", "embedding", 1, 12, 0.4, probes = 0)
    finally spark.conf.unset(S.LshSizingConfKey)
  }

  test("PQ auto paths: concentration floor trips on clustered corpora, passes on diffuse, pinned exempt") {
    val S = graft.api.Similarity
    import spark.implicits._
    val dim = 128
    val rnd = new scala.util.Random(7)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val diffuse = (0L until 2000L)
      .map(i => (i, unit(Array.fill(dim)(rnd.nextGaussian()))))
      .toDF("vid", "v")
    // tight clusters (0.3-scale noise → within-cluster cos ≈ 0.92):
    // the measured-collapse regime (the r15 fixtures read stat 0.84)
    val cents = (0 until 8).map(_ => unit(Array.fill(dim)(rnd.nextGaussian())))
    val clustered = (0L until 2000L).map { i =>
      val c = cents((i % 8).toInt)
      val nz = unit(Array.fill(dim)(rnd.nextGaussian()))
      (i, c.zip(nz).map { case (a, b) => a + 0.3f * b })
    }.toDF("vid", "v")
    val qc = clustered.filter(col("vid") < 2)
    val qd = diffuse.filter(col("vid") < 2)
    // all three auto overloads trip in enforce (the default), naming
    // the measured remedy
    val e1 = intercept[IllegalArgumentException] {
      S.pqTopK(clustered, qc, "vid", "v", 5, 8, 64, 1)
    }
    assert(e1.getMessage.contains("pqTopK") &&
      e1.getMessage.contains("rerankForMeasured"))
    val e2 = intercept[IllegalArgumentException] {
      S.ivfadcTopK(clustered, qc, "vid", "v", 5, 8, 1, 8, 16, 1)
    }
    assert(e2.getMessage.contains("ivfadcTopK"))
    val books = S.pqTrain(clustered, "vid", "v", 8, 16, 1)
    val index = S.pqEncodeIndex(clustered, books, "vid", "v")
    val e3 = intercept[IllegalArgumentException] {
      S.pqTopKFromIndex(index, clustered, qc, books, "vid", "v", 5)
    }
    assert(e3.getMessage.contains("pqTopKFromIndex"))
    // diffuse passes the same enforce-mode auto path
    assert(S.pqTopK(diffuse, qd, "vid", "v", 5, 8, 64, 1).count() > 0)
    // warn proceeds on the clustered corpus; the PINNED overload is
    // exempt by design (rerankForMeasured's output is consumed there)
    spark.conf.set(S.PqConcConfKey, "warn")
    try assert(S.pqTopK(clustered, qc, "vid", "v", 5, 8, 64, 1).count() > 0)
    finally spark.conf.unset(S.PqConcConfKey)
    assert(S.pqTopK(clustered, qc, "vid", "v", 5, 8, 64, 1, 600).count() > 0)
  }

  test("lshTopK probe radius: radius=1 is the probes overload exactly, recall monotone in radius, model monotone") {
    val S = graft.api.Similarity
    import spark.implicits._
    val dim = 32
    val rnd = new scala.util.Random(3)
    val corpus = (0L until 800L)
      .map(i => (i, Array.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("vid", "v")
    val q = corpus.filter(col("vid") < 4)
    def key(df: org.apache.spark.sql.DataFrame) = df.select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = key(S.cosineTopK(corpus, q, "vid", "v", 5))
    def recall(got: Set[(Long, Long)]) =
      exact.count(got).toDouble / exact.size
    // radius = 1 IS the existing probes overload (identical mask set)
    val p1 = key(S.lshTopK(corpus, q, "vid", "v", 5, 4, 10, 10))
    assert(p1 == key(S.lshTopK(corpus, q, "vid", "v", 5, 4, 10, 10, 1)))
    // candidates grow monotonically with radius, so recall does too
    // (an exact-top-k member in the pool is never displaced: anything
    // above it is also exact-top-k-or-better)
    val r2 = recall(key(S.lshTopK(corpus, q, "vid", "v", 5, 4, 10, 10, 2)))
    val r3 = recall(key(S.lshTopK(corpus, q, "vid", "v", 5, 4, 10, 10, 3)))
    assert(recall(p1) <= r2 && r2 <= r3,
      s"recall must be monotone in radius: ${recall(p1)} / $r2 / $r3")
    // the closed-form rate is monotone in radius at any angle
    Seq(0.3, 0.5, 0.8).foreach { c =>
      val m1 = S.lshPerTableRate(c, 12, 12, 1)
      val m2 = S.lshPerTableRate(c, 12, 12, 2)
      val m3 = S.lshPerTableRate(c, 12, 12, 3)
      assert(m1 == S.lshPerTableRate(c, 12, 12) && m1 < m2 && m2 < m3)
    }
    // radius past the ceiling fails loud (bucket count combinatorial)
    intercept[IllegalArgumentException] {
      S.lshTopK(corpus, q, "vid", "v", 5, 4, 10, 10, 4)
    }
  }

  test("annRoute with cacheDir: sidecar hit serves the cached statistic, stale or mismatched entries re-measure") {
    val S = graft.api.Similarity
    import spark.implicits._
    val dim = 64
    val rnd = new scala.util.Random(11)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val diffuse = (0L until 2000L)
      .map(i => (i, unit(Array.fill(dim)(rnd.nextGaussian()))))
      .toDF("vid", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft-concstat").toString
    def writeCache(line: String): Unit = {
      // drop the Hadoop LocalFileSystem checksum — a raw overwrite
      // would otherwise fail fs.open with ChecksumException and read
      // as a miss instead of a hit
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "._concstat.crc"))
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_concstat"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    try {
      val r1 = S.annRoute(diffuse, "vid", "v", cacheDir = Some(dir))
      assert(r1.family == "pq" && r1.stat < 0.6,
        s"diffuse must route pq, stat ${r1.stat}")
      assert(new java.io.File(s"$dir/_concstat").exists())
      // poison the sidecar with a clustered-regime measurement under
      // the same (n, k, sampleN): the next call must SERVE it (flipping
      // the route) — proof the hit path reads the cache, not the corpus
      writeCache("v2 0.95 0.9 2000 5 1024")
      val r2 = S.annRoute(diffuse, "vid", "v", cacheDir = Some(dir))
      assert(r2.stat == 0.95 && r2.concFrac == 0.9 && r2.family == "lsh",
        s"poisoned cache must be served verbatim, got $r2")
      // a cached count 10× off is stale → re-measure (and re-cache)
      writeCache("v2 0.95 0.9 200000 5 1024")
      val r3 = S.annRoute(diffuse, "vid", "v", cacheDir = Some(dir))
      assert(r3.family == "pq" && r3.stat == r1.stat,
        "stale count must force a re-measure")
      // (k, sampleN) mismatch likewise
      writeCache("v2 0.95 0.9 2000 7 1024")
      val r4 = S.annRoute(diffuse, "vid", "v", cacheDir = Some(dir))
      assert(r4.family == "pq" && r4.stat == r1.stat)
      // a pre-r17 v1 line (no fraction) must read as a MISS — serving
      // it would re-create the mixture blindness the fraction fixes
      writeCache("v1 0.95 2000 5 1024")
      val r5 = S.annRoute(diffuse, "vid", "v", cacheDir = Some(dir))
      assert(r5.family == "pq" && r5.stat == r1.stat,
        "v1 cache lines must re-measure, not serve")
      // and the refreshed cache now hits again
      assert(S.annRoute(diffuse, "vid", "v", cacheDir = Some(dir)).stat == r1.stat)
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", dir).!
    }
  }

  test("LSH calculator radius ladder: escalates 2-3 inside table+candidate caps before failing toward PQ") {
    val S = graft.api.Similarity
    // inside the radius-1 envelope: ladder returns the pre-r17
    // geometry exactly (radius 1, same table count)
    val g1 = S.lshGeometryFor(2000, 0.4, spark)
    assert(g1.radius == 1 && g1.tables ==
      S.lshTablesFor(0.9, S.lshPerTableRate(0.4, g1.planes, g1.probes)))
    // mid-concentration at scale: radius 1 busts the 64-table cap
    // (223 tables at n = 200k, threshold 0.55) — pre-r17 this was
    // OUTSIDE the envelope (annRoute fell to PQ); the ladder holds it
    // at radius 2 within both caps
    val g2 = S.lshGeometryOption(200000, 0.55, spark)
    assert(g2.isDefined && g2.get.radius == 2 && g2.get.tables <= 64,
      s"got $g2")
    assert(S.lshCandFraction(g2.get) <= S.LshMaxCandFracDefault)
    assert(S.lshGeometryFor(200000, 0.55, spark) == g2.get)
    // a decade up the same threshold needs radius 3
    val g3 = S.lshGeometryOption(2000000, 0.55, spark)
    assert(g3.isDefined && g3.get.radius == 3 && g3.get.tables <= 64,
      s"got $g3")
    // the candidate budget binds the ESCALATED rungs: with a tiny
    // budget the ladder cannot escalate and the regime is back outside
    // the envelope...
    spark.conf.set(S.LshMaxCandFracKey, "0.0001")
    try {
      assert(S.lshGeometryOption(200000, 0.55, spark).isEmpty)
      // ...while radius-1 geometries answer to the table cap alone
      // (small-n candidate FRACTIONS are naturally high — the r14
      // baseline must not regress under the r17 budget)
      assert(S.lshGeometryOption(2000, 0.4, spark).map(_.radius) == Some(1))
      val e = intercept[IllegalArgumentException] {
        S.lshGeometryFor(200000, 0.55, spark)
      }
      assert(e.getMessage.contains("PQ/IVF") &&
        e.getMessage.contains("radius 2") &&
        e.getMessage.contains("cand/query"))
    } finally spark.conf.unset(S.LshMaxCandFracKey)
    // pair generators pin maxRadius = 1: a radius-2-only regime must
    // fail toward PQ there (the self-join cannot expand probe masks)
    intercept[IllegalArgumentException] {
      S.lshGeometryFor(200000, 0.55, spark, maxRadius = 1)
    }
  }

  test("dd9 asymmetric radius ladder: lshIncRadiusFor walks 1-3 against a fixed asset geometry") {
    val S = graft.api.Similarity
    // high threshold on the committed dd9 asset geometry: radius 1
    // already holds the target — the pre-r18 contract exactly
    assert(S.lshIncRadiusFor(8, 6, 6, 0.5, spark) == 1)
    // an asset built at the geometry lshGeometryFor derives for
    // (200k, 0.55) — the spread-fixture regime where radius 1 busts
    // the table cap: the asymmetric ladder lands on the SAME rung the
    // symmetric calculator sized the tables for (its radius-1 model
    // recall is by construction under target at that table count)
    val g = S.lshGeometryOption(200000, 0.55, spark).get
    assert(g.radius >= 2)
    assert(S.lshIncRadiusFor(g.tables, g.planes, g.probes, 0.55, spark)
      == g.radius)
    // an asset too weak for the threshold at ANY radius fails loud
    // toward asset re-generation / the PQ family, printing the ladder
    val e = intercept[IllegalArgumentException] {
      S.lshIncRadiusFor(4, 18, 18, 0.55, spark)
    }
    assert(e.getMessage.contains("PQ/IVF") &&
      e.getMessage.contains("radius 3") &&
      e.getMessage.contains("cand/inc-row"))
    // warn clamps to the best admissible rung (the highest-recall
    // radius the candidate budget admits) instead of throwing
    spark.conf.set(S.LshSizingConfKey, "warn")
    try assert(S.lshIncRadiusFor(4, 18, 18, 0.55, spark) == 3)
    finally spark.conf.unset(S.LshSizingConfKey)
    // the candidate budget binds escalated rungs: with a tiny budget
    // only radius 1 is admissible, and warn-clamp falls back to it
    spark.conf.set(S.LshMaxCandFracKey, "0.0001")
    spark.conf.set(S.LshSizingConfKey, "warn")
    try assert(S.lshIncRadiusFor(g.tables, g.planes, g.probes, 0.55,
      spark) == 1)
    finally {
      spark.conf.unset(S.LshMaxCandFracKey)
      spark.conf.unset(S.LshSizingConfKey)
    }
  }

  test("dd9 radius-2 probing ≡ pairs within Hamming-2 of the probed bits (strict superset of radius 1)") {
    val emb = graft.Tables.embeddings(spark, sf0001)
    val thr = 0.1
    val (tables, planes) = (4, 8)
    def sigs(f: org.apache.spark.sql.Column) = graft.api.Dedup
      .lshSignatureTable(emb.filter(f), "vec_id", "embedding", tables, planes)
    def got(radius: Int) = graft.api.Dedup.incrementalEmbeddingPairs(
        sigs(col("vec_id") % 10 =!= 0), sigs(col("vec_id") % 10 === 0),
        thr, probes = planes, radius = radius)
      .select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got1 = got(1)
    val got2 = got(2)
    // truth from the signatures themselves: an inc-touching pair with
    // cos >= thr qualifies at radius r iff some table's signature XOR
    // has <= r set bits (probes = planes, so every bit is probed)
    val all = sigs(lit(true)).collect().map { r =>
      (r.getLong(0), r.getSeq[Long](3).toArray,
        r.getSeq[Float](1).toArray, r.getDouble(2))
    }
    def cos(a: Array[Float], na: Double, b: Array[Float], nb: Double) =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum / (na * nb)
    def expected(radius: Int) = (for {
      (ia, sa, ea, na) <- all; (ib, sb, eb, nb) <- all
      if ia < ib && (ia % 10 == 0 || ib % 10 == 0)
      if cos(ea, na, eb, nb) >= thr
      if sa.zip(sb).exists { case (x, y) =>
        java.lang.Long.bitCount(x ^ y) <= radius }
    } yield (ia, ib)).toSet
    assert(got1 == expected(1))
    assert(got2 == expected(2))
    assert(got1.subsetOf(got2))
    assert(got2.size > got1.size,
      s"fixture should hold pairs only radius 2 finds " +
        s"(r1=${got1.size}, r2=${got2.size})")
  }

  test("dd9 candidate-volume guard covers the expanded radius-2 probe targets (exact and sidecar paths)") {
    val s = spark
    import s.implicits._
    val D = graft.api.Dedup
    val dim = 4
    def row(id: Long, sig: Long) =
      (id, Array.fill(dim)(1.0f), 2.0, Array(sig))
    // hot corpus bucket at sig 5; the increment's bucket (6) is TWO
    // probed bits away (5 ^ 6 = 3) — invisible to radius-1 flips,
    // dragged whole through the join by a radius-2 probe
    val corpus = (0L until 200L).map(row(_, 5L))
      .toDF("vec_id", "embedding", "nrm", "sigs")
    val inc = Seq(row(1000L, 6L))
      .toDF("vec_id", "embedding", "nrm", "sigs")
    val hist = Seq((0, 5L, 200L)).toDF("tbl", "sig", "cc")
      .select(struct(col("tbl"), col("sig")).as("k"), col("cc"))
    spark.conf.set(D.CandBudgetMaxKey, "100")
    try {
      // radius 1: neither the one-shot term nor any 1-bit flip sees
      // the hot bucket — the precheck passes and the join runs empty
      assert(D.incrementalEmbeddingPairs(corpus, inc, 0.9,
        probes = 2, radius = 1).count() == 0)
      // radius 2: the 2-bit mask lands the increment row IN the hot
      // bucket — the guard must price those 200 candidates (exact path)
      val e2 = intercept[IllegalArgumentException] {
        D.incrementalEmbeddingPairs(corpus, inc, 0.9,
          probes = 2, radius = 2)
      }
      assert(e2.getMessage.contains("incrementalEmbeddingPairs"))
      // ...and through the Θ(increment) sidecar path equally
      val eh = intercept[IllegalArgumentException] {
        D.incrementalEmbeddingPairs(corpus, inc, 0.9,
          probes = 2, corpusHist = Some(hist), radius = 2)
      }
      assert(eh.getMessage.contains("incrementalEmbeddingPairs"))
      assert(D.incrementalEmbeddingPairs(corpus, inc, 0.9,
        probes = 2, corpusHist = Some(hist), radius = 1).count() == 0)
    } finally spark.conf.unset(D.CandBudgetMaxKey)
  }

  test("ADC candidate selection: past the heap ceiling the sort path returns exactly the heap path's rows") {
    val S = graft.api.Similarity
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val emb = (0L until 2000L)
      .map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vid", "v")
    val q = emb.filter(col("vid") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e9), r.getInt(3))).toSet
    // nq (5) x rerank (300) = 1500 <= default ceiling: heap path
    val heap = rows(S.pqTopK(emb, q, "vid", "v", 5, 8, 16, 1, 300))
    // force the sort path for the SAME call; identical output rows —
    // first at the derived salt count (max(2, partitions/queries)),
    // then across pinned salt counts including salts that do not
    // divide the candidate set and a degenerate single salt: the
    // phase-1 local top-rerank must be a superset of the global
    // top-rerank at ANY salting, or the two-phase rank is wrong
    spark.conf.set(S.PqHeapSelectMaxKey, "100")
    try {
      val sorted = rows(S.pqTopK(emb, q, "vid", "v", 5, 8, 16, 1, 300))
      assert(sorted == heap)
      for (salts <- Seq(1, 3, 16)) {
        spark.conf.set(S.PqSortSelectSaltsKey, salts.toString)
        try assert(rows(S.pqTopK(emb, q, "vid", "v", 5, 8, 16, 1, 300)) == heap,
          s"salted two-phase rank diverged at salts=$salts")
        finally spark.conf.unset(S.PqSortSelectSaltsKey)
      }
      // r20 phase-2 fold tree: byte-identical at every fold — a
      // non-dividing fold (3 over 16 salts: levels 16→6→2→1), the
      // minimum fold, and fold ≥ salts (one level — the r19 shape).
      // The survivor invariant must hold at EVERY level or rows with
      // globally-top adc in a merged-late group are lost.
      spark.conf.set(S.PqSortSelectSaltsKey, "16")
      try {
        for (fold <- Seq(2, 3, 64)) {
          spark.conf.set(S.PqSortSelectFoldKey, fold.toString)
          try assert(
            rows(S.pqTopK(emb, q, "vid", "v", 5, 8, 16, 1, 300)) == heap,
            s"phase-2 fold tree diverged at fold=$fold")
          finally spark.conf.unset(S.PqSortSelectFoldKey)
        }
      } finally spark.conf.unset(S.PqSortSelectSaltsKey)
    } finally spark.conf.unset(S.PqHeapSelectMaxKey)
  }

  test("routed PQ path: one concentration sample per cold call, zero per cached hit, and a stale cached stat cannot break totality") {
    val S = graft.api.Similarity
    import spark.implicits._
    val dim = 64
    val rnd = new scala.util.Random(17)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val diffuse = (0L until 2000L)
      .map(i => (i, unit(Array.fill(dim)(rnd.nextGaussian()))))
      .toDF("vid", "v")
    val q = diffuse.filter(col("vid") < 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-routecost").toString
    def runs[A](body: => A): (A, Long) = {
      val before = S.concentrationSampleRuns.get()
      val a = body
      (a, S.concentrationSampleRuns.get() - before)
    }
    try {
      // COLD routed call on the diffuse corpus: the router measures the
      // statistic once; the diffuse-PQ branch must NOT re-measure it
      // inside the auto overload's floor (the r16 double-sample defect)
      val (rows1, cold) = runs(
        S.annTopK(diffuse, q, "vid", "v", 5, 8, 16, 1, cacheDir = Some(dir)).count())
      assert(rows1 > 0)
      assert(cold == 1, s"routed cold call must pay exactly ONE sample job, paid $cold")
      // CACHED hit: the sidecar serves the statistic — zero sample jobs
      val (rows2, hit) = runs(
        S.annTopK(diffuse, q, "vid", "v", 5, 8, 16, 1, cacheDir = Some(dir)).count())
      assert(rows2 == rows1)
      assert(hit == 0, s"cached hit must pay ZERO sample jobs, paid $hit")

      // TOTALITY under a stale cache: a clustered corpus whose cached
      // stat (from before it drifted) reads diffuse. The routed call
      // must serve the decision — not re-validate inside the auto
      // overload, where enforce mode would measure stat >= floor and
      // THROW inside the router's own call.
      val cents = (0 until 4).map(_ => unit(Array.fill(dim)(rnd.nextGaussian())))
      val clustered = (0L until 1200L).map { i =>
        val c = cents((i % 4).toInt)
        val nz = unit(Array.fill(dim)(rnd.nextGaussian()))
        (i, c.zip(nz).map { case (a, b) => a + 0.3f * b })
      }.toDF("vid", "v")
      val cdir = java.nio.file.Files.createTempDirectory("graft-routetot").toString
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(cdir, "_concstat"),
          "v2 0.30 0.0 1200 5 1024\n".getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
        val qc = clustered.filter(col("vid") < 2)
        // enforce mode is the default — this used to throw here
        val (rows3, tot) = runs(
          S.annTopK(clustered, qc, "vid", "v", 5, 8, 16, 1, cacheDir = Some(cdir)).count())
        assert(rows3 > 0, "routed call must stay total under a stale cached stat")
        assert(tot == 0, s"stale-cache route must not re-sample, paid $tot")
      } finally {
        import scala.sys.process._
        Seq("rm", "-rf", cdir).!
      }
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", dir).!
    }
  }

  test("annRoute with cacheDir: a corrupted _concstat degrades to a miss and re-measures") {
    val S = graft.api.Similarity
    import spark.implicits._
    val dim = 32
    val rnd = new scala.util.Random(23)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val diffuse = (0L until 1500L)
      .map(i => (i, unit(Array.fill(dim)(rnd.nextGaussian()))))
      .toDF("vid", "v")
    val dir = java.nio.file.Files.createTempDirectory("graft-concbad").toString
    try {
      val s1 = S.annRoute(diffuse, "vid", "v", cacheDir = Some(dir)).stat
      // non-numeric tokens (truncated write / manual edit): the parse
      // must treat it as a miss — the documented recovery is "delete
      // the file", so malformed MUST behave like absent, not crash
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "._concstat.crc"))
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_concstat"),
        "v1 garbage nope 5 1024\n".getBytes(
          java.nio.charset.StandardCharsets.UTF_8))
      val s2 = S.annRoute(diffuse, "vid", "v", cacheDir = Some(dir)).stat
      assert(s2 == s1, "corrupted cache must re-measure, not crash or serve junk")
      // and the re-measure re-published a healthy cache
      val before = S.concentrationSampleRuns.get()
      val s3 = S.annRoute(diffuse, "vid", "v", cacheDir = Some(dir)).stat
      assert(s3 == s1 && S.concentrationSampleRuns.get() == before)
    } finally {
      import scala.sys.process._
      Seq("rm", "-rf", dir).!
    }
  }

  test("tiny corpora (n <= k) stay total: router, auto pqTopK, and the concentration floor all skip") {
    val S = graft.api.Similarity
    import spark.implicits._
    val tiny = (0L until 4L)
      .map(i => (i, Array.fill(16)((i + 1).toFloat)))
      .toDF("vid", "v")
    val q = tiny.filter(col("vid") === 0)
    // the router: nothing to measure, no collapse regime — route pq/NaN
    val r = S.annRoute(tiny, "vid", "v", 5)
    assert(r.family == "pq" && r.stat.isNaN && r.geometry.isEmpty)
    // the floor (r16) must not regress previously-working tiny-corpus
    // auto calls in enforce mode (concentrationSample contracts n > k)
    assert(S.pqTopK(tiny, q, "vid", "v", 5, 4, 4, 1).count() > 0)
    assert(S.annTopK(tiny, q, "vid", "v", 5, 4, 4, 1).count() > 0)
  }

  test("mixture blindness fixed: a clustered-majority mix trips the fraction floor where the percentile stays diffuse") {
    // The r17 mixture refutation (STATUS r17) operationalized: λ = 0.5/0.75
    // mixtures keep a diffuse-band 10th-percentile statistic (a 10%+
    // diffuse minority pins it) while the clustered majority collapses
    // the √n auto curve at scale (0.58/0.47 recall@5 measured at
    // 200 k). The floor must SEE such corpora via the at-level
    // fraction, and the router must take the measured-rerank path.
    val S = graft.api.Similarity
    import spark.implicits._
    val dim = 64
    val rnd = new scala.util.Random(31)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val cents = (0 until 4).map(_ => unit(Array.fill(dim)(rnd.nextGaussian())))
    // 55% clustered (tight, cos ≈ 0.92), 45% diffuse unit noise
    val mixed = (0L until 2000L).map { i =>
      val nz = unit(Array.fill(dim)(rnd.nextGaussian()))
      if (i % 100 < 55) {
        val c = cents((i % 4).toInt)
        (i, c.zip(nz).map { case (a, b) => a + 0.3f * b })
      } else (i, nz)
    }.toDF("vid", "v")
    val route = S.annRoute(mixed, "vid", "v")
    assert(route.stat < 0.6,
      s"the percentile statistic must stay diffuse-band here, got ${route.stat}")
    assert(route.concFrac >= 0.4 && route.concFrac <= 0.7,
      s"the fraction must see the clustered majority, got ${route.concFrac}")
    val q = mixed.filter(col("vid") < 2)
    // enforce mode (default): the auto overload must now REFUSE this
    // shape — pre-r17 it passed the percentile floor silently
    val e = intercept[IllegalArgumentException] {
      S.pqTopK(mixed, q, "vid", "v", 5, 8, 16, 1)
    }
    assert(e.getMessage.contains("sampled queries") &&
      e.getMessage.contains("rerankForMeasured"))
    // ... while the router stays total on it, via the measured path
    assert(S.annTopK(mixed, q, "vid", "v", 5, 8, 16, 1).count() > 0)
  }

  test("annTopK routes by measured concentration and equals the routed verb") {
    val S = graft.api.Similarity
    import spark.implicits._
    val dim = 128
    val rnd = new scala.util.Random(42)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // DIFFUSE: 6000 random unit vectors — kth-NN cosines concentrate
    // near 0.25 at dim 128, putting the LSH table derivation far past
    // the cap (the measured low-similarity-at-scale envelope limit)
    val diffuse = (0L until 6000L)
      .map(i => (i, unit(Array.fill(dim)(rnd.nextGaussian()))))
      .toDF("vid", "v")
    // CLUSTERED: 8 unit centroids + 0.4-scale noise — within-cluster
    // cosines ≈ 0.86, the regime the r15 probe measured multi-probe
    // LSH winning scale-free
    val cents = (0 until 8).map(_ => unit(Array.fill(dim)(rnd.nextGaussian())))
    val clustered = (0L until 4000L).map { i =>
      val c = cents((i % 8).toInt)
      val nz = unit(Array.fill(dim)(rnd.nextGaussian()))
      (i, c.zip(nz).map { case (a, b) => a + 0.4f * b })
    }.toDF("vid", "v")
    val routeD = S.annRoute(diffuse, "vid", "v")
    val routeC = S.annRoute(clustered, "vid", "v")
    assert(routeD.family == "pq" && routeD.geometry.isEmpty,
      s"diffuse corpus must route pq (stat ${routeD.stat})")
    assert(routeC.family == "lsh" && routeC.geometry.isDefined,
      s"clustered corpus must route lsh (stat ${routeC.stat})")
    assert(routeC.stat > routeD.stat,
      s"concentration must separate: ${routeC.stat} vs ${routeD.stat}")
    // the fraction statistic separates the same way (r17): nearly all
    // clustered queries sit above the collapse level, nearly no
    // diffuse ones do
    assert(routeC.concFrac > 0.5 && routeD.concFrac < 0.1,
      s"conc fractions: ${routeC.concFrac} vs ${routeD.concFrac}")
    def key(df: org.apache.spark.sql.DataFrame) = df.select("q_id", "n_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // adaptive ≡ the routed verb, both families
    val qc = clustered.filter(col("vid") < 3)
    val gc = routeC.geometry.get
    assert(key(S.annTopK(clustered, qc, "vid", "v", 5)) ==
      key(S.lshTopK(clustered, qc, "vid", "v", 5,
        gc.tables, gc.planes, gc.probes)))
    val qd = diffuse.filter(col("vid") < 3)
    assert(key(S.annTopK(diffuse, qd, "vid", "v", 5)) ==
      key(S.pqTopK(diffuse, qd, "vid", "v", 5, 8, 64, 2)))
    // and the routed LSH leg actually recalls on the clustered corpus
    // (the point of routing): ≥ 0.8 of exact top-5
    val exact = key(S.cosineTopK(clustered, qc, "vid", "v", 5))
    val got = key(S.annTopK(clustered, qc, "vid", "v", 5))
    assert(exact.count(got).toDouble / exact.size >= 0.8)
    // rerankForMeasured: on the clustered corpus the estimate lands at
    // the cluster population (±2×) — the budget the r15 probe measured
    // reading recall 1.0 where the √n curve collapsed; on the diffuse
    // corpus the confusable set is tiny and the curve floor wins
    val clusterSize = 4000 / 8
    val rc = S.rerankForMeasured(clustered, "vid", "v", 5)
    assert(rc >= clusterSize / 2 && rc <= 2 * clusterSize,
      s"measured rerank $rc vs cluster population $clusterSize")
    assert(S.rerankForMeasured(diffuse, "vid", "v", 5) ==
      S.rerankFor(6000, 5))
    // and PQ at the measured budget recalls on the clustered corpus
    // where the curve budget cannot
    val pqMeas = key(S.pqTopK(clustered, qc, "vid", "v", 5, 8, 64, 2, rc))
    assert(exact.count(pqMeas).toDouble / exact.size >= 0.9)
  }

  test("vec_dot expression matches higher-order-function dot") {
    VectorFunctions.register(spark)
    val e = graft.Tables.embeddings(spark, sf0001).limit(50)
    val hofDot = aggregate(
      zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val diff = e.select(
      abs(VectorFunctions.dot(col("embedding"), col("embedding")) - hofDot).as("d"))
      .agg(max("d")).head().getDouble(0)
    assert(diff == 0.0, s"native vs HOF dot diverged by $diff")
  }
}
