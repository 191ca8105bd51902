package graft.api

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The library API on AD-HOC DataFrames (not the fixture tables) — what
  * an actual user does. The fixture queries pin exact values via the
  * oracle; this pins that the operators are genuinely reusable:
  * caller's column names, caller's data, sensible outputs. */
class ApiSpec extends AnyFunSuite with SparkSpec {

  private lazy val docs = spark.createDataFrame(Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox leaps over the lazy dog"), // near dup
    (4L, "completely different content about spark engines and shuffles"),
    (5L, "completely different content about spark engines and shuffling"),
    (6L, "short"))).toDF("my_id", "body")

  test("Dedup.exactGroups groups exact duplicates under caller's columns") {
    val g = Dedup.exactGroups(docs, "my_id", "body").collect()
    assert(g.map(_.getLong(2)).sum == 6) // every doc accounted for
    val dup = g.find(_.getLong(2) == 2L).get
    assert(dup.getLong(1) == 1L) // keeper is min id
  }

  test("Dedup.jaccardPairs finds the near-dup, not the unrelated pair") {
    val pairs = Dedup.jaccardPairs(docs, "my_id", "body",
        bands = 16, rows = 2, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
    assert(!pairs.exists { case (a, b) => Set(a, b).intersect(Set(4L, 5L)).size == 1 &&
      Set(a, b).intersect(Set(1L, 2L, 3L)).size == 1 })
    intercept[IllegalArgumentException](
      Dedup.jaccardPairs(docs, "my_id", "body", 5, 5, 0.5))
  }

  test("Dedup.simhashPairs flags the exact dup pair at hamming 0") {
    val pairs = Dedup.simhashPairs(docs, "my_id", "body")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((1L, 2L)).contains(0))
  }

  test("Dedup.embeddingPairs verifies exact cosine inside LSH buckets") {
    val vecs = spark.createDataFrame(Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(1.0f, 0.01f, 0.0f)),  // near-dup of 10
      (12L, Array(0.0f, 1.0f, 0.0f)))).toDF("vid", "v")
    val pairs = Dedup.embeddingPairs(vecs, "vid", "v",
        tables = 8, planes = 2, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 11L)))
  }

  test("Sampling is deterministic, per-stratum, and near the asked rate") {
    val s = spark
    import s.implicits._
    val rows = (0L until 4000L).map(i => (i, if (i % 4 == 0L) "en" else "xx"))
    val df = rows.toDF("rid", "grp")
    val sampled = Sampling.stratified(df, "grp", "rid",
      Map("en" -> 0.2), default = 0.8)
    val counts = sampled.groupBy("grp").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(counts("en") / 1000.0 - 0.2) < 0.05)
    assert(math.abs(counts("xx") / 3000.0 - 0.8) < 0.05)
    // a rerun keeps the identical rows (pure function of id — task
    // retries cannot change the sample)
    val ids1 = sampled.select("rid").collect().map(_.getLong(0)).toSet
    val ids2 = Sampling.stratified(df, "grp", "rid", Map("en" -> 0.2), 0.8)
      .select("rid").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
    assert(Sampling.uniform(df, "rid", 0.0).count() == 0)
    assert(Sampling.uniform(df, "rid", 1.0).count() == 4000)
    intercept[IllegalArgumentException](
      Sampling.stratified(df, "grp", "rid", Map("en" -> 1.5)))
  }

  test("duplicateGroups finds connected components, including long chains") {
    // components: {1..5} as a pure path (diameter 4 — forces several
    // propagation rounds), {10,11,12} as a triangle, {20,21} as a pair
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L))).toDF("x", "y")
    val got = Dedup.duplicateGroups(pairs, "x", "y")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  /** Driver-side reference components: node -> component min. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x0: Long): Long = {
      var x = parent.getOrElseUpdate(x0, x0)
      while (parent(x) != x) x = parent(x)
      x
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      parent(ra max rb) = ra min rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** `f` once as the session is, and once with the residue spread over
    * 16 uncoalesced shuffle partitions: a residue level then cannot
    * halve its input, so star contraction finishes the components. */
  private def bothResiduePaths(f: => Unit): Unit = {
    f
    val keys = Seq("spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "16")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("duplicateGroups equals a driver-side union-find, across partitions and id types") {
    def groups(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      Dedup.duplicateGroups(df, "x", "y")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // seeded random graphs, self-pairs included (one on a paired node,
    // one on an otherwise unpaired node); spread over 4 or 16 partitions
    // most components cross partitions, so the residue path runs
    val rnd = new scala.util.Random(7)
    for (parts <- Seq(1, 4, 16)) {
      val edges = Seq.fill(150)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)) ++
        Seq((3L, 3L), (500L, 500L))
      val df = spark.createDataFrame(edges).toDF("x", "y").repartition(parts)
      bothResiduePaths(assert(groups(df) == unionFind(edges), s"over $parts partitions"))
    }
    // Int ids keep their type in both output columns
    val ints = Dedup.duplicateGroups(spark.createDataFrame(
      Seq((3, 1), (1, 2), (7, 7), (9, 8))).toDF("x", "y").repartition(2), "x", "y")
    assert(ints.schema.map(_.dataType) ==
      Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.IntegerType))
    assert(ints.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
      Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7, 8 -> 8, 9 -> 8))
    // a 10⁴-hop chain whose shuffled edges spread over 16 partitions:
    // its diameter is 10⁴ (a label propagation would need 10⁴ hops),
    // and nearly every node sits in two partitions
    val chain = rnd.shuffle((0L until 10000L).map(i => (i, i + 1)))
    val cdf = spark.createDataFrame(chain).toDF("x", "y").repartition(16)
    val crossing = cdf
      .select(spark_partition_id().as("p"), explode(array(col("x"), col("y"))).as("id"))
      .groupBy("id").agg(countDistinct("p").as("np")).filter(col("np") > 1).count()
    assert(crossing > 1000, s"only $crossing nodes cross partitions")
    bothResiduePaths(assert(groups(cdf) == (0L to 10000L).map(_ -> 0L).toMap))
  }

  test("incrementalGroups equals a driver-side union-find of corpus and increment pairs, over its touched components") {
    // corpus ids 0..199 grouped by their own pairs (a self-pair
    // included); increment ids from 1000, each random pair touching one
    val rnd = new scala.util.Random(11)
    val corpusPairs = Seq.fill(150)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)) :+
      ((3L, 3L))
    val asset = unionFind(corpusPairs)
    val sameGroup = asset.groupBy(_._2).values.find(_.size >= 2).get.keys.toSeq
    val incPairs: Seq[(Option[Long], Option[Long])] =
      Seq.fill(80) {
        val i = 1000L + rnd.nextInt(50)
        val o = if (rnd.nextBoolean()) rnd.nextInt(200).toLong else 1000L + rnd.nextInt(50)
        if (rnd.nextBoolean()) (Some(i), Some(o)) else (Some(o), Some(i))
      } ++ Seq(
        (Some(1001L), Some(1001L)), // self-pair on a paired doc
        (Some(1059L), Some(1059L)), // self-pair on an otherwise unpaired doc
        (None, Some(1002L)), (Some(1055L), None), // null endpoints link nothing
        (Some(sameGroup(0)), Some(sameGroup(1)))) // tolerated same-group corpus pair
    val linked = incPairs.collect { case (Some(a), Some(b)) => (a, b) }
    val merged = unionFind(corpusPairs ++ linked)
    val touched = linked.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a, b) }.filter(_ >= 1000L).map(merged).toSet
    val want = merged.filter { case (_, g) => touched(g) }.toSet
    assert(!want.exists(_._1 == 1059L) && !want.exists(_._1 == 1055L))
    for (parts <- Seq(1, 4)) {
      val got = Dedup.incrementalGroups(
          spark.createDataFrame(asset.toSeq).toDF("doc_id", "group_id").repartition(parts),
          spark.createDataFrame(incPairs).toDF("a", "b").repartition(parts), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1))
      assert(got.toSet == want, s"over $parts partitions")
      assert(got.length == want.size, s"duplicate rows over $parts partitions")
    }
    // Int ids keep their type in both output columns
    val ints = Dedup.incrementalGroups(
      spark.createDataFrame(asset.toSeq.map { case (d, g) => (d.toInt, g.toInt) })
        .toDF("doc_id", "group_id"),
      spark.createDataFrame(linked.map { case (a, b) => (a.toInt, b.toInt) }).toDF("a", "b"),
      "a", "b")
    assert(ints.schema.map(_.dataType) ==
      Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.IntegerType))
    assert(ints.collect().map(r => r.getInt(0).toLong -> r.getInt(1).toLong).toSet == want)
    // an empty increment touches nothing
    val none = Dedup.incrementalGroups(
      spark.createDataFrame(asset.toSeq).toDF("doc_id", "group_id"),
      spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("a", "b"), "a", "b")
    assert(none.collect().isEmpty)
    assert(none.columns.toSeq == Seq("doc_id", "group_id"))
  }

  test("multi-probe LSH recall >= 0.9 on planted pairs in the cos~0.4-0.5 regime") {
    // Planted-pair fixture: 60 random unit vectors (fixed seed —
    // deterministic), each with a partner at a known cosine in
    // [0.42, 0.50], i.e. exactly the low-similarity regime where
    // one-shot 8x6 hyperplane LSH has recall ~0.5.
    val rnd = new scala.util.Random(42)
    val d = 64
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val base = (0 until 60).map(_ => unit(Array.fill(d)(rnd.nextGaussian())))
    val rows = base.zipWithIndex.flatMap { case (u, i) =>
      val c = 0.42 + 0.08 * (i / 59.0)
      val w0 = Array.fill(d)(rnd.nextGaussian())
      val proj = (0 until d).map(k => u(k) * w0(k)).sum
      val w = unit((0 until d).map(k => w0(k) - proj * u(k)).toArray)
      val partner = (0 until d).map(k => c * u(k) + math.sqrt(1 - c * c) * w(k)).toArray
      Seq((i.toLong, u.map(_.toFloat)), (1000L + i, partner.map(_.toFloat)))
    }
    val vecs = spark.createDataFrame(rows).toDF("vid", "v")
    // ground truth by brute force on the float-rounded vectors
    def cos(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        (0 until d).map(k => x(k).toDouble * y(k).toDouble).sum
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    }
    val truth = (for {
      x <- rows; y <- rows if x._1 < y._1 && cos(x._2, y._2) >= 0.4
    } yield (x._1, y._1)).toSet
    assert(truth.size >= 60) // the 60 planted pairs, plus any incidental ones
    def found(probes: Int): Set[(Long, Long)] =
      Dedup.embeddingPairs(vecs, "vid", "v", tables = 8, planes = 6,
          threshold = 0.4, probes = probes)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = found(6)
    assert(multi.subsetOf(truth)) // exact verification: no false positives
    val recall = multi.size.toDouble / truth.size
    assert(recall >= 0.9, s"multi-probe recall $recall (${multi.size}/${truth.size})")
    // the one-shot leg sits in the collapse regime the r15 model-recall
    // guard rejects (model 0.41 < the 0.5 floor at 8x6/0.4/probes=0) —
    // measuring it is the point here, so downgrade to warn
    spark.conf.set(Similarity.LshSizingConfKey, "warn")
    try assert(found(0).size < multi.size) // one-shot misses pairs multi-probe finds
    finally spark.conf.unset(Similarity.LshSizingConfKey)
  }

  test("Similarity.cosineTopK ranks the closest vector first") {
    val corpus = spark.createDataFrame(Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 1.0f)))).toDF("id", "emb")
    val queries = corpus.filter(col("id") === 1L)
    val top = Similarity.cosineTopK(corpus, queries, "id", "emb", 2)
      .orderBy("rank").collect()
    assert(top.map(_.getLong(1)).toSeq == Seq(2L, 3L)) // nearest first
  }

  test("Temporal.asofJoin picks the latest quote at-or-before each probe") {
    val quotes = spark.createDataFrame(Seq(
      (1L, 100L, 501L), (1L, 200L, 502L), (2L, 150L, 503L)))
      .toDF("k", "t", "qid")
    val probes = spark.createDataFrame(Seq(
      (1L, 150L, 901L), (1L, 250L, 902L), (2L, 100L, 903L), (3L, 100L, 904L)))
      .toDF("k", "t", "qid")
    val out = Temporal.asofJoin(probes, quotes, "k", "t", "qid")
      .collect().map(r => r.getLong(1) -> ((r.getLong(3), r.getLong(4)))).toMap
    assert(out(901L) == ((501L, 50L)))  // latest quote <= 150 is t=100
    assert(out(902L) == ((502L, 50L)))  // latest quote <= 250 is t=200
    assert(!out.contains(903L))         // user 2's quote is later than probe
    assert(!out.contains(904L))         // user 3 has no quotes
  }

  test("Temporal.rangeJoin emits every in-window pair exactly once") {
    val quotes = spark.createDataFrame(Seq(
      (1L, 95L, 501L), (1L, 60L, 502L), (1L, 10L, 503L)))
      .toDF("k", "t", "qid")
    val probes = spark.createDataFrame(Seq((1L, 100L, 901L)))
      .toDF("k", "t", "qid")
    val out = Temporal.rangeJoin(probes, quotes, "k", "t", "qid", window = 50L)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(out == Set((501L, 5L), (502L, 40L))) // 503 (gap 90) is outside
  }

  test("TopKPerKey returns the k best per key with deterministic ties") {
    val df = spark.createDataFrame(Seq(
      (1L, 10.0, 100L), (1L, 30.0, 101L), (1L, 20.0, 102L), (1L, 30.0, 103L),
      (2L, 5.0, 200L))).toDF("grp", "score", "rid")
    val top = TopKPerKey(df, "grp", "score", "rid", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // grp 1: two scores of 30.0 — tie breaks on rid asc (101 before 103)
    assert(top == Set((1L, 101L, 1), (1L, 103L, 2), (2L, 200L, 1)))
  }

  test("TopKPerKey is exact past k = 255 (the count-byte overflow regression)") {
    // The buffer's entry count was one byte: k > 255 wrapped at 256 and
    // corrupted the aggregate (STATUS r13 — pqTopK at rerank 500
    // returned recall 0.0 where rerank 50 returned 0.43). rerank is a
    // scale knob that grows with the corpus, so k must be unbounded.
    import spark.implicits._
    val k = 500
    val df = (0 until 2000).map(i => (1L, (i * 7919 % 2000).toDouble, i.toLong))
      .toDF("grp", "score", "rid")
    val got = TopKPerKey(df, "grp", "score", "rid", k)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.length == k)
    // equals the window-function formulation
    val want = df.collect().map(r => (r.getDouble(1), r.getLong(2)))
      .sortBy { case (s, id) => (-s, id) }.take(k).zipWithIndex
      .map { case ((s, id), i) => (id, s, i + 1) }
    assert(got.sortBy(_._3).toSeq == want.toSeq)
  }

  test("TopKPerKey at k = 400 with exact score ties equals a sort-based top k") {
    // scores from 13 values, so every kept slot ties with ~150 others
    // and the id tie-break decides; 4 partitions merge partial buffers
    import spark.implicits._
    val k = 400
    val rows = (0 until 6000).map(i => (i % 3L, ((i * 7919) % 13).toDouble, i.toLong))
    val got = TopKPerKey(rows.toDF("grp", "score", "rid").repartition(4),
        "grp", "score", "rid", k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .sortBy(r => (r._1, r._4)).toSeq
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (g, rs) =>
      rs.sortBy { case (_, s, id) => (-s, id) }.take(k).zipWithIndex
        .map { case ((_, s, id), i) => (g, id, s, i + 1) }
    }
    assert(got == want)
  }

  test("dedup operators survive null text / null vectors under ANSI mode") {
    val withNulls = spark.createDataFrame(Seq(
      (1L, "some real content here for the shingles to chew on"),
      (2L, null.asInstanceOf[String]),
      (3L, ""))).toDF("my_id", "body")
    // null/empty rows contribute no pairs, and nothing throws
    assert(Dedup.jaccardPairs(withNulls, "my_id", "body", 16, 2, 0.5).count() == 0)
    assert(Dedup.simhashPairs(withNulls, "my_id", "body")
      .collect().forall(r => r.getLong(0) != 2L && r.getLong(1) != 2L))
    assert(Dedup.exactGroups(withNulls, "my_id", "body").count() == 3) // null, "", text
    val vecNulls = spark.createDataFrame(Seq(
      (1L, Array(1.0f, 0.0f)), (2L, null.asInstanceOf[Array[Float]])))
      .toDF("vid", "v")
    assert(Dedup.embeddingPairs(vecNulls, "vid", "v", 4, 2, 0.5).count() == 0)
  }

  test("Sketches CMS estimates dominate true counts and match sans collision") {
    val s = spark
    import s.implicits._
    val words = (Seq.fill(50)("alpha") ++ Seq.fill(20)("beta") ++
      Seq.fill(3)("gamma") ++ (1 to 200).map(i => s"noise$i")).toDF("w")
    val sketch = Sketches.cmsSketch(words, "w")
    val probes = Seq("alpha", "beta", "gamma").toDF("w")
    val est = Sketches.cmsEstimate(sketch, probes, "w")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("alpha") >= 50 && est("beta") >= 20 && est("gamma") >= 3)
    // 273 keys in 1024 cells x 4 rows: min-over-rows collisions are
    // unlikely to inflate ALL three estimates
    assert(est("alpha") < 60)
  }

  test("Sketches.hllDistinct estimates within tolerance on ad-hoc data") {
    val s = spark
    import s.implicits._
    val df = (1L to 5000L).map(_ * 13L).toDF("uid")
    val est = Sketches.hllDistinct(df, "uid").head().getDouble(0)
    assert(math.abs(est - 5000) / 5000 < 0.39, s"est=$est")
  }
}
