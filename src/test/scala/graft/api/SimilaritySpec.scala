package graft.api

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** The Lloyd engine behind [[Similarity.pqTrain]] and the k-means
  * codebooks, against a plain-Scala Lloyd with the same arithmetic:
  * equal books and centroids, bit for bit, at 1, 4 and 16 input
  * partitions and under every barrier mode. */
class SimilaritySpec extends AnyFunSuite with SparkSpec {
  private val S = Similarity
  private val Scale = S.KMeansQuantScale.toDouble

  // -- the reference: one Lloyd, written out row by row ----------------
  private type Cents = Seq[(Long, Array[Float])]

  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    for (i <- a.indices) s += a(i).toDouble * b(i).toDouble
    s
  }
  private def norm(a: Array[Float]) = math.sqrt(dot(a, a))
  private def cos(c: Array[Float], x: Array[Float]) = dot(c, x) / (norm(c) * norm(x))
  private def l2(c: Array[Float], x: Array[Float]): Double = {
    var s = 0.0
    for (i <- c.indices) { val d = x(i).toDouble - c(i).toDouble; s += d * d }
    s
  }

  /** Best centroid by `score`, ascending ids, strict improvement only:
    * an exact tie keeps the lowest id. */
  private def best(cs: Cents, score: Array[Float] => Double, lower: Boolean): Long =
    cs.sortBy(_._1).foldLeft((Option.empty[Double], -1L)) {
      case ((b, id), (cid, c)) =>
        val s = score(c)
        if (b.forall(v => if (lower) s < v else s > v)) (Some(s), cid) else (b, id)
    }._2

  private def nearestL2(cs: Cents, x: Array[Float]) = best(cs, l2(_, x), lower = true)
  private def nearestCos(cs: Cents, x: Array[Float]) = best(cs, cos(_, x), lower = false)

  /** Two-level route: each fine centroid sits under its nearest coarse
    * cell, a row probes the top-`w` cells that hold any, then takes the
    * best fine centroid among them. */
  private def nearestHier(coarse: Cents, w: Int)(cs: Cents, x: Array[Float]): Long = {
    val cell = cs.map { case (id, c) => id -> nearestCos(coarse, c) }.toMap
    val probed = coarse.filter(cc => cell.values.exists(_ == cc._1))
      .sortBy(cc => (-cos(cc._2, x), cc._1)).take(w).map(_._1).toSet
    nearestCos(cs.filter(c => probed(cell(c._1))), x)
  }

  private def mean(rows: Seq[Array[Float]]): Array[Float] =
    Array.tabulate(rows.head.length) { i =>
      val sq = rows.map(r => math.floor(r(i).toDouble * Scale).toLong).sum
      (sq.toDouble / (Scale * rows.size.toDouble)).toFloat
    }

  private def refLloyd(rows: Seq[Array[Float]], seeds: Cents, iters: Int,
      nearest: (Cents, Array[Float]) => Long): Map[Long, Seq[Float]] =
    (0 until iters).foldLeft(seeds) { (cs, _) =>
      rows.groupBy(nearest(cs, _)).toSeq.map { case (id, rs) => id -> mean(rs) }
    }.map { case (id, c) => id -> c.toSeq }.toMap

  // -- the fixture -----------------------------------------------------
  // ids 0, 3, 6, … (gaps: fewer than `ks` seeds sit below ks); values on
  // a coarse grid so distances tie; row 3 repeats row 0, so seed 3 ties
  // seed 0 on every row, loses them all to the lower id and drops out
  private val Dim = 8
  private val rows: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(11)
    val raw = (0 until 160).map(i => i * 3L -> Array.fill(Dim)(
      ((rnd.nextInt(4) + 1) * (if (rnd.nextBoolean()) 1 else -1)).toFloat / 4))
    raw.updated(1, 3L -> raw(0)._2.clone())
  }
  private def vecs = rows.map(_._2)
  private def seedsBelow(k: Long): Cents = rows.filter(_._1 < k)

  private def frame(parts: Int, intIds: Boolean): DataFrame = {
    import spark.implicits._
    val df = rows.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v").repartition(parts)
    if (intIds) df.withColumn("id", col("id").cast(IntegerType)) else df
  }

  private def withMode[A](m: String)(f: => A): A = {
    spark.conf.set(Barrier.ConfKey, m)
    try f finally spark.conf.unset(Barrier.ConfKey)
  }

  /** Every (partitions, barrier mode) pair on Long ids, then Int ids. */
  private def everywhere(f: (DataFrame, Boolean) => Unit): Unit = {
    for (parts <- Seq(1, 4, 16); mode <- Barrier.Modes.toSeq.sorted)
      withClue(s"[$parts partitions, $mode] ")(withMode(mode)(f(frame(parts, false), false)))
    withClue("[int ids] ")(f(frame(4, intIds = true), true))
  }

  private def idType(intIds: Boolean) = if (intIds) IntegerType else LongType

  test("pqTrain books equal a plain-Scala L2 Lloyd per subspace (ties, drop-out, id gaps)") {
    val (m, ks, iters) = (2, 30, 3)
    val d = Dim / m
    val want = (0 until m).map { g =>
      def sub(v: Array[Float]) = v.slice(g * d, g * d + d)
      refLloyd(vecs.map(sub), seedsBelow(ks).map { case (id, v) => id -> sub(v) },
        iters, nearestL2)
    }
    assert(want.forall(_.size < 10), "the fixture must drop a centroid")
    everywhere { (df, intIds) =>
      val books = S.pqTrain(df, "id", "v", m, ks, iters)
      assert(books.schema.map(f => f.name -> f.dataType) ==
        Seq("m" -> IntegerType, "code_id" -> idType(intIds), "c_emb" -> ArrayType(FloatType)))
      val got = books.collect().groupBy(_.getInt(0)).map { case (g, rs) =>
        g -> rs.map(r => r.getAs[Number](1).longValue -> r.getSeq[Float](2)).toMap
      }
      assert(got == want.zipWithIndex.map(_.swap).toMap)
    }
  }

  test("kmeansCentroids equal a plain-Scala cosine Lloyd (ties, drop-out, id gaps)") {
    val want = refLloyd(vecs, seedsBelow(30), 3, nearestCos)
    assert(want.size < 10)
    everywhere { (df, intIds) =>
      val cents = S.kmeansCentroids(df, df.filter(col("id") < 30), "id", "v", 3)
      assert(cents.schema("cent_id").dataType == idType(intIds))
      val got = cents.collect()
      assert(got.map(r => r.getAs[Number](0).longValue -> r.getSeq[Float](1)).toMap == want)
      got.foreach(r => assert(r.getDouble(2) == norm(r.getSeq[Float](1).toArray)))
    }
  }

  test("kmeansCentroidsHier equals a plain-Scala two-level Lloyd (empty coarse cells left out)") {
    // coarse cells 0, 3, 6: cell 3 duplicates cell 0 and holds no fine
    // centroid, so it must not take a probe slot
    val coarse = seedsBelow(9)
    val want = refLloyd(vecs, seedsBelow(30), 2, nearestHier(coarse, 1))
    everywhere { (df, _) =>
      val cents = S.kmeansCentroidsHier(df, df.filter(col("id") < 30),
        df.filter(col("id") < 9), "id", "v", 2, 1)
      assert(cents.collect()
        .map(r => r.getAs[Number](0).longValue -> r.getSeq[Float](1)).toMap == want)
    }
  }

  test("the driver-packed books row encodes every row at its nearest code per subspace") {
    val (m, ks) = (2, 30)
    val d = Dim / m
    val df = frame(4, intIds = true)
    val books = S.pqTrain(df, "id", "v", m, ks, 2)
    // code positions are code-id order within each subspace
    val byM = books.collect().groupBy(_.getInt(0)).map { case (g, rs) =>
      g -> rs.sortBy(_.getAs[Number](1).longValue).map(_.getSeq[Float](2).toArray).toSeq
    }
    val want = rows.map { case (id, v) => id -> (0 until m).map { g =>
      val cs = byM(g).zipWithIndex.map { case (c, pos) => pos.toLong -> c }
      nearestL2(cs, v.slice(g * d, g * d + d)).toInt
    } }.toMap
    val got = S.pqEncodeIndex(df, books, "id", "v").collect()
      .map(r => r.getAs[Number](0).longValue -> r.getSeq[Int](2)).toMap
    assert(got == want)
  }
}
