package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Past-ceiling PQ query tail, one shape: a 50 000-row synthetic corpus
  * (64 dims, hash-derived from the row id, written to parquet), 64
  * queries, k 5, rerank 2 500 = rerankFor(50 000, 5), heap ceiling
  * 40 000 entries (64 × 2 500 = 160 000 is past it). Times
  * `pqTopKFromIndex` call + collect, 1 warm-up then 7 timed reps, counts
  * the jobs of one rep, and hashes the rows so two builds can be
  * compared. Prints one JSON line tagged PAST_CEILING. */
class PastCeilingProbe extends AnyFunSuite with SparkSpec {
  test("past-ceiling PQ tail probe") {
    val S = graft.api.Similarity
    val dir = java.nio.file.Files.createTempDirectory("past-ceiling").toString
    val n = 50000L
    spark.range(n).select(col("id").as("vid"),
        array((0 until 64).map(j => ((pmod(xxhash64(col("id"), lit(j)), lit(20001L)) - 10000L)
          .cast("float") / lit(10000.0f)).cast("float")): _*).as("v"))
      .repartition(4).write.parquet(s"$dir/emb")
    val emb = spark.read.parquet(s"$dir/emb")
    val books = S.pqTrain(emb, "vid", "v", 8, 64, 2)
    books.write.parquet(s"$dir/books")
    val booksRt = spark.read.parquet(s"$dir/books")
    S.pqEncodeIndex(emb, booksRt, "vid", "v").withColumnRenamed("vec_id", "vid")
      .write.parquet(s"$dir/index")
    val index = spark.read.parquet(s"$dir/index")
    val q = emb.filter(col("vid") < 64)
    val rerank = S.rerankFor(n, 5)
    def call(): Array[org.apache.spark.sql.Row] =
      S.pqTopKFromIndex(index, emb, q, booksRt, "vid", "v", 5, rerank).collect()
    def measure(ceiling: Option[Long]): String = {
      ceiling.foreach(c => spark.conf.set(S.PqHeapSelectMaxKey, c))
      try {
        val rows = call() // warm-up
        val walls = (1 to 7).map { _ =>
          val t0 = System.nanoTime(); call(); (System.nanoTime() - t0) / 1e9
        }
        val jobs = JobCount(spark)(call())._2
        val sorted = walls.sorted
        val h = rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .sorted.toSeq.hashCode
        f"""{"ceiling":${ceiling.getOrElse(-1L)},"rows":${rows.length},"rows_hash":$h,""" +
          f""""jobs":$jobs,"wall_min_s":${sorted.head}%.3f,"wall_median_s":${sorted(3)}%.3f,""" +
          f""""walls_s":[${walls.map(w => f"$w%.3f").mkString(",")}]}"""
      } finally ceiling.foreach(_ => spark.conf.unset(S.PqHeapSelectMaxKey))
    }
    val below = measure(None)
    val past = measure(Some(40000L))
    println(s"""PAST_CEILING {"n":$n,"queries":64,"k":5,"rerank":$rerank,"below":$below,"past":$past}""")
  }
}
