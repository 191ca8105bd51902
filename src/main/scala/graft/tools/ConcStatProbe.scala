package graft.tools

import org.apache.spark.sql.SparkSession

/** Calibrate [[graft.api.Similarity.PqConcStatFloor]]: print the
  * [[graft.api.Similarity.annConcentration]] statistic (10th-percentile
  * kth-NN cosine, k = 5, sampleN = 1024) over every fixture the r15
  * recall campaign measured the √n curve on — the diffuse sign-cipher
  * decades (curve VALIDATED: 0.91–0.97 recall@5) and the clustered
  * manifold decades (curve REFUTED: 0.23–0.47) — plus the gate/bench
  * source fixtures, so the pinned floor provably separates the two
  * measured regimes AND provably clears every corpus the oracle gate
  * runs the auto paths on. Fixtures are the persisted ScaleProbe
  * replicas (built here if absent; reuse across rounds is the
  * documented contract). One JSON line per fixture.
  */
object ConcStatProbe {
  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_SCALE_REPS", "10,100,1000")
      .split(",").map(_.trim.toInt).toSeq
    val cpus = graft.Bench.probeCpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-conc-stat-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def stat(label: String, dir: String): Unit = {
      val emb = graft.Tables.embeddings(spark, dir)
      val n = emb.count()
      val t0 = System.nanoTime()
      val s = graft.api.Similarity.annConcentration(
        emb, "vec_id", "embedding")
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"probe":"conc_stat","fixture":"$label","n":$n,""" +
        f""""stat":$s%.4f,"sec":$sec%.2f}""")
    }

    stat("sf0.001", "/root/testdata/sf0.001")
    stat("sf0.01", "/root/testdata/sf0.01")
    stat("sf0.1", src)
    reps.foreach { r =>
      stat(s"signs_r$r", ScaleProbe.ensureFixture(spark, src, r, needEmb = true))
      stat(s"cluster_r$r", ScaleProbe.ensureClusterFixture(spark, src, r))
    }
    spark.stop()
  }
}
