package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One judge-facing query: a Spark DataFrame builder plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL.
  *
  * Oracle-parity rules used throughout (see SURVEY.md §7.4):
  *  - every computed column is aliased identically in Spark and SQL;
  *  - large aggregations sum via DECIMAL (exact in both engines), then
  *    cast to DOUBLE, so summation order can't perturb the hash;
  *  - averages are exact-decimal-sum / count in DOUBLE (bit-identical);
  *  - per-row scalar float math is identical IEEE sequences in both.
  */
final case class QueryDef(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    bench: Boolean = false)

object QueryDef {
  private val seeded = scala.collection.mutable.Set[String]()

  /** The asset root `target/graft_bench/<query>/<key of dir>` of a bench
    * binding whose inputs are seeded ONCE per JVM: the first call
    * deletes whatever a previous JVM left there (inc dirs of another
    * fixture state), runs `seed(root)` and remembers the root; later
    * calls only return it. The cold bench pass pays the seeding, warm
    * passes only read. */
  def seedOnce(s: SparkSession, query: String, dir: String)(
      seed: String => Unit): String = {
    val root =
      s"target/graft_bench/$query/${dir.replaceAll("[^A-Za-z0-9.]+", "_")}"
    synchronized {
      if (!seeded.contains(root)) {
        val path = new org.apache.hadoop.fs.Path(root)
        path.getFileSystem(s.sparkContext.hadoopConfiguration).delete(path, true)
        seed(root)
        seeded += root
      }
    }
    root
  }
}
