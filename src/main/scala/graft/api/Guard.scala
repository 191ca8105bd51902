package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE enforce|warn|off mechanism behind every sizing and budget
  * check of the [[Dedup]] and [[Similarity]] operators. A check is a
  * session conf key plus a verdict — `None` passes, `Some(message)`
  * trips — and the key's mode decides what a trip does: `enforce` (the
  * default) throws `IllegalArgumentException`, `warn` logs the message
  * and proceeds, `off` skips the check AND everything it would cost.
  *
  *  - [[check]]: a verdict computed on the driver — closed-form
  *    arithmetic, or a job the verdict launches itself (a count passed
  *    by name, a concentration sample), never run under `off`.
  *  - [[run]] over [[priced]] checks: each verdict reads one estimate
  *    from a one-row, one-column frame. The estimates of every live
  *    check of one call evaluate in ONE Spark job (a crossJoin of the
  *    scalar aggregates), each verdict reading its own named column;
  *    barriers the estimate frames create are released once the job
  *    has run.
  *
  * Every job a check launches carries the local property
  * [[JobProperty]] (the checked conf keys), so a listener can tell
  * precheck jobs from the operator's own. */
object Guard extends org.apache.spark.internal.Logging {
  val Modes: Seq[String] = Seq("enforce", "warn", "off")

  /** Spark local property set on every job a check launches. */
  val JobProperty = "graft.guard"

  /** Read a mode conf NORMALIZED — trimmed and lowercased — so 'OFF' /
    * ' Warn ' select the mode instead of throwing mid-pipeline at the
    * first guarded call; an unknown token fails loud naming the key
    * and the accepted set. Also parses on|off toggles via `allowed`. */
  def mode(spark: SparkSession, key: String, default: String = "enforce",
      allowed: Seq[String] = Modes): String = {
    val m = spark.conf.get(key, default).trim.toLowerCase
    require(allowed.contains(m),
      s"$key must be ${allowed.mkString("|")}, got '$m'")
    m
  }

  /** The one switch: what a tripped check does under `mode`. Callers
    * that degrade instead of failing (the LSH calculators clamp their
    * geometry) continue after it returns under warn and off. */
  def trip(mode: String, msg: String): Unit =
    if (mode == "enforce") throw new IllegalArgumentException(msg)
    else if (mode == "warn") logWarning(msg)

  /** A driver-side check: `verdict` is evaluated only when `key` is not
    * `off`. */
  def check(spark: SparkSession, key: String)(
      verdict: => Option[String]): Unit = {
    val m = mode(spark, key)
    if (m != "off") tagged(spark, key)(verdict).foreach(trip(m, _))
  }

  /** A job-priced check: `estimate` builds a one-row, one-column double
    * frame (by name — it is never built when `key` is `off`), `verdict`
    * judges its value. Run with [[run]]. */
  final class Priced private[Guard] (val key: String,
      estimate: => DataFrame, val verdict: Double => Option[String]) {
    private[Guard] def frame: DataFrame = estimate
  }

  def priced(key: String)(estimate: => DataFrame)(
      verdict: Double => Option[String]): Priced =
    new Priced(key, estimate, verdict)

  /** Evaluate every check whose mode is not `off` — all estimates in one
    * job — then apply each verdict under its own key's mode. The guarded
    * work never starts before every estimate clears. */
  def run(spark: SparkSession, checks: Priced*): Unit = {
    val live = checks.map(c => (c, mode(spark, c.key))).filter(_._2 != "off")
    if (live.isEmpty) return
    val names = live.indices.map(i => s"est$i")
    val ests = tagged(spark, live.map(_._1.key).distinct.mkString(",")) {
      Barrier.scoped {
        val row = live.map(_._1.frame).zip(names)
          .map { case (f, name) => f.toDF(name) }
          .reduce(_.crossJoin(_)).head
        names.map(row.getAs[Double])
      }
    }
    live.zip(ests).foreach { case ((c, m), est) =>
      c.verdict(est).foreach(trip(m, _)) }
  }

  private def tagged[T](spark: SparkSession, keys: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(JobProperty)
    sc.setLocalProperty(JobProperty, keys)
    try body finally sc.setLocalProperty(JobProperty, prev)
  }
}
