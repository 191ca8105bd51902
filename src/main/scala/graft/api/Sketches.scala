package graft.api

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import graft.functions.Aggregators.HllDistinct

/** Library-facing sketch operators. */
object Sketches {

  /** Approximate distinct count of a long column via the deterministic
    * HyperLogLog aggregator (rel-err ~1.04/sqrt(64) ≈ 13%). One row,
    * column `n_hll`. */
  def hllDistinct(df: DataFrame, longCol: String): DataFrame = {
    implicit val le = Encoders.scalaLong
    df.select(col(longCol)).as[Long]
      .select(HllDistinct.toColumn.name("n_hll")).toDF()
  }

  private val CmsP = graft.functions.PolyHashConstants.P
  private val CmsA = Seq(1103515245L, 214013L, 69069L, 1664525L)
  private val CmsB = Seq(12345L, 2531011L, 362437L, 1013904223L)

  private def cmsCell(key: org.apache.spark.sql.Column, j: Int, d: Int, w: Int) = {
    val h = (graft.functions.HashFunctions.strHashP(key) * CmsA(j) + CmsB(j)) % CmsP
    ((h * h + CmsB((j + 1) % d)) % CmsP) % w
  }

  /** Count-min sketch counter table of a string column: (row, cell,
    * cnt) — d·w grouped counters, one partial+final HashAggregate.
    * d ≤ 4 (the shipped hash family). */
  def cmsSketch(df: DataFrame, keyCol: String, d: Int = 4, w: Int = 1024): DataFrame = {
    require(d >= 1 && d <= CmsA.length, s"d must be in [1, ${CmsA.length}]")
    graft.functions.HashFunctions.register(df.sparkSession)
    df.select(posexplode(array((0 until d).map(j =>
        cmsCell(col(keyCol), j, d, w)): _*)))
      .groupBy(col("pos").as("row"), col("col").as("cell"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** CMS frequency estimates (min over each key's d cells) for the
    * given probe keys. Output: (keyCol, cms_est). Estimate ≥ true
    * count always; equality when no collision. */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame, keyCol: String,
      d: Int = 4, w: Int = 1024): DataFrame = {
    graft.functions.HashFunctions.register(probes.sparkSession)
    val cells = probes.select(col(keyCol),
        posexplode(array((0 until d).map(j => cmsCell(col(keyCol), j, d, w)): _*)))
      .withColumnRenamed("pos", "row").withColumnRenamed("col", "cell")
    cells.join(sketch, Seq("row", "cell"))
      .groupBy(col(keyCol))
      .agg(min(col("cnt")).as("cms_est"))
  }

  /** Build a Bloom filter over a long key column: one row, binary
    * column `bloom` of mBits/8 bytes. Broadcast it against the fact
    * side and probe with [[bloomProbe]] — the explicit runtime-filter
    * semi-join: the fact table is pre-filtered by a k-hash membership
    * test (kB of state) before any join machinery runs, the technique
    * that turns a 100 TB fact⋈dim join into a scan that drops
    * non-matching rows at the source. */
  def bloomFilter(df: DataFrame, longCol: String, mBits: Int = 4096,
      k: Int = 3): DataFrame = {
    val agg = udaf(new graft.functions.Aggregators.BloomAgg(mBits, k),
      Encoders.scalaLong)
    df.agg(agg(col(longCol)).as("bloom"))
  }

  /** Rows of `fact` whose key column passes the bloom membership test
    * (all matches kept, plus the deterministic false positives). The
    * sketch rides under an internal name so a caller's own `bloom`
    * column survives untouched. */
  def bloomProbe(fact: DataFrame, keyCol: String, bloom: DataFrame,
      k: Int = 3): DataFrame = {
    graft.functions.HashFunctions.register(fact.sparkSession)
    val tag = "__graft_bloom_sketch"
    fact.crossJoin(broadcast(bloom.select(col("bloom").as(tag))))
      .filter(graft.functions.HashFunctions.bloomMightContain(
        col(tag), col(keyCol), k))
      .drop(tag)
  }
  /** Constant-memory distributed quantile sketch: equi-width histogram
    * over the global [lo, hi] (computed in-plan, broadcast back) with
    * `bins` buckets per group, then linear interpolation inside the
    * first bucket whose cumulative count crosses q·n. Per-group state
    * is ≤ `bins` integer counters — map-side combinable, one shuffle of
    * (group, bin, cnt) rows — where the exact `percentile()` (q26)
    * buffers EVERY value per group, the thing that OOMs at 100 TB.
    * Error ≤ one bin width = (hi−lo)/bins. Every float op (bin
    * indexing, target, interpolation) is a fixed IEEE sequence the
    * DuckDB oracle replays verbatim.
    * Output: (groupCol, p<q1>_est, p<q2>_est, ...). */
  def histQuantile(df: DataFrame, groupCol: String, valCol: String,
      qs: Seq[Double], bins: Int = 256): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      s"quantiles must be in (0, 1], got $qs")
    require(bins >= 2, s"bins must be >= 2, got $bins")
    import org.apache.spark.sql.expressions.Window
    // nulls would form a NULL bin whose window position differs between
    // engines (Spark ASC = NULLS FIRST, DuckDB ASC = NULLS LAST) and
    // would inflate n — drop them here and in the SQL twin
    val vals = df.select(col(groupCol).as("g"), col(valCol).cast("double").as("x"))
      .filter(col("x").isNotNull)
    // r21: the global bounds are TWO doubles — collect them to the
    // driver (the bounded-book pattern) and inject them as literals
    // instead of barriering a 1-row frame and crossJoin-broadcasting it
    // into both the binning pass and the interpolation tail: one job
    // either way, two BroadcastExchanges and a checkpoint fewer in the
    // plan. Identical IEEE arithmetic — the literals are the same
    // doubles the broadcast row carried.
    val bRow = vals.agg(min(col("x")).as("lo"), max(col("x")).as("hi")).head
    val (lo, hi) =
      if (bRow.isNullAt(0)) (lit(0.0), lit(0.0)) // empty input: binned is empty anyway
      else (lit(bRow.getDouble(0)), lit(bRow.getDouble(1)))
    val width = (hi - lo) / lit(bins.toDouble)
    // materialization barrier after the one heavy pass: the per-q
    // branches, the totals, and the cumulative window all re-derive
    // `binned` — without the barrier each branch re-scans the fact
    // table (4-5 full scans at 100 TB); with it they read ≤ groups·bins
    // counter rows
    val binned = Barrier(vals
      .select(col("g"),
        when(hi === lo, lit(0))
          .otherwise(least(floor((col("x") - lo) / width).cast("int"),
            lit(bins - 1))).as("bin"))
      .groupBy(col("g"), col("bin")).agg(count(lit(1)).as("cnt")))
    // r21: per-group totals as an unbounded window over the SAME g
    // partitioning the cumulative window establishes — the separate
    // groupBy + broadcast-join tower (one more aggregate + exchange +
    // BroadcastExchange in the plan) is gone; n is the same Σ cnt.
    val cum = binned.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy("g").orderBy("bin")))
    val base = cum.withColumn("n",
      sum(col("cnt")).over(Window.partitionBy("g")))
    // r20: ONE aggregation picks every quantile's crossing bin at once
    // — min(struct(bin, cnt, cum)) over the bins past q·n is exactly
    // the first-crossing row the per-q window/rn=1 branch selected
    // (bin is unique per group, so struct order = bin order) — where
    // the previous shape ran a window + filter per quantile and then
    // (|qs|−1) joins to stitch the columns back together: |qs|+1
    // extra exchanges per call at any scale. The interpolation applies
    // the same IEEE sequence to the picked fields, so estimates are
    // bit-identical (oracle-gated).
    def sName(q: Double) = s"s_p${math.round(q * 100)}"
    val picked = base.groupBy(col("g")).agg(
      first(col("n")).as("n"),
      qs.map { q =>
        val target = lit(q) * col("n").cast("double")
        min(when(col("cum").cast("double") >= target,
          struct(col("bin"), col("cnt"), col("cum")))).as(sName(q))
      }: _*)
    picked
      .select(col("g").as(groupCol) +: qs.map { q =>
        val s = col(sName(q))
        val target = lit(q) * col("n").cast("double")
        (lo + width *
          (s.getField("bin").cast("double") +
            (target - (s.getField("cum") - s.getField("cnt")).cast("double")) /
              s.getField("cnt").cast("double")))
          .as(s"p${math.round(q * 100)}_est")
      }: _*)
  }

  /** DuckDB twin of [[histQuantile]] over a FROM-able relation. */
  def histQuantileSql(rel: String, groupCol: String, valCol: String,
      qs: Seq[Double], bins: Int = 256): String = {
    val qCtes = qs.map { q =>
      val name = s"p${math.round(q * 100)}_est"
      // bare decimal literals are DECIMAL in DuckDB — e0 forces DOUBLE
      val target = s"${q}e0 * CAST(n AS DOUBLE)"
      (name,
        s"""q_$name AS (
           |  SELECT g, lo + ((hi - lo) / CAST($bins AS DOUBLE)) *
           |    (CAST(bin AS DOUBLE) +
           |     ($target - CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE))
           |    AS $name
           |  FROM (SELECT *, row_number() OVER (PARTITION BY g ORDER BY bin) AS rn
           |        FROM base WHERE CAST(cum AS DOUBLE) >= $target) t
           |  WHERE rn = 1)""".stripMargin)
    }
    val joins = qCtes.map(_._1).zipWithIndex.map { case (name, i) =>
      if (i == 0) s"q_$name" else s"JOIN q_$name ON q_$name.g = q_${qCtes.head._1}.g"
    }.mkString("\n  ")
    s"""WITH v AS (SELECT $groupCol AS g, CAST($valCol AS DOUBLE) AS x FROM $rel
       |           WHERE $valCol IS NOT NULL),
       |b AS (SELECT MIN(x) AS lo, MAX(x) AS hi FROM v),
       |binned AS (
       |  SELECT g, bin, COUNT(*) AS cnt FROM (
       |    SELECT g, CASE WHEN hi = lo THEN 0
       |      ELSE CAST(least(floor((x - lo) / ((hi - lo) / CAST($bins AS DOUBLE))),
       |                      ${bins - 1}) AS INTEGER) END AS bin
       |    FROM v CROSS JOIN b) t GROUP BY g, bin),
       |cum AS (SELECT g, bin, cnt,
       |  SUM(cnt) OVER (PARTITION BY g ORDER BY bin) AS cum FROM binned),
       |tot AS (SELECT g, SUM(cnt) AS n FROM binned GROUP BY g),
       |base AS (SELECT c.g, c.bin, c.cnt, c.cum, t.n, b.lo, b.hi
       |         FROM cum c JOIN tot t ON c.g = t.g CROSS JOIN b),
       |${qCtes.map(_._2).mkString(",\n")}
       |SELECT q_${qCtes.head._1}.g AS $groupCol,
       |  ${qCtes.map(c => c._1).mkString(", ")}
       |FROM $joins""".stripMargin
  }
}

/** Bounded top-K rows per key as a partial+final aggregate with O(k)
  * state per key — each map task pre-reduces to ≤k rows per key BEFORE
  * the shuffle, where the window-function formulation shuffles every
  * row and sorts whole partitions. Ties break on the id (ascending).
  * Output columns: (keyCol, idCol, orderCol, rank).
  *
  * SIZING caveat (measured r18): the partial state is one k-entry
  * heap per key PER TASK — a task that sees rows of every key holds
  * keys × k entries, and N parallel tasks hold N× that. Fine for
  * small k (q30's bounded top-k) or key-partitioned inputs; for
  * large k × broadcast-shaped keys (every task sees all keys) the
  * aggregate stops fitting and a rank-over-window formulation is the
  * memory-bounded tool. The PQ query tail does not use this
  * aggregate: it merges the same [[graft.functions.Aggregators.TopK]]
  * buffers on the driver, under the [[Similarity.PqHeapSelectMaxKey]]
  * ceiling. */
object TopKPerKey {
  import graft.functions.Aggregators.{Priced, TopK, TopKAgg}

  def apply(df: DataFrame, keyCol: String, orderCol: String,
      idCol: String, k: Int): DataFrame = {
    implicit val pe = Encoders.product[Priced]
    implicit val oe = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaDouble, Encoders.scalaInt)
    df.select(col(keyCol).cast("long").as("key"),
        col(orderCol).cast("double").as("price"),
        col(idCol).cast("long").as("id")).as[Priced]
      .groupByKey(_.key)(Encoders.scalaLong)
      .agg(TopKAgg(k).toColumn.name("top"))
      .flatMap { case (key, top) =>
        TopK.entries(top).zipWithIndex.map { case ((p, id), i) =>
          (key, id, p, i + 1)
        }
      }
      .toDF(keyCol, idCol, orderCol, "rank")
  }

}
