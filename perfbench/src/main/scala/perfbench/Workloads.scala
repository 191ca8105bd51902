package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed operation of a pass; `error` is set when it threw or when
  * its output failed a check. */
final class Op(val name: String, val secs: Double, var error: Option[String])

/** A pass runs its ops back to back; only the ops are timed. Each op
  * releases the barriers it created when it returns. */
final class PassCtx(val spark: SparkSession, val tracer: Tracer, val index: Int, val out: Path) {
  val ops = mutable.ArrayBuffer[Op]()

  def op[T](name: String)(body: => T): Option[T] = {
    val t0 = System.nanoTime()
    val r = try Right(graft.api.Barrier.scoped(tracer.span(name)(body)))
      catch { case NonFatal(e) => Left(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
    ops += new Op(name, (System.nanoTime() - t0) / 1e9, r.left.toOption)
    r.toOption
  }

  /** Mark op `name` failed when `check` reports a problem (or throws). */
  def check(name: String)(check: => Checks.Result): Unit =
    ops.filter(o => o.name == name && o.error.isEmpty).foreach { o =>
      o.error = try check catch { case NonFatal(e) => Some(s"check threw $e".take(300)) }
    }

  def wallSecs: Double = ops.map(_.secs).sum

  /** A verb call and the action that materializes its result, as spans
    * `verb` > (`verb.call`, `action`). */
  def verb[A, B](name: String, action: String)(call: => A)(act: A => B): B =
    tracer.span(name) {
      val a = tracer.span(s"$name.call")(call)
      tracer.span(action)(act(a))
    }
}

/** One part of a workload's pass, with its own generated inputs (in the
  * generator's directory for `name`) and its own output checks. */
abstract class Part(val name: String) {
  /** Read and register the generated inputs (part of set-up). */
  def register(spark: SparkSession, in: Path): Unit
  /** Run the part's ops; checks run after the pass, untimed. */
  def pass(ctx: PassCtx): Unit
  /** Check the pass's outputs, marking failed ops. */
  def checkPass(ctx: PassCtx): Unit
  /** Per-layer metrics this part derives from a traced pass. */
  def layerMetrics(t: PassTrace, ctx: PassCtx): Map[String, Double]
  /** Output-quality ratios per checked pass (printed with every run). */
  def quality: Seq[(String, Seq[Double])] = Nil

  protected def write(df: DataFrame, p: Path): Unit = df.write.mode("overwrite").parquet(p.toString)
}

/** A benchmark workload: its parts run back to back in every pass.
  * `objectStoreShuffle` runs the session on graft's object-store shuffle
  * (corral's deployment shape); a run makes at least `warmPasses` warm
  * passes. */
final case class Workload(name: String, parts: Seq[Part], objectStoreShuffle: Boolean = false,
    warmPasses: Int = 1)

object Workloads {
  val all: Seq[Workload] = Seq(
    // corral_mr's warm pass is 5 s, short enough for one slow sample to
    // decide warm_s, and its first warm pass still runs up to 1.4x slower
    // than the second; the median of three drops that pass
    Workload("corral_mr", Seq(CorralMr), objectStoreShuffle = true, warmPasses = 3),
    Workload("daily_pipeline", Seq(DailyDedup, AnnSearch)))
  def apply(name: String): Workload = all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(s"unknown workload $name"))
}

/** corral's example jobs (word count, amplab1–3) through the MR facade,
  * chained exactly as graft.Main.run chains multi-stage jobs. */
object CorralMr extends Part("corral_mr") {
  val jobs = Seq("wordcount" -> Seq("corpus"), "amplab1" -> Seq("rankings"),
    "amplab2" -> Seq("uservisits"), "amplab3" -> Seq("rankings", "uservisits"))
  private var in: Path = _

  def register(spark: SparkSession, in: Path): Unit = {
    this.in = in
    jobs.flatMap(_._2).distinct.foreach(d => graft.mr.TextKV.read(spark, in.resolve(d).toString))
  }

  def pass(ctx: PassCtx): Unit = jobs.foreach { case (job, dirs) =>
    ctx.op(s"mr.$job") {
      import graft.mr.TextKV
      val stages = graft.Main.jobRegistry(job)()
      val out = ctx.out.resolve(job)
      var ds = TextKV.read(ctx.spark, dirs.map(d => in.resolve(d).toString): _*)
      stages.zipWithIndex.foreach { case (stage, i) =>
        val res = ctx.tracer.span(s"mr.$job.stage$i.call")(stage.run(ds))
        if (i < stages.size - 1) {
          val dir = out.resolve(s"job$i").toString
          ctx.tracer.span(s"mr.$job.stage$i.write")(TextKV.writeTsv(res, dir))
          ds = TextKV.readTsv(ctx.spark, dir)
        } else ctx.tracer.span(s"mr.$job.write")(TextKV.writeTsvNumbered(res, out.toString))
      }
    }
  }

  /** output-part-* lines as (key, rest) split at the first tab. */
  private def outputRows(dir: Path): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    val files = Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("output-part-")).toSeq
    files.flatMap(f => Files.readAllLines(f).asScala.filter(_.nonEmpty).map { l =>
      val t = l.indexOf('\t'); (l.substring(0, t), l.substring(t + 1))
    })
  }

  def checkPass(ctx: PassCtx): Unit = jobs.foreach { case (job, _) =>
    ctx.check(s"mr.$job") {
      val expected = Inputs.readTsv(in.resolve(s"expected/$job.tsv")).map(f => f(0) -> f.tail.mkString("\t")).toMap
      val rows = outputRows(ctx.out.resolve(job))
      if (job == "wordcount" || job == "amplab1") Checks.exactKv(expected, rows)
      else Checks.numericKv(expected.map { case (k, v) => k -> v.split("\t").toSeq.map(_.toDouble) }, rows)
    }
  }

  def layerMetrics(t: PassTrace, ctx: PassCtx): Map[String, Double] =
    jobs.map { case (j, _) => s"mr.$j.ms" -> t.ms(s"mr.$j") }.toMap
}

/** The daily dedup pipeline: a batch day 0, Days incremental days, then
  * compaction and the survivors anti-join, over parquet assets. */
object DailyDedup extends Part("daily_dedup") {
  // 8 bands × 4 rows, the geometry graft's own daily pipeline and tests use
  val Bands = 8; val Rows = 4; val Threshold = 0.8
  val Verbs = Seq("minhashSignatures", "jaccardPairs", "duplicateGroups",
    "incrementalJaccardPairs", "incrementalGroups")
  private var in: Path = _
  private var days: IndexedSeq[DataFrame] = _
  private def Days = days.size - 1
  import graft.api.Dedup

  def register(spark: SparkSession, in: Path): Unit = {
    this.in = in
    days = Inputs.subdirs(in.resolve("docs"), "day").map(d => spark.read.parquet(d.toString)).toIndexedSeq
  }

  def pass(ctx: PassCtx): Unit = {
    val s = ctx.spark
    val root = ctx.out
    def p(rel: String) = root.resolve(rel)
    def verb(v: String)(call: => DataFrame)(out: String): Unit =
      ctx.verb(s"dedup.$v", "dedup.asset_write")(call)(df => write(df, p(out)))
    ctx.op("dedup.day0") {
      verb("minhashSignatures")(Dedup.minhashSignatures(days(0), "doc_id", "text", Bands, Rows))("sigs/base")
      ctx.tracer.span("dedup.asset_write")(
        Dedup.writeSignatureHistogram(s, p("sigs/base").toString, Dedup.jaccardGuardKeys))
      verb("jaccardPairs")(Dedup.jaccardPairs(days(0), "doc_id", "text", Bands, Rows, Threshold))("pairs/day0")
      verb("duplicateGroups")(Dedup.duplicateGroups(
        s.read.parquet(p("pairs/day0").toString), "doc_a", "doc_b"))("groups/base")
    }
    for (d <- 1 to Days) ctx.op(s"dedup.day$d") {
      val inc = s"inc_$d"
      verb("minhashSignatures")(Dedup.minhashSignatures(days(d), "doc_id", "text", Bands, Rows))(s"sigs/$inc")
      val sigs = p("sigs").toString
      verb("incrementalJaccardPairs")(Dedup.incrementalJaccardPairs(
        Dedup.readSignatureAsset(s, sigs, excludeInc = Some(inc)),
        s.read.parquet(p(s"sigs/$inc").toString), Threshold,
        Dedup.readSignatureHistogram(s, sigs, Dedup.jaccardGuardKeys, excludeInc = Some(inc))))(s"pairs/day$d")
      verb("incrementalGroups")(Dedup.incrementalGroups(
        Dedup.readGroupsAsset(s, p("groups").toString),
        s.read.parquet(p(s"pairs/day$d").toString), "doc_a", "doc_b"))(s"groups/$inc")
    }
    ctx.op("dedup.finalize") {
      ctx.tracer.span("dedup.compact") {
        Dedup.compactSignatureAsset(s, p("sigs").toString, guardKeys = Some(Dedup.jaccardGuardKeys))
        Dedup.compactGroupsAsset(s, p("groups").toString)
      }
      ctx.tracer.span("dedup.survivors") {
        val losers = Dedup.readGroupsAsset(s, p("groups").toString)
          .filter(col("doc_id") =!= col("group_id")).select("doc_id")
        survivors = days.reduce(_ unionByName _).join(losers, Seq("doc_id"), "left_anti").count()
      }
    }
  }
  private var survivors = -1L

  private def longPairs(df: DataFrame, a: String, b: String): Seq[(Long, Long)] =
    df.select(a, b).collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  private def finalGroups(ctx: PassCtx): Seq[(Long, Long)] =
    longPairs(Dedup.readGroupsAsset(ctx.spark, ctx.out.resolve("groups").toString), "doc_id", "group_id")

  private val pairRecall = mutable.Map[Int, Double]()
  private val plantedSplit = mutable.Map[Int, Double]()
  private lazy val totalDocs = days.map(_.count()).sum
  // planted links in one group, at least; graft's banding finds about 98.5 %
  // of them (its MinHash functions are correlated, see DESIGN.md)
  val LinkFloor = 0.95

  /** Day d's resolved groups — base overlaid with upserts inc_1..inc_d —
    * equal the union-find of every pair emitted up to day d; after
    * compaction the asset equals the union-find of all pairs, survivors
    * add up, and the planted links are found at least at LinkFloor. The
    * batch recompute: the pairs emitted over all days are exactly the
    * pairs one batch run over all documents emits — those sharing a band
    * bucket in the compacted signature asset whose texts clear the
    * threshold — computed here on the driver. */
  def checkPass(ctx: PassCtx): Unit = {
    def read(rel: String, a: String, b: String) =
      longPairs(ctx.spark.read.parquet(ctx.out.resolve(rel).toString), a, b)
    val planted = Inputs.readPlanted(in)
    val pairs = (0 to Days).map(d => read(s"pairs/day$d", "doc_a", "doc_b"))
    val emitted = pairs.flatten.map { case (a, b) => (a min b, a max b) }.toSet
    // chain neighbours: every one clears the Jaccard threshold
    val neighbourPairs = Checks.plantedLinks(planted.filter(_.kind == "chain"))
      .map { case (a, b) => (a min b, a max b) }
    pairRecall(ctx.index) = neighbourPairs.count(emitted).toDouble / neighbourPairs.size
    var state = Map.empty[Long, Long]
    for (d <- 0 to Days) ctx.check(s"dedup.day$d") {
      val rows = read(if (d == 0) "groups/base" else s"groups/inc_$d", "doc_id", "group_id")
      state = state ++ rows
      Checks.sameGroups("union-find over emitted pairs",
        Checks.unionFind(pairs.take(d + 1).flatten), state.toSeq)
    }
    ctx.check("dedup.finalize") {
      val groups = finalGroups(ctx)
      plantedSplit(ctx.index) = Checks.plantedSplit(planted, groups)
      val bkeys = Dedup.readSignatureAsset(ctx.spark, ctx.out.resolve("sigs").toString)
        .select("doc_id", "bkeys").collect().toSeq.map(r => r.getLong(0) -> r.getSeq[Long](1))
      val texts = days.reduce(_ unionByName _).select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val shingles = mutable.Map[Long, Set[String]]()
      def sh(d: Long) = shingles.getOrElseUpdate(d, Checks.shingles(texts(d)))
      Checks.groupsMatchPairs(groups, pairs.flatten)
        .orElse(Checks.survivors(totalDocs, groups, survivors))
        .orElse(Checks.candidatePairs(pairs.flatten, Checks.bucketPairs(bkeys),
          { case (a, b) => Checks.jaccard(sh(a), sh(b)) }, Threshold))
        .orElse(Checks.plantedRecall(planted, groups, LinkFloor))
    }
  }

  def layerMetrics(t: PassTrace, ctx: PassCtx): Map[String, Double] =
    Verbs.flatMap { v =>
      val n = s"dedup.$v"
      Seq(s"$n.call_ms" -> t.ms(s"$n.call"), s"$n.ms" -> t.ms(n), s"$n.jobs" -> t.jobs(n))
    }.toMap ++ Seq("dedup.asset_write.ms" -> t.ms("dedup.asset_write"),
      "dedup.compact.ms" -> t.ms("dedup.compact"), "dedup.survivors.ms" -> t.ms("dedup.survivors"),
      "dedup.pair_recall" -> pairRecall.getOrElse(ctx.index, 0.0),
      "dedup.planted_split" -> plantedSplit.getOrElse(ctx.index, 0.0))

  override def quality: Seq[(String, Seq[Double])] =
    Seq("dedup.pair_recall" -> pairRecall.values.toSeq,
      "dedup.planted_split" -> plantedSplit.values.toSeq)
}

/** PQ index build (train on a sample, encode, write) and query batches
  * through the prebuilt index. */
object AnnSearch extends Part("ann_search") {
  val M = 16; val Ks = 64; val Iters = 3; val TrainRows = 1000
  // recall floor for each batch; measured recall on this mixture sits
  // well above it, so it trips on a real loss of accuracy only
  val RecallFloor = 0.7
  private var in: Path = _
  private var vectors: DataFrame = _
  private var vectorCount = 0L
  private var K = 0
  private var queries: IndexedSeq[DataFrame] = _
  private def Batches = queries.size
  private val recalls = mutable.Map[(Int, Int), Double]()
  // the current pass's answers per batch, until its checks have run
  private val answers = mutable.Map[Int, Map[Long, Seq[Long]]]()
  import graft.api.Similarity

  def register(spark: SparkSession, in: Path): Unit = {
    this.in = in
    vectors = spark.read.parquet(in.resolve("vectors").toString)
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val props = Inputs.props(in)
    vectorCount = (props \ "vectors").extract[Long]; K = (props \ "k").extract[Int]
    queries = Inputs.subdirs(in.resolve("queries"), "batch").map(d => spark.read.parquet(d.toString)).toIndexedSeq
  }

  /** Rerank budget, above the floor graft's sizing guard sets for this
    * corpus (a tenth of its calibrated curve: 71 at 4 000 rows). */
  private val Rerank = 400

  def pass(ctx: PassCtx): Unit = {
    val s = ctx.spark
    def p(rel: String) = ctx.out.resolve(rel).toString
    ctx.op("ann.build") {
      ctx.verb("similarity.pqTrain", "similarity.asset_write")(
        Similarity.pqTrain(vectors.filter(col("vec_id") < TrainRows), "vec_id", "embedding", M, Ks, Iters)
      )(write(_, ctx.out.resolve("books")))
      ctx.verb("similarity.pqEncodeIndex", "similarity.asset_write")(
        Similarity.pqEncodeIndex(vectors, s.read.parquet(p("books")), "vec_id", "embedding")
      )(write(_, ctx.out.resolve("index")))
    }
    for (b <- 0 until Batches) ctx.op(s"ann.batch$b") {
      val got = ctx.verb("similarity.pqTopKFromIndex", "similarity.collect")(
        Similarity.pqTopKFromIndex(s.read.parquet(p("index")), vectors, queries(b),
          s.read.parquet(p("books")), "vec_id", "embedding", K, Rerank)
      )(_.select("q_id", "n_id", "cos").collect())
      answers(b) = got.toSeq.groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1))).map(_.getLong(1)) }
    }
  }

  def checkPass(ctx: PassCtx): Unit = {
    ctx.check("ann.build") {
      val n = ctx.spark.read.parquet(ctx.out.resolve("index").toString).count()
      if (n == vectorCount) None else Some(s"index holds $n of $vectorCount vectors")
    }
    // exact top-k per query id, with the batch each query is in
    val exact = Inputs.readTsv(in.resolve("expected/topk.tsv"))
      .map(f => (f(0).toLong, f(1).toInt, f(2).split(",").toSeq.map(_.toLong))).toSeq
    for (b <- 0 until Batches) ctx.check(s"ann.batch$b") {
      val want = exact.collect { case (q, `b`, top) => q -> top }.toMap
      val got = answers.getOrElse(b, Map.empty)
      recalls((ctx.index, b)) = Checks.recall(want, got)
      Checks.annBatch(want, got, K, RecallFloor)
    }
    answers.clear()
  }

  def layerMetrics(t: PassTrace, ctx: PassCtx): Map[String, Double] = Map(
    "similarity.pqTrain.ms" -> t.ms("similarity.pqTrain"),
    "similarity.pqTrain.jobs" -> t.jobs("similarity.pqTrain"),
    "similarity.pqEncodeIndex.ms" -> t.ms("similarity.pqEncodeIndex"),
    "similarity.pqTopKFromIndex.ms" -> t.ms("similarity.pqTopKFromIndex") / Batches,
    "similarity.pqTopKFromIndex.jobs" -> t.jobs("similarity.pqTopKFromIndex") / Batches,
    "similarity.recall_at_k" -> recallAt(ctx.index))

  private def recallAt(pass: Int): Double = {
    val r = recalls.collect { case ((p, _), v) if p == pass => v }
    if (r.isEmpty) 0.0 else r.sum / r.size
  }

  override def quality: Seq[(String, Seq[Double])] =
    Seq("similarity.recall_at_k" -> recalls.keys.map(_._1).toSeq.distinct.map(recallAt))
}
