package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, render}
import scala.collection.mutable

/** JVM side of the benchmark (run.py drives it):
  *
  *   --workload W --seed S --work DIR --result F --seconds N --trace 0|1
  *
  * over the inputs perfbench/gen.py left in DIR/inputs/<part>-seed<S>.
  * It makes one cold pass, then warm passes until N seconds have passed
  * and the workload's minimum of warm passes is made, checks every pass's
  * outputs, and writes its metrics as JSON to F. With --trace 1 every pass
  * is traced; run.py sets the traced warm pass against untraced runs'
  * warm_s for the tracing overhead. */
object Main {

  final case class Args(workload: String, seed: Long, work: Path, result: Path,
      seconds: Double, trace: Boolean)

  def parse(a: Array[String]): Args = {
    val kv = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("seed").toLong, Paths.get(kv("work")).toAbsolutePath,
      Paths.get(kv("result")), kv("seconds").toDouble, kv("trace") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads(a.workload)
    run(w, a, w.parts.map(p => p -> a.work.resolve("inputs").resolve(s"${p.name}-seed${a.seed}")).toMap)
  }

  /** Task slots: two of the four cores, which leaves the driver, JIT and
    * GC threads room of their own. With all four busy, corral_mr's cold
    * and warm times on a shared 4-core box spread 0.20 (quartile distance
    * over median, five seeds) against 0.05 and 0.13 with two. */
  def cores: Int = math.min(2, Runtime.getRuntime.availableProcessors())

  /** Session ready with inputs registered, timed from JVM start. */
  def setup(w: Workload, a: Args, in: Map[Part, Path]): (SparkSession, Double) = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val shuffle = a.work.resolve("shuffle").toAbsolutePath
    val conf = graft.GraftSession.Conf(maxConcurrency = cores,
      shuffleLocation = if (w.objectStoreShuffle) Some(s"graftfs://$shuffle") else None)
    val spark = graft.GraftSession.builder(conf).appName(s"perfbench-${w.name}")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      // task input metrics and FileSystem statistics miss vectored reads
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
      // Spark's status store keeps up to 1000 jobs by default, so the
      // live heap would grow with the number of jobs a run happens to
      // make; a history shorter than one pass of either workload (10 and
      // about 180 jobs) keeps heap_live_mb about graft's own state
      .config("spark.ui.retainedJobs", "10").config("spark.ui.retainedStages", "10")
      .config("spark.sql.ui.retainedExecutions", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    w.parts.foreach(p => p.register(spark, in(p)))
    (spark, (System.currentTimeMillis() - jvmStart) / 1e3)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use after a full GC, in MB, once the listener bus has
    * delivered its queued events: a pass's last events would otherwise
    * count, as many as the bus happens to hold at that moment. */
  private def liveHeapMb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val mem = ManagementFactory.getMemoryMXBean
    mem.gc(); Thread.sleep(200); mem.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  private def obj(fields: Seq[(String, Double)]): JObject =
    JObject(fields.map { case (k, v) => k -> (JDouble(v): JValue) }.toList)

  def run(w: Workload, a: Args, in: Map[Part, Path]): Unit = {
    val (spark, setupS) = setup(w, a, in)
    val runId = s"${w.name}-${a.seed}-${System.currentTimeMillis()}"
    val tracer = new Tracer(spark, runId)
    val passRoot = a.work.resolve("passes").resolve(runId)
    val passes = mutable.ArrayBuffer[(PassCtx, Option[PassTrace])]()
    // ops of pass i; each op releases its barriers when it returns
    def runPass(i: Int): (PassCtx, Option[PassTrace]) = {
      val ctx = new PassCtx(spark, tracer, i, passRoot.resolve(s"p$i"))
      if (a.trace) tracer.begin(i)
      w.parts.foreach(_.pass(ctx))
      (ctx, if (a.trace) Some(tracer.end()) else None)
    }
    def checkPass(p: (PassCtx, Option[PassTrace])): Unit = {
      val ctx = p._1
      val t0 = System.nanoTime()
      w.parts.foreach(_.checkPass(ctx))
      println(s"perfbench: pass ${ctx.index} " + ctx.ops.map(o => f"${o.name} ${o.secs}%.3f s").mkString(", ") +
        f", checked in ${(System.nanoTime() - t0) / 1e9}%.3f s")
      passes += p
      Inputs.deleteTree(ctx.out)
    }
    checkPass(runPass(0))
    val warmStart = System.nanoTime()
    var heapMb = 0.0
    var i = 1
    var last = false
    while (!last) {
      val p = runPass(i)
      last = i >= w.warmPasses && (System.nanoTime() - warmStart) / 1e9 >= a.seconds
      // live heap at the end of the last pass, before its checks load
      // their expected answers
      if (last) heapMb = liveHeapMb(spark.sparkContext)
      checkPass(p)
      i += 1
    }
    val quality = w.parts.flatMap(_.quality).map { case (k, v) => k -> median(v) }

    val ops = passes.flatMap(_._1.ops)
    val failed = ops.filter(_.error.isDefined)
    failed.take(5).foreach(o => println(s"perfbench: FAILED ${o.name}: ${o.error.get}"))
    val warm = passes.drop(1).map(_._1.wallSecs).toSeq
    var fields = List[JField](
      "workload" -> JString(w.name), "seed" -> JLong(a.seed), "master" -> JString(spark.sparkContext.master),
      "attempted" -> JInt(ops.size), "failed" -> JInt(failed.size), "passes" -> JInt(passes.size),
      "warm_passes" -> JInt(warm.size),
      "setup_s" -> JDouble(setupS), "cold_s" -> JDouble(passes.head._1.wallSecs), "warm_s" -> JDouble(median(warm)),
      "warm_samples_s" -> JArray(warm.map(JDouble(_)).toList),
      "error_rate" -> JDouble(failed.size.toDouble / ops.size),
      "heap_live_mb" -> JDouble(heapMb), "quality" -> obj(quality),
      "inputs" -> JObject(w.parts.map(p => p.name -> Inputs.props(in(p))).toList))
    if (a.trace) fields ++= traceFields(w, passes.toSeq, tracer, a)
    Files.write(a.result, compact(render(JObject(fields))).getBytes(UTF_8))
    spark.stop()
    Inputs.deleteTree(passRoot)
  }

  /** Per-layer metrics (median over the warm passes; `_cold` ones from
    * the cold pass), self time per span name, and the spans themselves
    * written to the trace file. */
  private def traceFields(w: Workload, passes: Seq[(PassCtx, Option[PassTrace])], tracer: Tracer,
      a: Args): List[JField] = {
    val (coldCtx, coldT) = (passes.head._1, passes.head._2.get)
    val warm = passes.drop(1).map { case (c, t) => (c, t.get) }
    def layer(c: PassCtx, t: PassTrace) = t.metrics ++ w.parts.flatMap(_.layerMetrics(t, c))
    val perPass = warm.map { case (c, t) => layer(c, t) }
    val keys = perPass.head.keys.toSeq.sorted
    val coldLayer = layer(coldCtx, coldT)
    val metrics = keys.map(k => k -> median(perPass.map(_(k)))) ++ Seq(
      "catalyst.plan_ms_cold" -> coldLayer("catalyst.plan_ms"),
      "scheduler.jobs_cold" -> coldLayer("scheduler.jobs"),
      "scheduler.driver_gap_ms_cold" -> coldLayer("scheduler.driver_gap_ms"),
      "executor.run_ms_cold" -> coldLayer("executor.run_ms"),
      "pass.cold_ms" -> coldCtx.wallSecs * 1e3,
      "pass.warm_ms" -> median(warm.map(_._1.wallSecs)) * 1e3)
    val selfMs = {
      val names = warm.flatMap(_._2.selfByName.keys).distinct.sorted
      names.map(n => n -> median(warm.map(_._2.selfByName.getOrElse(n, 0.0))))
    }
    val traceFile = a.work.resolve("traces").resolve(s"${tracer.run}.json")
    Files.createDirectories(traceFile.getParent)
    val spans = tracer.all.map(s => JObject("id" -> JInt(s.id), "name" -> JString(s.name),
      "parent" -> JInt(s.parent), "run" -> JString(s.run), "pass" -> JInt(s.pass),
      "start_ns" -> JLong(s.startNs), "end_ns" -> JLong(s.endNs)))
    Files.write(traceFile, compact(render(JObject(
      "run" -> JString(tracer.run), "workload" -> JString(w.name), "seed" -> JLong(a.seed),
      "spans" -> JArray(spans.toList),
      "layers_per_pass" -> JArray(perPass.map(m => obj(m.toSeq.sortBy(_._1))).toList),
      "layers_cold" -> obj(coldLayer.toSeq.sortBy(_._1))))).getBytes(UTF_8))
    List("layers" -> obj(metrics), "self_ms" -> obj(selfMs),
      "trace_file" -> JString(Paths.get("").toAbsolutePath.relativize(traceFile).toString))
  }
}
