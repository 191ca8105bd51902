package graft

import org.apache.spark.sql.SparkSession

/** Session bootstrap with corral's tuning surface (reference F21, the
  * config cascade `/root/reference/driver.go:44-128`,
  * `/root/reference/config.go:7-45`): explicit options > `GRAFT_*` env >
  * `graftrc` file > defaults (viper's corralrc, config.go:8-17, as a
  * java-properties file searched in `.` then `$HOME/.graft/`). Each
  * knob maps to the Spark conf that plays the same role:
  *
  * | corral setting      | here                | Spark conf |
  * |---------------------|---------------------|------------|
  * | splitSize (100 MB)  | splitSize           | spark.sql.files.maxPartitionBytes |
  * | mapBinSize (512 MB) | mapBinSize (clamp)  | (clamps splitSize, driver.go:80-86) |
  * | reduceBinSize → bin count heuristic (job.go:221-224) | reduceBins | spark.sql.shuffle.partitions; AQE coalescing refines from real stats |
  * | maxConcurrency (500)| maxConcurrency      | local[N] / executor sizing |
  * | cleanup             | (automatic)         | shuffle files managed by ContextCleaner |
  * | workingLocation     | workingLocation     | default staging dir for MultiStageDriver.runMaterialized |
  * | S3 intermediate bins (emitter.go:90-120) | shuffleLocation | spark.shuffle.manager=GraftShuffleManager + spark.graft.shuffle.dir |
  */
object GraftSession {

  final case class Conf(
      splitSize: Long = 100L << 20,
      mapBinSize: Long = 512L << 20,
      reduceBins: Option[Int] = None,
      maxConcurrency: Int = Runtime.getRuntime.availableProcessors(),
      workingLocation: Option[String] = None,
      // corral keeps intermediate (shuffle) bins under its S3 working
      // location (emitter.go:90-120); setting this routes Spark's
      // shuffle through GraftShuffleManager at the given FS URI
      shuffleLocation: Option[String] = None,
      // FaaS deployment surface (F20): the function name the driver
      // deploys/undeploys/runs on (corral `lambdaFunctionName`, default
      // "corral_function" — config.go:22) and the control-plane root the
      // deploy verbs talk to (stands in for the AWS account; LAMBDA.md §5)
      faasFunction: String = "graft_function",
      faasControlPlane: Option[String] = None)

  /** Default `graftrc` search order: `.` then `$HOME/.graft/` (viper's
    * corralrc search path, config.go:8-10). First file found wins. */
  private def rcSearchPaths: Seq[java.nio.file.Path] = Seq(
    java.nio.file.Paths.get("graftrc"),
    java.nio.file.Paths.get(sys.props.getOrElse("user.home", "."), ".graft", "graftrc"))

  /** File layer of the cascade: a java-properties `graftrc` with the
    * reference's key names (splitSize, mapBinSize, reduceBins,
    * maxConcurrency, workingLocation — config.go:21-33). */
  private[graft] def loadRc(
      paths: Seq[java.nio.file.Path] = rcSearchPaths): Map[String, String] =
    paths.find(java.nio.file.Files.isRegularFile(_)).map { p =>
      val props = new java.util.Properties()
      val in = java.nio.file.Files.newInputStream(p)
      try props.load(in) finally in.close()
      import scala.jdk.CollectionConverters._
      props.asScala.toMap
    }.getOrElse(Map.empty)

  /** Env + file layers of the cascade (`CORRAL_*` analog, config.go:36-44;
    * env overrides file, file overrides defaults). Explicit options sit
    * on top via `Conf(...)` / `.copy(...)` on the returned value. */
  def fromEnv(
      env: Map[String, String] = sys.env,
      rc: Map[String, String] = loadRc()): Conf = {
    val d = Conf()
    def layer(envKey: String, rcKey: String): Option[String] =
      env.get(envKey).orElse(rc.get(rcKey))
    Conf(
      splitSize = layer("GRAFT_SPLIT_SIZE", "splitSize").map(_.toLong).getOrElse(d.splitSize),
      mapBinSize = layer("GRAFT_MAP_BIN_SIZE", "mapBinSize").map(_.toLong).getOrElse(d.mapBinSize),
      reduceBins = layer("GRAFT_REDUCE_BINS", "reduceBins").map(_.toInt),
      maxConcurrency = layer("GRAFT_MAX_CONCURRENCY", "maxConcurrency").map(_.toInt)
        .getOrElse(d.maxConcurrency),
      workingLocation = layer("GRAFT_WORKING_LOCATION", "workingLocation"),
      shuffleLocation = layer("GRAFT_SHUFFLE_LOCATION", "shuffleLocation"),
      faasFunction = layer("GRAFT_LAMBDA_FUNCTION_NAME", "lambdaFunctionName")
        .getOrElse(d.faasFunction),
      faasControlPlane = layer("GRAFT_FAAS_CONTROL_PLANE", "faasControlPlane"))
  }

  def builder(conf: Conf = fromEnv(), local: Boolean = true): SparkSession.Builder = {
    // corral clamps splitSize to mapBinSize (driver.go:80-86)
    val split = math.min(conf.splitSize, conf.mapBinSize)
    val b = SparkSession.builder()
      // engine sessions carry the native function library (SQL-visible)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.files.maxPartitionBytes", split)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions",
        conf.reduceBins.getOrElse(conf.maxConcurrency))
      .config("spark.ui.enabled", "false")
    conf.shuffleLocation.foreach { dir =>
      b.config("spark.shuffle.manager",
          "org.apache.spark.shuffle.graft.GraftShuffleManager")
        .config("spark.shuffle.sort.io.plugin.class",
          "org.apache.spark.shuffle.graft.GraftShuffleDataIO")
        .config("spark.graft.shuffle.dir", dir)
        .config("spark.io.compression.codec", shuffleCodec)
      // the graftfs:// object-store stand-in self-registers, same as
      // in Bench/Verify (s3a:// in production registers
      // itself via hadoop-aws's ServiceLoader entry instead)
      if (dir.startsWith("graftfs:")) graft.mr.GraftObjectFs.register(b)
      // s3g:// — the repo's own S3-protocol FS: wire the impl class
      // so the scheme resolves; endpoint/region/credentials are the
      // documented conf surface (spark.hadoop.fs.s3g.endpoint/...,
      // creds falling back to the standard AWS env vars). Bench's
      // measurement leg additionally spins an in-process FakeS3 when
      // no endpoint is configured; a library session fails fast with
      // S3SigV4Fs's "endpoint required" message instead.
      else if (dir.startsWith("s3g:"))
        b.config("spark.hadoop.fs.s3g.impl",
          classOf[graft.s3.S3SigV4Fs].getName)
    }
    if (local) b.master(s"local[${conf.maxConcurrency}]") else b
  }

  /** Codec for shuffle/spill blocks when the OBJECT-STORE shuffle is
    * on (local sort shuffle keeps Spark's lz4 default). zstd compresses
    * the measured shuffle mix ~2.7× smaller than lz4 (q32's banded pair
    * join: 12.7 MB vs 34.7 MB written) for a net wall-clock WIN on the
    * FS leg (sf0.1 composite 38.9 s vs 42.4 s, every volume-bound row
    * faster) — on a real object store smaller blocks are also fewer
    * bytes billed and transferred. Override with
    * `SPARK_GRAFT_SHUFFLE_CODEC` (any spark.io.compression.codec
    * value), or an explicit `.config` after the builder (later config
    * calls win). */
  private[graft] def shuffleCodec: String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_CODEC", "zstd")
}
