package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The ONE materialization-barrier seam for every graft operator that
  * re-reads an intermediate projection: self-join candidate sides
  * (dd2/dd3/dd4/dd5, q32), iterative fixpoints (dd6), and multi-branch
  * sketch passes (qs5). The barriers fix real plan defects — without
  * one, both consumers of the projection recompute it from the source
  * (for mm8 that is a full image decode per side; for qs5, 4-5 full
  * fact-table scans) because Spark performs no cross-stage
  * common-subexpression reuse.
  *
  * The MODE is deployment policy, not operator logic, so it is one
  * session conf — `spark.graft.barrier` — instead of a per-call choice:
  *
  *  - `localCheckpoint` (default): eager, lineage SEVERED, blocks live
  *    only on executors. Fastest on static clusters, but an executor
  *    loss loses the only copy and fails the job — do NOT use on
  *    decommissioning backends (the `lambda://` lease-rollover executor
  *    model).
  *  - `persist`: eager MEMORY_AND_DISK cache. Lineage is KEPT, so a
  *    lost block recomputes from source — the mode elastic/FaaS
  *    deployments require (see STATUS.md; LambdaSimSpec runs dd2 under
  *    it across a mid-query executor kill).
  *  - `checkpoint`: eager reliable checkpoint to
  *    `SparkContext.setCheckpointDir` (a SHARED filesystem in
  *    production); survives any executor loss without recompute, at
  *    the cost of an FS round-trip per barrier. If no checkpoint dir
  *    is set, a session-local temp dir is used (tests; single-node).
  *  - `none`: no barrier. Plan inspection and tiny inputs only — the
  *    double-computation the barriers exist to prevent comes back, and
  *    iterative operators grow unbounded lineage.
  *
  * Eagerness is part of the contract for every mode but `none`: a LAZY
  * cache shared by two stages of one job races to materialize the same
  * partitions and duplicates the scan — the barrier must be filled
  * before the consumers run.
  */
object Barrier {
  val ConfKey = "spark.graft.barrier"

  val Modes: Set[String] = Set("localCheckpoint", "persist", "checkpoint", "none")

  def mode(df: DataFrame): String = {
    val m = df.sparkSession.conf.get(ConfKey, "localCheckpoint")
    require(Modes.contains(m), s"$ConfKey must be one of $Modes, got '$m'")
    m
  }

  // barriers created inside the innermost active `scoped` block on this
  // thread, released when the block exits (see scoped below)
  private val scopeStack = new ThreadLocal[List[scala.collection.mutable.ArrayBuffer[DataFrame]]] {
    override def initialValue: List[scala.collection.mutable.ArrayBuffer[DataFrame]] = Nil
  }

  /** Materialize `df` now per the session's barrier mode; consumers of
    * the returned frame read the materialized rows, not the lineage. */
  def apply(df: DataFrame): DataFrame = {
    val out = mode(df) match {
      case "none" => df
      case "persist" =>
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        p.count() // fill eagerly: a lazy cache races under a self-join
        p
      case "checkpoint" =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(java.nio.file.Files
            .createTempDirectory("graft-ckpt").toString)
        df.checkpoint(true)
      case _ => df.localCheckpoint(true)
    }
    scopeStack.get.headOption.foreach(_ += out)
    out
  }

  /** A barrier over `df` filled by the caller's own full-scan
    * `action` (r21, guide §1/§2: the fixed per-job driver latency
    * dominates small-frame iterative operators): the barrier is marked
    * per the session mode without a job, and `action` — an aggregate
    * that reads every row of the frame it is given (`count`, a global
    * `agg`, a collect, a raw-RDD pass) — fills it as a side effect.
    * One job where [[apply]] + the action cost two driver round trips.
    * Returns the barrier and the action's result; a failing action
    * releases the barrier. `checkpoint` fills eagerly first (a lazy
    * reliable checkpoint RECOMPUTES the frame in a second job) and
    * `none` has nothing to fill. BarrierSpec pins one filling job and
    * no second read of the source per mode. */
  def filled[T](df: DataFrame)(action: DataFrame => T): (DataFrame, T) = {
    val b = lazily(df)
    try (b, action(b))
    catch { case e: Throwable => release(b); throw e }
  }

  /** [[filled]] by the row count: the barrier and its count in ONE
    * job over every partition (`Dataset.count` adds an aggregate
    * exchange, a second job under AQE). */
  def counted(df: DataFrame): (DataFrame, Long) =
    filled(df)(_.queryExecution.toRdd.count())

  private def lazily(df: DataFrame): DataFrame = {
    val out = mode(df) match {
      case "none" => df
      case "persist" => df.persist(StorageLevel.MEMORY_AND_DISK)
      case "checkpoint" => return apply(df)
      case _ => df.localCheckpoint(false)
    }
    scopeStack.get.headOption.foreach(_ += out)
    out
  }

  /** Barrier `b` as a frame whose logical plan is ONE leaf over its
    * rows — the round input of an iterative operator. A `persist`-mode
    * barrier keeps its lineage IN THE PLAN, so a round that reads its
    * input k times would nest every earlier round's plan k times over
    * (k^rounds plan nodes; a star-contraction round reads its input ~9
    * times, so a handful of rounds exhausts the driver heap). The leaf
    * reads `b`'s cached blocks, and its RDD lineage still recomputes a
    * lost block. The other modes already cut the plan (`none` keeps it
    * and is unfit for iterative operators). */
  def leaf(b: DataFrame): DataFrame =
    if (mode(b) == "persist") b.sparkSession.createDataFrame(b.rdd, b.schema)
    else b

  /** Run `body` and release every barrier it creates (on this thread)
    * when it returns — the seam for REPEATED operator invocations that
    * would otherwise accumulate cached frames under `persist` mode: a
    * long-running stream calling an operator per micro-batch holds
    * ~2 inner barriers per batch forever without this (each operator
    * barriers its own intermediates and has no release hook). Nested
    * scopes release only their own barriers; releasing an
    * already-released frame is a no-op, so operators that release
    * eagerly (the dd6 fixpoint) compose fine.
    *
    * INVARIANT (r13 — [[release]] is destructive under
    * `localCheckpoint` mode, where it used to be a no-op): any result
    * that transitively reads a barriered frame must be FULLY
    * MATERIALIZED (written or collected) before the scope exits. A
    * lazy DataFrame returned OUT of a scope fails at materialization
    * with missing checkpoint blocks — the blocks were unpersisted at
    * scope exit.
    * Under `persist` mode the same escape recomputes from lineage
    * (slow but correct); code must not rely on that mode-dependent
    * rescue. */
  def scoped[T](body: => T): T = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    scopeStack.set(buf :: scopeStack.get)
    try body
    finally {
      scopeStack.set(scopeStack.get.tail)
      buf.foreach(release)
    }
  }

  /** Drop a barrier an iterative operator no longer reads (the
    * previous round's labels/edges) so cached copies do not
    * accumulate. Under `persist` mode the frame itself is cached;
    * under `localCheckpoint` the CHECKPOINTED RDD holds the blocks
    * (the frame's own storageLevel reads NONE), and waiting for the
    * GC-driven ContextCleaner to reclaim them let a multi-verb sf100
    * probe session accumulate every verb's intermediates until the
    * driver OOM'd at the default heap (r12 operational note) — so
    * release unpersists that RDD eagerly too. `checkpoint` data lives
    * in files, `none` has nothing to release. */
  def release(df: DataFrame): Unit =
    if (df.storageLevel != StorageLevel.NONE) { df.unpersist(false); () }
    else df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD
          if lr.rdd.getStorageLevel != StorageLevel.NONE =>
        lr.rdd.unpersist(false); ()
      case _ => ()
    }
}
