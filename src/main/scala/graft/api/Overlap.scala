package graft.api

/** Concurrent-job overlap seam (optimization guide §2.6 "Overlap
  * independent jobs"): Spark's scheduler happily runs several jobs at
  * once inside one application — actions are only sequential because
  * driver code calls them sequentially. The increment step
  * ([[Increment.step]]) writes asset dirs whose WRITE jobs do not feed
  * the next stage (the next stage reads the in-memory barrier, not the
  * file), so the writes can run on a side thread while the driver thread plans
  * and runs the next stage's jobs — the write's tasks back-fill idle
  * cores behind the compute stage's tail.
  *
  * Writes start inside [[scoped]] and never outlive it: the block
  * joins every write it started when it exits, normally or by a throw,
  * so a write cannot keep reading a barrier that an enclosing
  * [[Barrier.scoped]] is about to release, and its failure is never
  * lost. The caller still calls [[Writes.join]] itself before anything
  * reads the written artifact or is written after it. */
object Overlap {

  /** The background writes started inside one [[scoped]] block. */
  final class Writes private[Overlap] () {
    private var pending = List.empty[(Thread, java.util.concurrent.atomic.AtomicReference[Throwable])]

    /** Start `body` on a named daemon thread now. */
    def background(name: String)(body: => Unit): Unit = {
      val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
      val t = new Thread(() => try body catch { case e: Throwable => err.set(e) },
        s"graft-overlap-$name")
      t.setDaemon(true)
      t.start()
      pending = (t, err) :: pending
    }

    /** Wait for every write started so far, then rethrow the first
      * failure (in start order) with the others suppressed on it. */
    def join(): Unit = {
      val started = pending.reverse
      pending = Nil
      started.foreach(_._1.join())
      started.flatMap(w => Option(w._2.get)) match {
        case first :: rest => rest.foreach(first.addSuppressed); throw first
        case Nil => ()
      }
    }
  }

  /** Run `body` with a [[Writes]] and join every write it started
    * before returning. When `body` throws, its exception propagates
    * with any write failure suppressed on it. */
  def scoped[T](body: Writes => T): T = {
    val writes = new Writes
    val out =
      try body(writes)
      catch {
        case e: Throwable =>
          try writes.join() catch { case w: Throwable => e.addSuppressed(w) }
          throw e
      }
    writes.join()
    out
  }
}
