package graft.api

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** Background writes never outlive their Overlap.scoped block, and a
  * write's failure surfaces whichever way the block exits. */
class OverlapSpec extends AnyFunSuite with SparkSpec {

  test("a foreground failure joins the pending writes and surfaces their failure") {
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val writeErr = new RuntimeException("write failed")
    val e = intercept[IllegalStateException] {
      Overlap.scoped { w =>
        w.background("slow") { Thread.sleep(300); finished.set(true); throw writeErr }
        throw new IllegalStateException("foreground failed")
      }
    }
    assert(finished.get, "the write was still running when the scope exited")
    assert(e.getSuppressed.toSeq == Seq(writeErr))
    // on a normal exit the write's failure is the block's failure
    val e2 = intercept[RuntimeException](Overlap.scoped(_.background("w")(throw writeErr)))
    assert(e2 eq writeErr)
  }

  test("a write completes before Barrier.scoped releases the barrier it reads") {
    // the foreground throws while a write of a barriered frame runs: the
    // write must finish against live blocks (under localCheckpoint a
    // released barrier fails it on missing blocks) before the barrier
    // scope exits, and its own failure must still reach the caller
    val dir = java.nio.file.Files.createTempDirectory("overlap").resolve("out").toString
    val e = intercept[IllegalStateException] {
      Barrier.scoped {
        Overlap.scoped { w =>
          val b = Barrier(spark.range(0, 20000).toDF("id"))
          w.background("write") {
            b.write.parquet(dir)
            throw new RuntimeException("failed after the write")
          }
          throw new IllegalStateException("foreground failed")
        }
      }
    }
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("failed after the write"))
    assert(spark.read.parquet(dir).count() == 20000)
  }
}
