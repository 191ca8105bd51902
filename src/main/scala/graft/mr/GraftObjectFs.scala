package graft.mr

import java.net.URI

import org.apache.hadoop.fs.RawLocalFileSystem

/** A Hadoop FileSystem registered under a non-`file:` scheme. Backed by
  * local disk, but from the engine's point of view it is a foreign
  * object store: every open/list/rename/delete goes through the Hadoop
  * FileSystem API resolved from the URI scheme — the same resolution
  * seam the reference switches on for S3 vs local
  * (`/root/reference/internal/pkg/corfs/filesys.go:51-65`). s3a:// in
  * production differs only by which impl class the scheme maps to
  * (`fs.s3a.impl`); no engine code changes.
  *
  * Lives in main (not test) sources so `graft.Bench` can run the
  * FS-shuffle leg over `graftfs://` — the deployment-shaped
  * configuration (`GraftShuffleManager` + scheme-resolved object
  * store) — in a sandbox with no real S3 endpoint. Register with
  * `fs.graftfs.impl` = this class, `fs.graftfs.impl.disable.cache` =
  * true (sequential SparkContexts in one JVM must not share a stale
  * cached instance).
  */
class GraftObjectFs extends RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: URI = URI.create("graftfs:///")
}

object GraftObjectFs {
  /** Adds the scheme registration to a session builder — one place, so
    * the entry points that accept a graftfs:// shuffle location
    * (Bench/Verify via `Bench.withShuffleEnv`, the CLI via
    * `GraftSession.builder`) cannot drift on the two confs. */
  def register(b: org.apache.spark.sql.SparkSession.Builder): org.apache.spark.sql.SparkSession.Builder =
    b.config("spark.hadoop.fs.graftfs.impl", classOf[GraftObjectFs].getName)
      .config("spark.hadoop.fs.graftfs.impl.disable.cache", "true")
}
