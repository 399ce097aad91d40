package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{LocalFileSystem, LocatedFileStatus, Path,
  RawLocalFileSystem, RemoteIterator}

/** Test-only local file system under the `faulty:` scheme (register it
  * with `fs.faulty.impl`) that fails the N-th `rename` or `delete` once
  * [[FaultyFs.arm]]ed. Paths inside Spark's own write commit
  * (`_temporary`, `.spark-staging-*`) are neither counted nor failed, so
  * the N-th op is one the code under test issued itself. Listings are
  * built without permissions: the local file system reads those through
  * `java.io.File`, which only accepts `file:` URIs. */
class FaultyFs extends LocalFileSystem(new RawLocalFileSystem {
  override def getUri: URI = FaultyFs.Uri
}) {
  override def getScheme: String = FaultyFs.Uri.getScheme
  override def rename(src: Path, dst: Path): Boolean =
    FaultyFs.tick(src, refusable = true) && super.rename(src, dst)
  override def delete(p: Path, recursive: Boolean): Boolean =
    FaultyFs.tick(p, refusable = false) && super.delete(p, recursive)
  override def listLocatedStatus(f: Path)
      : RemoteIterator[LocatedFileStatus] = {
    val it = listStatus(f).iterator
    new RemoteIterator[LocatedFileStatus] {
      def hasNext: Boolean = it.hasNext
      def next(): LocatedFileStatus = {
        val s = it.next()
        new LocatedFileStatus(s.getLen, s.isDirectory, s.getReplication,
          s.getBlockSize, s.getModificationTime, 0L, null, null, null, null,
          s.getPath, null)
      }
    }
  }
}

object FaultyFs {
  val Uri: URI = URI.create("faulty:///")

  private val seen = new AtomicInteger
  @volatile private var failAt = 0
  @volatile private var refuse = false
  @volatile private var hit = false

  /** Fail the `n`-th counted op from now on: it throws, or — with
    * `refuseRename` and the op a rename — returns false. */
  def arm(n: Int, refuseRename: Boolean = false): Unit = {
    seen.set(0); refuse = refuseRename; hit = false; failAt = n
  }

  /** Stop failing; true if the armed op was reached. */
  def disarm(): Boolean = { failAt = 0; hit }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.${Uri.getScheme}.impl", classOf[FaultyFs].getName)

  private def tick(p: Path, refusable: Boolean): Boolean = {
    val internal = p.toUri.getPath.split('/')
      .exists(c => c == "_temporary" || c.startsWith(".spark-staging"))
    if (internal || failAt == 0 || seen.incrementAndGet() != failAt) true
    else {
      hit = true
      if (refuse && refusable) false
      else throw new java.io.IOException("injected fault")
    }
  }
}
