package graft.util

import java.io.IOException
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one commit protocol for every in-place rewrite of persisted index
  * state. A caller stages the complete replacement of a table (or file)
  * at [[next]]`(live)`, then [[promote]]s it: retire the live copy, if
  * any, to `<live>__old`, rename the staged copy into place, drop the
  * retired one (Hadoop FS API, so HDFS/object-store paths work; rename
  * never overwrites, hence the retire).
  *
  * Crash contract: data is never deleted before its replacement is in
  * place. A failure while staging leaves the live copy untouched; a
  * failure at any commit step leaves one complete copy, old or new, at
  * the live path or at the sibling the error names. Promoting several
  * tables is not atomic across them: a `__swap_pending` marker in their
  * parent brackets that window, so readers can refuse a half-swapped
  * index ([[requireSettled]]) until the operation is re-run. */
object Swap {

  private val Pending = "__swap_pending"

  def next(live: String): String = live + "__next"

  /** Commit each staged [[next]]`(live)` over its `live` path, in order. */
  def promote(spark: SparkSession, lives: String*): Unit = {
    val head = new Path(lives.head)
    val fs = head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker =
      if (lives.size > 1) Some(new Path(head.getParent, Pending)) else None
    marker.foreach(fs.create(_, true).close())
    lives.foreach { live =>
      val (l, n, o) = (new Path(live), new Path(next(live)),
        new Path(live + "__old"))
      val retired = fs.exists(l)
      if (retired) {
        fs.delete(o, true) // a stale retired copy from an earlier crash
        commit(fs.rename(l, o),
          s"swap failed to retire $l — the new copy is at $n")
      }
      commit(fs.rename(n, l), s"swap failed to promote $n" +
        (if (retired) s" — the previous copy is at $o" else ""))
      fs.delete(o, true)
    }
    marker.foreach(fs.delete(_, false))
  }

  /** A refused or failed rename throws `failure`. */
  private def commit(rename: => Boolean, failure: String): Unit = {
    val ok = try rename catch {
      case e: IOException => throw new IOException(failure, e)
    }
    if (!ok) throw new IOException(failure)
  }

  /** Refuse an index dir left mid-[[promote]]; `repair` says how to
    * finish the interrupted operation. */
  def requireSettled(spark: SparkSession, dir: String,
      repair: String): Unit = {
    val m = new Path(dir, Pending)
    require(!m.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(m), s"index at $dir was left mid-swap ($m): $repair")
  }
}
