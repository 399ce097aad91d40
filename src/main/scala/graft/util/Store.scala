package graft.util

import java.io.IOException
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** How every persisted index is stored: the params it was written with
  * ([[record]], [[open]]) and the commit of every in-place rewrite of
  * its tables ([[replace]]). Hadoop FS API throughout, so HDFS and
  * object-store paths work.
  *
  * Params live in `<index>/params.txt`, driver-side metadata rather
  * than a dataset (a 1-row parquet table priced a Spark job per write
  * and per read-back): one `key=value` line per param with the value
  * URL-encoded (a line-index delimiter can be "\n"), in the caller's
  * order, then a `#end` terminator. A param is passed under its
  * caller-side name (`windowTokens`) and stored under its snake_case
  * form (`window_tokens`). The terminator certifies a complete write:
  * a torn sidecar never parses a truncated value (`width=6` from
  * `width=64`). An index from before the sidecar keeps its params as a
  * 1-row parquet `<index>/params` dir; [[open]] reads it when there is
  * no sidecar, and [[record]] retires it.
  *
  * Commit protocol: a rewrite stages the complete replacement of each
  * table at `<live>__next`, then promotes each in turn: retire the live
  * copy to `<live>__old`, rename the staged copy into place (rename
  * never overwrites, hence the retire), drop the retired one. Data is
  * never deleted before its replacement is in place: a failed stage
  * leaves the live tables untouched, and a failure at any commit step
  * leaves one complete copy, old or new, at the live path or at the
  * sibling the error names. Promoting several tables is not atomic
  * across them: a `__swap_pending` marker in their parent brackets that
  * window, so [[open]] refuses a half-swapped index until the
  * operation is re-run. */
object Store {

  private val Pending = "__swap_pending"
  private val Terminator = "#end"

  /** The params an index was written with, keyed by stored name. */
  final case class Params(dir: String, fields: Map[String, String]) {
    def int(name: String): Int = ints(name).head

    /** Int params by caller-side name; a missing one fails loudly with
      * the sidecar path and the names present. */
    def ints(names: String*): Seq[Int] = names.map { n =>
      val k = stored(n)
      require(fields.contains(k),
        s"index params at ${sidecar(dir)} carry no field '$k' — " +
          s"present: ${fields.keys.toSeq.sorted.mkString(", ")}")
      fields(k).toInt
    }
  }

  /** Write `dir`'s params, committed like any table rewrite. */
  def record(spark: SparkSession, dir: String,
      params: (String, Any)*): Unit = {
    val p = sidecar(dir)
    val fs = fileSystem(spark, p)
    // an overwritten index carries exactly one generation of params
    fs.delete(new Path(s"$dir/params"), true)
    val body = params.map { case (k, v) =>
      stored(k) + "=" + java.net.URLEncoder.encode(v.toString, "UTF-8")
    }.mkString("", "\n", "\n") + Terminator + "\n"
    replace(spark, p.toString) { (_, staged) =>
      val out = fs.create(new Path(staged), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
  }

  /** Read `dir`'s params for a `kind` index (a name for messages, e.g.
    * "signature index"). Refuses an index left mid-[[replace]] (`repair`
    * says how to finish it), then requires each `expect`ed caller
    * param to equal its recorded value: a mismatch changes every key
    * derived from it, so the call would silently match nothing. */
  def open(spark: SparkSession, dir: String, kind: String,
      expect: Seq[(String, Any)] = Nil,
      repair: String = "re-run the operation that was rewriting it")
      : Params = {
    val p = sidecar(dir)
    val fs = fileSystem(spark, p)
    val m = new Path(dir, Pending)
    require(!fs.exists(m), s"$kind at $dir was left mid-swap ($m): $repair")
    val params = Params(dir, read(spark, fs, dir))
    expect.foreach { case (name, given) =>
      val was = params.fields.get(stored(name))
      require(was.contains(given.toString),
        s"$kind at $dir was written with " +
          was.fold(s"no $name")(v => s"$name=${show(v)}") +
          s" but the caller passed $name=${show(given.toString)} — every " +
          "key derived from it differs, so the call would silently match " +
          "nothing")
    }
    params
  }

  /** Replace each `lives` table (or file) with what `stage(live,
    * staged)` writes at its staged path. All stages run first,
    * concurrently when there are several ([[Par.all]]); if one fails,
    * every staged copy is deleted, the live tables are untouched, and
    * the failure is rethrown. Then all are promoted together under the
    * crash contract above. */
  def replace(spark: SparkSession, lives: String*)(
      stage: (String, String) => Unit): Unit = {
    val fs = fileSystem(spark, new Path(lives.head))
    try Par.all(lives.map(live => () => stage(live, next(live))))
    catch {
      case e: Throwable =>
        lives.foreach { live =>
          try fs.delete(new Path(next(live)), true)
          catch { case d: IOException => e.addSuppressed(d) }
        }
        throw e
    }
    promote(fs, lives)
  }

  private def next(live: String): String = live + "__next"

  private def promote(fs: FileSystem, lives: Seq[String]): Unit = {
    val marker =
      if (lives.size > 1) Some(new Path(new Path(lives.head).getParent,
        Pending))
      else None
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

  /** The sidecar as a stored-name → value map; loud on a missing,
    * truncated or malformed file. */
  private def read(spark: SparkSession, fs: FileSystem,
      dir: String): Map[String, String] = {
    val p = sidecar(dir)
    val legacy = new Path(s"$dir/params")
    if (!fs.exists(p) && fs.exists(legacy)) {
      val row = spark.read.parquet(legacy.toString).head()
      return row.schema.fieldNames.zipWithIndex.map { case (k, i) =>
        k -> String.valueOf(row.get(i))
      }.toMap
    }
    val in = fs.open(p)
    val body = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val lines = body.split("\n").iterator.filter(_.nonEmpty).toSeq
    require(lines.lastOption.contains(Terminator),
      s"index params at $p are truncated (no terminator) — the sidecar " +
        "write was interrupted; rebuild the index or restore the file")
    lines.iterator.filter(!_.startsWith("#")).map { line =>
      val i = line.indexOf('=')
      require(i > 0, s"malformed index params line in $p: '$line'")
      line.substring(0, i) ->
        java.net.URLDecoder.decode(line.substring(i + 1), "UTF-8")
    }.toMap
  }

  private def sidecar(dir: String) = new Path(s"$dir/params.txt")

  private def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `windowTokens` → `window_tokens`. */
  private def stored(name: String): String =
    name.replaceAll("([a-z0-9])([A-Z])", "$1_$2").toLowerCase

  private def show(v: String): String =
    v.replace("\n", "\\n").replace("\t", "\\t")
}
