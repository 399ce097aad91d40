package graft.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Driver-side index-parameter sidecar (`<index>/params.txt`) shared by
  * every persisted-index family (signature / substring / line / CMS /
  * IVF / trained-IVF / IVF-PQ).
  *
  * The previous spelling stored the same handful of values as a 1-ROW
  * PARQUET TABLE, which prices a full Spark job at write time and
  * another at every probe/append read-back — r15 measured ~0.15 s per
  * write and ~0.1 s per `head()` read at 32 cores, across ~40 such
  * jobs in the bench suite, all to move a few ints. Index parameters
  * are driver-side METADATA, not a dataset — the manifest-file
  * convention of the table formats (optimization guide §6) — so this
  * writes them through the Hadoop FS API as `key=value` lines with
  * URL-encoded values (a line-index delimiter can be "\n"). Readers
  * keep the loud-mismatch contract the parquet form had; a missing
  * sidecar fails as loudly as a missing parquet dir did.
  *
  * Crash safety (r16, ADVICE): the sidecar is committed through
  * [[Swap]] and ends in a terminator line that [[read]] requires, so a
  * torn write can never yield a truncated numeric value (`width=6`
  * from `width=64`) that silently mis-geometries every later probe —
  * the property the parquet footer check gave. [[read]] also falls back
  * to the legacy 1-row-parquet `<index>/params` dir when no sidecar
  * exists (pre-r15 indexes stay readable), and [[write]] retires any
  * such legacy dir so an overwritten index never carries two
  * generations of metadata. */
object IndexMeta {

  private def metaPath(dir: String) = new Path(s"$dir/params.txt")

  /** Final line of every sidecar; its presence certifies the write
    * completed. */
  private val Terminator = "#end"

  /** Overwrite the sidecar (staged + [[Swap.promote]] — never in place).
    * Field order is preserved (stable bytes for a given index —
    * diff-friendly, like every other index artifact). */
  def write(spark: SparkSession, dir: String,
      fields: Seq[(String, String)]): Unit = {
    val p = metaPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // retire a legacy parquet params dir so the index carries exactly
    // one generation of metadata after an overwrite
    fs.delete(new Path(s"$dir/params"), true)
    val out = fs.create(new Path(Swap.next(p.toString)), true)
    try out.write((fields.map { case (k, v) =>
      k + "=" + java.net.URLEncoder.encode(v, "UTF-8")
    }.mkString("", "\n", "\n") + Terminator + "\n").getBytes("UTF-8"))
    finally out.close()
    Swap.promote(spark, p.toString)
  }

  def writeInts(spark: SparkSession, dir: String,
      fields: (String, Int)*): Unit =
    write(spark, dir, fields.map { case (k, v) => (k, v.toString) })

  /** Read the sidecar back as a key → value map (loud on a missing,
    * truncated or malformed file — the index-layout contract error,
    * not a silent empty map). Falls back to the legacy 1-row-parquet
    * `params` dir when no sidecar exists. */
  def read(spark: SparkSession, dir: String): Map[String, String] = {
    val p = metaPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val legacy = new Path(s"$dir/params")
    if (!fs.exists(p) && fs.exists(legacy)) {
      // pre-r15 layout: params as a 1-row parquet table
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

  def readInt(spark: SparkSession, dir: String, key: String): Int =
    readInts(spark, dir, key).head

  /** Read several int fields at once (ONE sidecar read). Missing keys
    * fail loudly with the sidecar path and key name. */
  def readInts(spark: SparkSession, dir: String,
      keys: String*): Seq[Int] = {
    val m = read(spark, dir)
    keys.map { k =>
      require(m.contains(k),
        s"index params at ${metaPath(dir)} carry no field '$k' — " +
          s"present: ${m.keys.toSeq.sorted.mkString(", ")}")
      m(k).toInt
    }
  }
}
