package graft

import org.scalatest.funsuite.AnyFunSuite

/** The index-params sidecar's crash-safety contract (r16): staged
  * write + terminator makes a torn sidecar LOUD (a truncated numeric
  * like `width=6` from `width=64` must never parse), and the legacy
  * 1-row-parquet `params` dir stays readable. */
class IndexMetaSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  private def open(dir: String) = graft.util.Store.open(spark, dir, "index")

  test("write/read roundtrip preserves fields incl. newline values, " +
      "leaves no staged or retired copy behind") {
    val dir = SparkFixture.tempDir("idxmeta").getAbsolutePath
    graft.util.Store.record(spark, dir,
      "bits" -> "8", "dim" -> "64", "delim" -> "\n")
    val m = open(dir).fields
    assert(m == Map("bits" -> "8", "dim" -> "64", "delim" -> "\n"))
    assert(open(dir).ints("bits", "dim") == Seq(8, 64))
    // write twice so the second commit retires a live sidecar
    graft.util.Store.record(spark, dir, "bits" -> "8")
    for (sibling <- Seq("params.txt__next", "params.txt__old"))
      assert(!new java.io.File(dir, sibling).exists,
        s"$sibling must not outlive the commit")
  }

  test("a truncated sidecar (no terminator) is rejected loudly, not " +
      "silently parsed with a torn value") {
    val dir = SparkFixture.tempDir("idxmeta").getAbsolutePath
    graft.util.Store.record(spark, dir, "width" -> "64")
    // simulate a torn write: chop the file mid-value (through the
    // Hadoop FS API so the local .crc sidecar stays consistent — the
    // point is the terminator check, not local checksumming)
    val p = new org.apache.hadoop.fs.Path(s"$dir/params.txt")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = "width=6" // parses as a valid int — the dangerous case
    val out = fs.create(p, true)
    try out.write(torn.getBytes("UTF-8")) finally out.close()
    val e = intercept[IllegalArgumentException] {
      open(dir)
    }
    assert(e.getMessage.contains("truncated"))
  }

  test("legacy 1-row-parquet params dir is readable when no sidecar " +
      "exists, and the next write retires it") {
    val dir = SparkFixture.tempDir("idxmeta").getAbsolutePath
    spark.range(1).selectExpr("8 as bits", "64 as dim")
      .write.mode("overwrite").parquet(s"$dir/params")
    assert(open(dir).ints("bits", "dim") == Seq(8, 64))
    graft.util.Store.record(spark, dir, "bits" -> "9")
    assert(!new java.io.File(dir, "params").exists,
      "stale legacy params dir must be retired on write")
    assert(open(dir).int("bits") == 9)
  }
}
