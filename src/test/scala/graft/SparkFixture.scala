package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (per-suite sessions would
  * dominate runtime). Mirrors the Verify/Bench session config. */
object SparkFixture {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = "/root/testdata/sf0.1"

  /** Run `body` with `dir` as the session's checkpoint dir, so every
    * graft.util.Pin inside it is a reliable checkpoint written there. The
    * dir is unset afterwards (Spark maps null to no dir), so reliable
    * mode never leaks into later suites. */
  def withCheckpointDir[A](dir: String)(body: => A): A = {
    val sc = spark.sparkContext
    require(sc.getCheckpointDir.isEmpty,
      s"a checkpoint dir is already set: ${sc.getCheckpointDir}")
    sc.setCheckpointDir(dir)
    try body
    finally {
      sc.setCheckpointDir(null)
      assert(sc.getCheckpointDir.isEmpty, "checkpoint dir still set")
    }
  }

  /** Checkpoint `part-*` files anywhere under `dir`. */
  def checkpointFiles(dir: java.io.File): Int = {
    val fs = Option(dir.listFiles()).getOrElse(Array.empty)
    fs.count(f => f.isFile && f.getName.startsWith("part-")) +
      fs.filter(_.isDirectory).map(checkpointFiles).sum
  }

  /** Temp dir recursively deleted at JVM exit — File.deleteOnExit on a
    * non-empty directory silently leaves it behind, so every spec fixture
    * dir goes through this instead of bare createTempDirectory. */
  def tempDir(prefix: String): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(del); f.delete(); ()
      }
      del(dir)
    }))
    dir
  }
}
