package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The benchmark's JVM side; `perfbench/run.py` builds it and is the only
  * caller.
  *
  *   gen <dataDir>                                  write the input tables
  *   run <workload> <seed> <seconds> <trace> <dataDir> <digests> <report>
  *   record <dataDir> <digests>                     record key digests
  *
  * `run` prints its result as the last stdout line and writes a fuller
  * report (sentinels, extra metrics, per-op spans) to `<report>`. It runs
  * with the working directory set to a throwaway run directory: keys and
  * indexes write relative paths there.
  */
object Main {
  val Sizes = DataGen.Sizes(sf = 0.1, docs = 2000, vecs = 2000)
  val Workloads = Seq("curate", "index")

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: data :: Nil =>
      val spark = session()
      val t = System.nanoTime()
      DataGen.write(spark, data, Sizes)
      IndexWorkload.writeCorpus(spark, data)
      println(f"""{"gen_s": ${(System.nanoTime() - t) / 1e9}%.3f}""")
      spark.stop()
    case "record" :: data :: digests :: Nil =>
      record(data, digests)
    case "run" :: w :: seed :: secs :: trace :: data :: digests :: report :: Nil
        if Workloads.contains(w) =>
      run(w, seed.toLong, secs.toDouble, trace == "1", data, digests, report)
    case _ =>
      System.err.println(s"usage: see perfbench/run.py (got ${args.mkString(" ")})")
      sys.exit(2)
  }

  def session(): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val local = new java.io.File("spark-local").getAbsolutePath
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new java.io.File("warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Engine warm-up: the shapes `graft.Bench` warms before timing (an
    * aggregate, both join strategies, the footer of every input table, a
    * real string-hashing scan, one small parquet write) and a few more.
    * It releases what it pinned, so the first op starts clean. */
  private def warmUp(spark: SparkSession, data: String): Unit = {
    val docs = spark.read.parquet(s"$data/documents.parquet")
    // independent chunks, run side by side: most of their cost in a fresh
    // JVM is JIT and Janino work, which then proceeds on every core
    Par.all(Seq(
      () => {
        spark.range(10000).selectExpr("sum(id)", "count(distinct id % 7)").collect()
        val fact = spark.range(20000).selectExpr("id % 97 as k", "id as v")
        val dim = spark.range(97).selectExpr("id as k", "id * 2 as w")
        fact.join(dim, "k").groupBy("k").sum("v").collect()
        fact.hint("merge").join(dim.hint("merge"), "k").groupBy("k").count().collect()
      },
      () => {
        graft.util.Tables.all.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)
        docs.selectExpr("md5(substring(text, 1, 16)) as h").groupBy("h").count().collect()
      },
      () => {
        // shapes the key families share beyond Bench's: token explode,
        // windowed top-n, semi/anti joins, a local checkpoint
        val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n"), min("doc_id").as("d"))
        words.withColumn("r", row_number().over(Window.orderBy(col("n").desc, col("w"))))
          .filter(col("r") <= 5).join(docs.withColumnRenamed("doc_id", "d"), Seq("d"),
            "left_semi")
          .join(words.filter(col("n") < 2), Seq("w"), "left_anti").localCheckpoint().count()
      },
      () => spark.range(100).write.mode("overwrite").parquet("warmup")))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  private def readDigests(path: String): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.exists) Map.empty else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.contains("\t"))
        .map { l => val Array(k, d) = l.split("\t"); k -> d }.toMap
      finally src.close()
    }
  }

  private def workload(name: String, spark: SparkSession, data: String, seed: Long,
      recorded: Map[String, String]): Workload = name match {
    case "curate" =>
      val rt = new PipelineRoundTrip(spark, data, seed)
      new KeyWorkload(spark, data, seed, perfbench.Workloads.CurateKeys, recorded, rt.ops)
    case "index" => new IndexWorkload(spark, data, seed)
  }

  private def run(name: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, digestsPath: String, reportPath: String): Unit = {
    val recorded = readDigests(digestsPath)
    require(recorded.nonEmpty, s"no recorded digests at $digestsPath")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val sentinelPre = Sentinel()
    val spark = session()
    warmUp(spark, data)
    val listener = if (trace) Some(new ExecListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val w = workload(name, spark, data, seed, recorded)
    // set-up: JVM start to the first timed op, less the host sentinel
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3 - sentinelPre("elapsed_s")
    val runner = new Runner(spark, listener, new java.io.File("index"), System.nanoTime())
    var passes = 0
    var failures = 0
    var extra = Map.empty[String, Double]
    def timedS = runner.records.map(_.wallS).sum
    var lastPassS = 0.0
    var verifyS = 0.0
    // whole passes, so every run times the same op mix: at least one, and
    // another only while it is expected to fit in the budget; the
    // verification after each pass sits outside the timed section
    while (passes == 0 || timedS + lastPassS <= seconds) {
      val before = timedS
      w.pass(passes).foreach(runner.run(_, passes))
      lastPassS = timedS - before
      val v0 = System.nanoTime()
      val (f, m) = w.verify(passes, runner.records.toSeq)
      verifyS += (System.nanoTime() - v0) / 1e9
      failures += f
      extra = m
      passes += 1
    }
    val wallS = timedS / passes
    val sentinelPost = Sentinel()
    val recs = runner.records.toSeq
    val attempted = recs.size
    val failed = recs.count(!_.ok) + failures
    val walls = recs.map(_.wallS)
    val (tailPct, tailS) = Stats.tail(walls).getOrElse((100.0, walls.max))
    val endToEnd = Map(
      "setup_s" -> (setupS, "s"),
      "wall_s" -> (wallS, "s"),
      "retained_heap_mb" -> (runner.retainedHeapMb, "MB"))
    val layers = if (trace) Layers.summarize(recs, spark.sparkContext.defaultParallelism)
      else Map.empty[String, (Double, String)]
    def values(m: Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val report = Map(
      "workload" -> name, "seed" -> seed, "trace" -> trace, "passes" -> passes,
      "attempted" -> attempted, "failed" -> failed,
      "failed_frac" -> failed.toDouble / attempted,
      "verify_s" -> verifyS, "hygiene_s" -> runner.hygieneS,
      "op_p50_s" -> Stats.median(walls), "op_tail_s" -> tailS,
      "op_tail_percentile" -> tailPct, "ops_per_run" -> walls.size,
      "sentinel_pre" -> sentinelPre, "sentinel_post" -> sentinelPost,
      "end_to_end" -> values(endToEnd), "extra" -> extra, "per_layer" -> values(layers),
      "ops" -> recs.zip(runner.heapMb).map { case (r, heap) => Map(
        "name" -> r.op.name, "layer" -> r.op.layer, "kind" -> r.op.kind,
        "pass" -> r.pass, "start_s" -> r.startS, "wall_s" -> r.wallS,
        "heap_mb" -> heap, "ok" -> r.ok, "error" -> r.error.getOrElse(""),
        "digest" -> r.digest.getOrElse(""),
        "spans" -> r.spans.map { case (n, s, e) =>
          Map("name" -> n, "start_s" -> s, "end_s" -> e) },
        "layer_metrics" -> r.layer) })
    java.nio.file.Files.write(java.nio.file.Paths.get(reportPath),
      Json(report).getBytes("UTF-8"))
    spark.stop()
    println(Json(Map("correct" -> (failed == 0), "attempted" -> attempted,
      "failed" -> failed, "metrics" -> values(if (trace) layers else endToEnd))))
  }

  /** Runs every curate key once and writes their digests. */
  private def record(data: String, digestsPath: String): Unit = {
    val spark = session()
    warmUp(spark, data)
    val runner = new Runner(spark, None, new java.io.File("index"), System.nanoTime())
    val keys = perfbench.Workloads.CurateKeys.sorted
    val lines = keys.map { k =>
      val r = runner.run(perfbench.Workloads.keyOp(spark, data, k, Map.empty), 0)
      require(r.ok, s"$k failed: ${r.error}")
      System.err.println(f"[perfbench] $k%-36s ${r.wallS}%.2f s ${r.digest.get}")
      s"$k\t${r.digest.get}"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(digestsPath),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}

/** The benchmark's copy of `graft.Bench`'s fixed CPU loop (xorshift64 +
  * add, no allocation): single-thread seconds and all-cores wall seconds
  * for a fixed iteration count, so a contended host window shows beside
  * the metrics it inflated. */
object Sentinel {
  private val sink = new java.util.concurrent.atomic.AtomicLong()
  private def loop(n: Long): Long = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0L
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1 }
    acc
  }
  private val N = 60000000L

  def apply(): Map[String, Double] = {
    val start = System.nanoTime()
    sink.addAndGet(loop(1000000L))
    val t0 = System.nanoTime()
    sink.addAndGet(loop(N))
    val single = (System.nanoTime() - t0) / 1e9
    val threads = (0 until Runtime.getRuntime.availableProcessors()).map(_ =>
      new Thread(() => { sink.addAndGet(loop(N)); () }))
    val t1 = System.nanoTime()
    threads.foreach(_.start()); threads.foreach(_.join())
    val all = (System.nanoTime() - t1) / 1e9
    if (sink.get() == 42L) System.err.println("[perfbench] sentinel fixed point")
    Map("single_s" -> single, "all_cores_s" -> all,
      "elapsed_s" -> (System.nanoTime() - start) / 1e9)
  }
}

/** Minimal JSON writer for the result line and the report. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case other => apply(other.toString)
  }
}
