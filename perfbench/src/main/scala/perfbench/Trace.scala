package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Scheduler-side totals, read as differences around one op. Times are
  * seconds and sizes bytes. */
final case class ExecCounters(jobs: Long = 0, stages: Long = 0,
    tasks: Long = 0, taskS: Double = 0, shuffleWrite: Long = 0,
    shuffleRead: Long = 0, spill: Long = 0, input: Long = 0,
    output: Long = 0, nSkews: Int = 0) {
  def -(o: ExecCounters): ExecCounters = ExecCounters(jobs - o.jobs,
    stages - o.stages, tasks - o.tasks, taskS - o.taskS,
    shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, input - o.input, output - o.output, nSkews - o.nSkews)
}

/** The `exec` layer, observed from outside through a SparkListener the
  * benchmark registers only for traced runs. The loop is closed (one op
  * in flight), so every event between two snapshots belongs to that op,
  * including jobs launched from helper threads outside any job group. */
final class ExecListener extends SparkListener {
  private var c = ExecCounters()
  private val stageTaskMs = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  /** max/median task run time of each finished stage with ≥ 2 tasks */
  val skews = mutable.ArrayBuffer.empty[Double]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = c.copy(tasks = c.tasks + 1)
    if (m != null) {
      c = c.copy(taskS = c.taskS + m.executorRunTime / 1e3,
        shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        spill = c.spill + m.diskBytesSpilled,
        input = c.input + m.inputMetrics.bytesRead,
        output = c.output + m.outputMetrics.bytesWritten)
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    c = c.copy(stages = c.stages + 1)
    stageTaskMs.remove((info.stageId, info.attemptNumber())).foreach { ms =>
      val sorted = ms.sorted
      val med = sorted(sorted.size / 2)
      if (sorted.size >= 2 && med > 0) {
        skews += sorted.last.toDouble / med
        c = c.copy(nSkews = skews.size)
      }
    }
  }
  def snapshot: ExecCounters = synchronized(c)
  def skewsSince(from: Int): Seq[Double] = synchronized(skews.drop(from).toSeq)
}

/** Plan shape of an executed (post-AQE) plan, query stages and
  * subqueries included. */
object PlanStats extends AdaptiveSparkPlanHelper {
  def apply(p: SparkPlan): (Int, Int, Int) = {
    val nodes = collectWithSubqueries(p) { case n => n }
    val scans = nodes.count(n => n.children.isEmpty &&
      !n.isInstanceOf[ReusedExchangeExec] && n.nodeName.contains("Scan"))
    val reused = nodes.count(_.isInstanceOf[ReusedExchangeExec])
    (nodes.size, scans, reused)
  }
}

/** Janino compile counters (the `codegen` layer): JVM-global, so read as
  * differences around one op. */
object Codegen {
  def compileS: Double = CodeGenerator.compileTime / 1e9
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** Order-insensitive digest of every row and every column of a frame:
  * the count and the exact decimal sum of xxhash64 over the whole row.
  * Consuming every column keeps Catalyst from pruning work the caller
  * would pay for; the decimal sum cannot overflow, unlike a long sum
  * under ANSI mode. Map-typed columns are hashed through their JSON form
  * because xxhash64 rejects maps. */
object Digest {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types._

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def frame(df: DataFrame): DataFrame = {
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.map { f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toSeq: _*)
    named.select(h.cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)).as("n"), sum(col("h")).as("s"))
  }

  def read(digestFrame: DataFrame): String = {
    val r = digestFrame.head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}"
  }

  def apply(df: DataFrame): String = read(frame(df))
}

/** Bytes and files under a directory tree (the `store` layer's on-disk
  * state). */
object DirStats {
  def apply(root: java.io.File): (Long, Long) = {
    if (!root.exists) return (0L, 0L)
    val s = java.nio.file.Files.walk(root.toPath)
    try {
      s.filter(p => java.nio.file.Files.isRegularFile(p))
        .toArray.foldLeft((0L, 0L)) { case ((b, n), p) =>
          (b + java.nio.file.Files.size(p.asInstanceOf[java.nio.file.Path]), n + 1)
        }
    } finally s.close()
  }
}

/** Driver-side storage held by persisted or checkpointed RDDs. */
object Pinned {
  def bytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
}

/** Run-level per-layer metrics from the traced ops, with units: sums over
  * ops, except the peaks, end states, ratios and medians listed last. */
object Layers {
  private val summed = Seq(
    "ops.construct_s" -> "s", "ops.construct_jobs" -> "count",
    "pipeline.fit_s" -> "s", "pipeline.transform_s" -> "s",
    "pipeline.save_s" -> "s", "pipeline.load_s" -> "s",
    "api.write_s" -> "s", "api.append_s" -> "s", "api.remove_s" -> "s",
    "api.compact_s" -> "s", "api.topk_s" -> "s", "api.screen_s" -> "s",
    "api.bm25_s" -> "s", "api.jobs" -> "count", "store.written_mb" -> "MB",
    "catalyst.analysis_s" -> "s", "catalyst.optimize_s" -> "s",
    "catalyst.physical_s" -> "s", "catalyst.plan_nodes" -> "count",
    "catalyst.scans" -> "count", "catalyst.reused_exchanges" -> "count",
    "codegen.compile_s" -> "s", "codegen.compiles" -> "count",
    "exec.action_s" -> "s", "exec.jobs" -> "count", "exec.stages" -> "count",
    "exec.tasks" -> "count", "exec.task_s" -> "s",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB")

  def summarize(recs: Seq[OpRecord], cores: Int): Map[String, (Double, String)] = {
    def all(k: String) = recs.flatMap(_.layer.get(k))
    val reads = recs.filter(r => r.op.layer == "api" && r.layer.contains("store.input_mb"))
    val wall = recs.map(_.wallS).sum
    val lastApi = recs.reverse.find(r => r.op.layer == "api" && r.layer.nonEmpty)
    summed.map { case (k, u) => k -> (all(k).sum, u) }.toMap ++ Map(
      "ops.pinned_mb" -> ((all("ops.pinned_mb") :+ 0.0).max, "MB"),
      "store.live_mb" -> (lastApi.map(_.layer("store.live_mb")).getOrElse(0.0), "MB"),
      "store.files" -> (lastApi.map(_.layer("store.files")).getOrElse(0.0), "count"),
      "store.input_mb_per_query" -> (if (reads.isEmpty) 0.0 else
        reads.map(_.layer("store.input_mb")).sum / reads.size, "MB"),
      "exec.busy_frac" -> (if (wall > 0) all("exec.task_s").sum / (cores * wall) else 0.0,
        "ratio"),
      "exec.skew" -> (Stats.median(all("exec.skew").filter(_ > 0)), "ratio"))
  }
}
