package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed call into a layer. `body` is the call itself; a returned
  * frame is then consumed in full through [[Digest]] and `check` judges
  * that digest (`None` when nothing was returned). `layer` and `kind` name
  * the metric the op's wall time feeds (`api` + `append` → `api.append_s`). */
final case class Op(name: String, layer: String, kind: String,
    body: () => Option[DataFrame], check: Option[String] => Boolean)

/** What the runner learned about one op; `layer` holds the traced per-op
  * layer metrics (empty in untraced runs). */
final case class OpRecord(op: Op, pass: Int, startS: Double, wallS: Double,
    ok: Boolean, error: Option[String], digest: Option[String],
    spans: Seq[(String, Double, Double)], layer: Map[String, Double])

/** Runs ops one at a time (a closed loop) and keeps between-op hygiene
  * outside every timed section: a heap reading after the op's garbage is
  * collected, then release of whatever the op left persisted. With
  * `listener` set, each op also gets construct/plan/action spans and its
  * layer counters. */
final class Runner(spark: SparkSession, listener: Option[ExecListener],
    storeRoot: java.io.File, t0: Long) {
  private val cores = spark.sparkContext.defaultParallelism
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  val records = mutable.ArrayBuffer.empty[OpRecord]
  /** driver heap in use after the GC that follows each op */
  val heapMb = mutable.ArrayBuffer.empty[Double]
  def retainedHeapMb: Double = (heapMb :+ 0.0).max
  /** time spent on between-op hygiene, outside the timed sections */
  var hygieneS = 0.0

  private def now = (System.nanoTime() - t0) / 1e9
  private def mb(b: Long) = b / 1048576.0

  def run(op: Op, pass: Int): OpRecord = {
    val rec = listener.fold(untraced(op, pass))(traced(op, pass, _))
    records += rec
    if (!rec.ok) System.err.println(
      s"[perfbench] ${op.name} FAILED: ${rec.error.getOrElse("wrong result")}")
    val h0 = System.nanoTime()
    // a GC, a pause for Spark's ContextCleaner to drop what that GC
    // released (broadcast blocks, shuffle state), then the GC that frees it
    System.gc()
    Thread.sleep(50)
    System.gc()
    heapMb += mb(mem.getHeapMemoryUsage.getUsed)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    hygieneS += (System.nanoTime() - h0) / 1e9
    rec
  }

  private def judged(op: Op, digest: Option[String]) =
    try op.check(digest) catch { case scala.util.control.NonFatal(_) => false }

  private def untraced(op: Op, pass: Int): OpRecord = {
    val s = now
    try {
      val digest = op.body().map(Digest(_))
      val e = now
      OpRecord(op, pass, s, e - s, judged(op, digest), None, digest, Nil, Map.empty)
    } catch { case e: Exception =>
      OpRecord(op, pass, s, now - s, ok = false, Some(e.toString), None, Nil, Map.empty)
    }
  }

  private def traced(op: Op, pass: Int, l: ExecListener): OpRecord = {
    val sc = spark.sparkContext
    val (c0, cs0, cn0) = (l.snapshot, Codegen.compileS, Codegen.compiles)
    val s = now
    try {
      val df = op.body()
      val tc = now
      Bus.drain(sc)
      val constructJobs = (l.snapshot - c0).jobs
      val pinned = Pinned.bytes(spark)
      val dfr = df.map(Digest.frame)
      val tp0 = now
      dfr.foreach(_.queryExecution.executedPlan)
      val tp = now
      val digest = dfr.map(Digest.read)
      val e = now
      Bus.drain(sc)
      val d = l.snapshot - c0
      val skews = l.skewsSince(c0.nSkews).sorted
      val (live, files) = DirStats(storeRoot)
      val phases = dfr.map(_.queryExecution.tracker.phases).getOrElse(Map.empty)
      def phase(p: String) = phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      val (nodes, scans, reused) = dfr
        .map(f => PlanStats(f.queryExecution.executedPlan)).getOrElse((0, 0, 0))
      val wall = e - s
      val layerWall = s"${op.layer}.${op.kind}_s" -> wall
      val common = Map(
        "catalyst.analysis_s" -> phase("analysis"),
        "catalyst.optimize_s" -> phase("optimization"),
        "catalyst.physical_s" -> phase("planning"),
        "catalyst.plan_nodes" -> nodes.toDouble,
        "catalyst.scans" -> scans.toDouble,
        "catalyst.reused_exchanges" -> reused.toDouble,
        "codegen.compile_s" -> (Codegen.compileS - cs0),
        "codegen.compiles" -> (Codegen.compiles - cn0).toDouble,
        "exec.action_s" -> (if (df.isDefined) e - tp0 else 0.0),
        "exec.jobs" -> d.jobs.toDouble,
        "exec.stages" -> d.stages.toDouble,
        "exec.tasks" -> d.tasks.toDouble,
        "exec.task_s" -> d.taskS,
        "exec.busy_frac" -> d.taskS / (cores * wall),
        "exec.shuffle_write_mb" -> mb(d.shuffleWrite),
        "exec.shuffle_read_mb" -> mb(d.shuffleRead),
        "exec.spill_mb" -> mb(d.spill),
        "exec.skew" -> (if (skews.isEmpty) 0.0 else skews(skews.size / 2)))
      val byLayer = op.layer match {
        case "ops" => Map("ops.construct_s" -> (tc - s),
          "ops.construct_jobs" -> constructJobs.toDouble,
          "ops.pinned_mb" -> mb(pinned))
        case "api" => Map(layerWall, "api.jobs" -> d.jobs.toDouble,
          "store.live_mb" -> mb(live),
          "store.files" -> files.toDouble,
          "store.written_mb" -> mb(d.output)) ++
          (if (df.isDefined) Map("store.input_mb" -> mb(d.input)) else Map.empty)
        case _ => Map(layerWall)
      }
      OpRecord(op, pass, s, wall, judged(op, digest), None, digest,
        Seq(("construct", s, tc), ("plan", tp0, tp), ("action", tp, e))
          .filter { case (n, _, _) => n == "construct" || df.isDefined },
        common ++ byLayer)
    } catch { case e: Exception =>
      OpRecord(op, pass, s, now - s, ok = false, Some(e.toString), None, Nil, Map.empty)
    }
  }
}
