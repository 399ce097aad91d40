package graft.util

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The one place a frame is materialized eagerly ("pinned"): lineage is
  * truncated and every consumer reads the materialized rows.
  *
  * Policy: a reliable `checkpoint()` when the SparkContext has a
  * checkpoint dir (Spark's own deployment setting, `spark.checkpoint.dir`
  * at start-up or `SparkContext.setCheckpointDir`), else a
  * `localCheckpoint()`. A local pin lives in executor block managers,
  * unreplicated: losing one executor that holds a block fails the next
  * read of the pin (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`). A deployment
  * that must survive executor loss sets the checkpoint dir, and then
  * every pin is a distributed write there. Superseded reliable pins stay
  * on disk until the session ends unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is on. Pin reads
  * the dir; it never sets it.
  *
  * Release: a pin holds memory until released. [[scope]] releases the
  * pins of one computation, so a long-lived session does not accrete one
  * persisted RDD per round per call. Releasing a reliable pin is a
  * no-op; its files are the cleaner's. */
object Pin {

  def apply(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint()

  /** Drop the block-manager copies of the pins `df` reads (for a pin,
    * itself). A local pin cannot be recomputed, so nothing may read it
    * afterwards. */
  def release(df: DataFrame): Unit =
    reads(df).foreach(_.unpersist(blocking = false))

  private def reads(df: DataFrame): Seq[RDD[_]] =
    df.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd }

  /** The pins of one computation. Pins taken with [[apply]] are inputs,
    * held until the scope's result exists. [[next]] pins one generation
    * of an iterative state and releases the generation it supersedes.
    * [[keep]] marks the result, whose pins outlive the scope. */
  final class Scope private[Pin] {
    private var pins = List.empty[RDD[_]]
    private var gen: Option[DataFrame] = None
    private var kept = Set.empty[RDD[_]]

    def apply(df: DataFrame): DataFrame = {
      val p = Pin(df)
      pins ++= reads(p)
      p
    }

    def next(df: DataFrame): DataFrame = {
      val p = apply(df)
      gen.foreach(release)
      gen = Some(p)
      p
    }

    /** The pins `result` reads outlive the scope. */
    def keep(result: DataFrame): DataFrame = {
      kept ++= reads(result)
      result
    }

    /** The pins `df` reads (a callee's, not the caller's inputs) are
      * released with this scope's. */
    def adopt(df: DataFrame): DataFrame = {
      pins ++= reads(df)
      df
    }

    private[Pin] def close(keepKept: Boolean): Unit =
      pins.filterNot(r => keepKept && kept(r))
        .foreach(_.unpersist(blocking = false))
  }

  /** Run `body` and release its pins once it has returned: every pin but
    * the kept ones, so the result is pinned before its inputs go. A body
    * that throws releases every pin it made. */
  def scope[A](body: Scope => A): A = {
    val s = new Scope
    val out =
      try body(s)
      catch { case t: Throwable => s.close(keepKept = false); throw t }
    s.close(keepKept = true)
    out
  }
}
