package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Tables._
import graft.util.Det._

/** SURVEY.md §2.K — streaming (the reference has no streaming substrate;
  * the `events` fixture is the driver's designated stream table).
  *
  * Strategy (SURVEY §7.4): `window` / `session_window` / `groupBy.count`
  * evaluate identically in batch and in Structured Streaming, so each key
  * declares the BATCH plan (oracle-able in DuckDB) while the `twin*`
  * builders expose the same computation over a streaming DataFrame with
  * watermarks, and [[perBatch]] streams any stateless batch operator.
  * The one deliberate divergence: streaming dedup uses
  * dropDuplicatesWithinWatermark, which equals the batch distinct only for
  * replays arriving within the watermark horizon — the price of a state
  * store that actually evicts. StreamingSpec drives the twins
  * through MemoryStream and proves watermark/late-data/stateful behavior —
  * the part a batch oracle cannot see.
  *
  * 100 TB notes: tumbling/sliding windows are plain hash aggregations keyed
  * by (window, key) — partial+final, shuffle-parallel. session_window is
  * Spark's native session operator (sort-merge within user partitions).
  * The streaming twins keep state bounded via watermarks.
  */
object Streaming {

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // tumbling 1 h windows × event_type
    "stream_tumbling" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"),
          col("sum_value"))
        .orderBy("ws", "event_type")),

    // sliding 1 h window every 15 min — each event lands in 4 windows
    "stream_sliding" -> ((s, d) =>
      events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("ws"), col("n"))
        .orderBy("ws")),

    // per-user sessions, 30 min inactivity gap; window = [first, last+gap)
    "stream_session" -> ((s, d) =>
      events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("w.start").as("sess_start"),
          col("w.end").as("sess_end"), col("n"))
        .orderBy("user_id", "sess_start")),

    // top-3 event types per tumbling hour — the windowed-leaderboard shape.
    // Streaming form: the windowed COUNT runs incrementally with a
    // watermark (append mode); the RANK stage runs per emitted window in
    // foreachBatch (ranking is not incremental — each closed window ranks
    // once, exactly like this batch plan ranks all of them;
    // StreamingSpec.twinWindowTopK drives it and pins equality)
    "stream_topk_per_window" -> ((s, d) => {
      val counts = events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("ws"), col("event_type"), col("n"))
      val w = Window.partitionBy("ws")
        .orderBy(col("n").desc, col("event_type").asc)
      counts.withColumn("rk", row_number().over(w)).filter(col("rk") <= 3)
        .orderBy("ws", "rk")
    }),

    // replayed stream dedup: batch twin of dropDuplicates("event_id") over
    // a doubled input (identical duplicate rows ⇒ deterministic survivor)
    "stream_dedup_ids" -> ((s, d) => {
      val ev = events(s, d).select("event_id", "event_type", "value")
      ev.unionByName(ev)
        .dropDuplicates("event_id")
        .orderBy("event_id")
    }),

    // stream-stream join (batch twin): each purchase joined to the same
    // user's clicks in the preceding hour. The streaming form needs
    // watermarks on BOTH sides plus the time-range join condition so each
    // side's buffer evicts (twinStreamJoin below, driven by StreamingSpec).
    // The plan is a shuffle equi-join on user_id with the time band as a
    // post-filter — candidate pairs bounded per user, never a cartesian.
    "stream_stream_join" -> ((s, d) => {
      val ev = events(s, d)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          col("ts").as("p_ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("c_uid"),
          col("ts").as("c_ts"))
      p.join(c, col("user_id") === col("c_uid") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
        .groupBy("p_id")
        .agg(count(lit(1)).as("n_clicks"), max(col("c_id")).as("last_click"))
        .orderBy("p_id")
    }),

    // running per-user counts (streaming: update-mode groupBy state)
    "stream_stateful_counts" -> ((s, d) =>
      events(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy("user_id"))
  )

  val oracles: Map[String, String] = Map(
    "stream_tumbling" ->
      s"""SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n,
         |${dsumSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY ws, event_type""".stripMargin,
    "stream_topk_per_window" ->
      """WITH c AS (SELECT date_trunc('hour', ts) AS ws, event_type,
        |    COUNT(*) AS n FROM events GROUP BY 1, 2)
        |SELECT ws, event_type, n, rk FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY ws
        |    ORDER BY n DESC, event_type ASC) AS INTEGER) AS rk FROM c) t
        |WHERE rk <= 3 ORDER BY ws, rk""".stripMargin,
    "stream_sliding" ->
      """SELECT time_bucket(INTERVAL '15 minutes', ts)
        |    - m * INTERVAL '1 minute' AS ws, COUNT(*) AS n
        |FROM events CROSS JOIN (VALUES (0), (15), (30), (45)) o(m)
        |GROUP BY ws ORDER BY ws""".stripMargin,
    "stream_session" ->
      """WITH x AS (SELECT user_id, ts,
        |  CASE WHEN LAG(ts) OVER w IS NULL
        |         OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
        |       THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (SELECT user_id, ts,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid FROM x)
        |SELECT user_id, MIN(ts) AS sess_start,
        |  MAX(ts) + INTERVAL 30 MINUTE AS sess_end, COUNT(*) AS n
        |FROM y GROUP BY user_id, sid
        |ORDER BY user_id, sess_start""".stripMargin,
    "stream_dedup_ids" ->
      """SELECT DISTINCT event_id, event_type, value FROM (
        |  SELECT event_id, event_type, value FROM events
        |  UNION ALL
        |  SELECT event_id, event_type, value FROM events) t
        |ORDER BY event_id""".stripMargin,
    "stream_stateful_counts" ->
      s"""SELECT user_id, COUNT(*) AS n_events,
         |${dsumSql("value")} AS sum_value
         |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_stream_join" ->
      """SELECT p.event_id AS p_id, COUNT(*) AS n_clicks,
        |MAX(c.event_id) AS last_click
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |GROUP BY p.event_id ORDER BY p_id""".stripMargin
  )

  // ——— streaming twins (driven by StreamingSpec via MemoryStream) ———

  /** Same tumbling aggregation over a streaming frame, watermarked. */
  def twinTumbling(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))

  /** Streaming windowed top-k. The COUNT stage is incremental (append
    * mode emits a window's rows exactly once, when the watermark closes
    * it); RANKING is not an incremental operation, so each batch ranks
    * the windows it received in foreachBatch. Correct because every
    * (window, type) row of one window closes on the SAME watermark
    * advance — one window never splits across micro-batches, so the
    * per-window rank sees complete windows, exactly like the batch plan.
    * `emit` receives each batch's ranked rows (a real pipeline writes a
    * sink here). */
  def twinWindowTopK(stream: DataFrame, k: Int)(
      emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    val counts = stream.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
    counts.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) =>
        val w = Window.partitionBy("ws")
          .orderBy(col("n").desc, col("event_type").asc)
        emit(batch.withColumn("rk", row_number().over(w))
          .filter(col("rk") <= k))
    }
  }

  /** Streaming dedup by id. dropDuplicatesWithinWatermark is the form
    * whose state store actually evicts on watermark advance — plain
    * dropDuplicates("event_id") (without the event-time column in the key
    * set) would keep every id forever and grow without bound. */
  def twinDedup(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming session windows per user. */
  def twinSession(stream: DataFrame): DataFrame =
    stream.withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("sess_start"),
        col("w.end").as("sess_end"), col("n"))

  /** True stream-stream inner join: both sides watermarked, the join
    * condition time-bounds the match, so Spark can size and EVICT both
    * sides' state buffers — without the band + watermarks a stream-stream
    * join must buffer each side forever. */
  def twinStreamJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("event_id").as("c_id"), col("user_id").as("c_uid"),
        col("ts").as("c_ts"))
    p.join(c, col("user_id") === col("c_uid") &&
      col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
      col("c_ts") <= col("p_ts"))
  }

  /** Streaming running per-user counts (update mode). */
  def twinStatefulCounts(stream: DataFrame): DataFrame =
    stream.groupBy("user_id").agg(count(lit(1)).as("n_events"))

  /** The one streaming form of every STATELESS batch operator — the
    * index screens (signature, substring, dHash, line), the IVF probes,
    * quality classify, split assign, DSIR weights, the count-min grow
    * and the drift monitor: each micro-batch runs `batchOp` — the batch
    * operator itself, verbatim — inside `foreachBatch`, and `emit`
    * receives its result (a real pipeline writes a sink here).
    *
    * The stream-STATIC contract, stated once: every operator is
    * stateless per micro-batch, so there is no state store to grow
    * whatever the stream's length — the only state is the persisted
    * index, model, sketch or reference the operator reads, and it
    * refreshes on its own cadence (appending accepted survivors,
    * re-fitting, or a rebuild). The snapshot a micro-batch sees is the
    * last refresh, the standard freshness trade of every stream-static
    * join. Duplicates arriving in the SAME micro-batch are caught by the
    * operator's intra-shard rule; duplicates split across batches are
    * the refresh cadence's job — the one documented divergence from a
    * single batch run. StreamingSpec pins multi-batch ≡ batch-union for
    * every operator above. */
  def perBatch(stream: DataFrame)(batchOp: DataFrame => DataFrame)(
      emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) => emit(batchOp(batch))
    }

  /** Streaming twin of `Overlap.runningSum` (r11) — the global-order
    * cumulative sum continued across micro-batches: each batch runs the
    * BATCH engine verbatim (bucket + two-phase prefix sum, no
    * single-partition window anywhere), shifted by the persisted running
    * offset of everything before it; the offset then advances by the
    * batch total. The one-row offset frame is the only state — the
    * index-file discipline of the [[perBatch]] screens applied to an
    * aggregate (zero state store; `offsetPath` advances once per batch
    * through the crash-safe staged swap below — EXACT under foreachBatch
    * retries: a batch whose swap already landed re-reads its pre-batch
    * offset from the retained `.bak` generation and skips the re-advance,
    * so emits recompute identically and the sum never double-advances).
    * Correct under the family's standard cadence contract: batches
    * arrive in global `order` (every row of batch b+1 follows every row
    * of batch b — a time-ordered ingest); rows violating the cadence are
    * the ingest's bug, exactly as late lines are for the per-batch line
    * screen. `value` must be an EXACT (decimal/integral) expression — the
    * runningSum contract, and what makes offset addition order-free.
    * Multi-batch ≡ batch-union pinned in StreamingSpec. */
  // ----- crash-safe one-frame state for the foreachBatch twins --------
  // The state at `path` advances once per micro-batch through a staged
  // swap: stage at `path.next`, retire the current generation to
  // `path.bak`, promote — and `.bak` is RETAINED until the next swap.
  // Every single-point crash leaves a readable generation (`.next` is
  // ignorable garbage), and the `__twin_batch_id` column makes a RETRY
  // of the same batch exact, not just at-least-once: a batch whose swap
  // already landed re-reads its PRE-batch state from `.bak` and skips
  // the re-advance — state never double-advances, re-emits are computed
  // from the same inputs as the crashed attempt.

  private def twinStatePaths(spark: SparkSession, path: String) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(conf), p,
      new org.apache.hadoop.fs.Path(path + ".bak"),
      new org.apache.hadoop.fs.Path(path + ".next"))
  }

  /** The state generation a (possibly retried) `batchId` must compute
    * from, `__twin_batch_id` stripped; None before the first advance.
    * Second element: true iff this batch's swap already landed (the
    * retry case — the caller must then SKIP its own advance). */
  private[graft] def readTwinState(spark: SparkSession, path: String,
      batchId: Long): (Option[DataFrame], Boolean) = {
    val (fs, p, bak, _) = twinStatePaths(spark, path)
    if (fs.exists(p)) {
      val cur = spark.read.parquet(path)
      val bid = Option(cur.agg(max(col("__twin_batch_id"))).collect()(0)
        .get(0)).map(_.asInstanceOf[Long])
      if (bid.contains(batchId))
        (if (fs.exists(bak))
          Some(spark.read.parquet(path + ".bak").drop("__twin_batch_id"))
         else None, true)
      else (Some(cur.drop("__twin_batch_id")), false)
    } else if (fs.exists(bak))
      (Some(spark.read.parquet(path + ".bak").drop("__twin_batch_id")),
        false)
    else (None, false)
  }

  /** Advance the state to `df` for `batchId` via the staged swap. */
  private[graft] def writeTwinState(df: DataFrame, path: String,
      batchId: Long): Unit = {
    val spark = df.sparkSession
    val (fs, p, bak, next) = twinStatePaths(spark, path)
    df.withColumn("__twin_batch_id", lit(batchId))
      .coalesce(1).write.mode("overwrite").parquet(next.toString)
    // Retire the current generation ONLY when it exists. If a prior
    // crash landed between `p -> bak` and `next -> p`, then `.bak` is
    // the ONLY committed generation — deleting it here would leave a
    // window (before the promote below) with NO readable state, and the
    // re-promoted batch would read a null pre-batch offset. Keeping the
    // existing `.bak` as the retired generation preserves the
    // invariant: every single-point crash leaves a readable generation.
    if (fs.exists(p)) {
      fs.delete(bak, true) // the generation before last — no longer needed
      require(fs.rename(p, bak), s"twin state swap: $p -> $bak failed")
    }
    require(fs.rename(next, p), s"twin state swap: $next -> $p failed")
  }

  def twinRunningSum(stream: DataFrame,
      bucketKey: org.apache.spark.sql.Column,
      order: Seq[org.apache.spark.sql.Column],
      value: org.apache.spark.sql.Column, out: String, offsetPath: String)(
      emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        runningSumBatchStep(batch, batchId, bucketKey, order, value, out,
          offsetPath)(emit)
    }

  /** One [[twinRunningSum]] micro-batch — split out (r12, the
    * [[sessionizeBatchStep]] pattern) so the retry pin can re-invoke a
    * batch directly (a foreachBatch retry IS a second call with the
    * same batchId). */
  private[graft] def runningSumBatchStep(batch: DataFrame, batchId: Long,
      bucketKey: org.apache.spark.sql.Column,
      order: Seq[org.apache.spark.sql.Column],
      value: org.apache.spark.sql.Column, out: String, offsetPath: String)(
      emit: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    // the exact batch total and the emitted shift both need the
    // batch twice — pin once (micro-batch-sized)
    val pinned = batch.localCheckpoint()
    val summed = graft.api.Overlap.runningSum(pinned, bucketKey,
      order, value, out)
    val sumType = summed.schema(out).dataType
    val (state, alreadyAdvanced) =
      readTwinState(spark, offsetPath, batchId)
    val prior: Any = state.map(_.collect()(0).get(0)).orNull
    // cast the shift back to the batch engine's output type: decimal
    // addition re-narrows scale at max precision, and the twin's
    // contract is BIT-identity with the batch-union result
    val shifted =
      if (prior == null) summed
      else summed.withColumn(out,
        (col(out) + lit(prior).cast(sumType)).cast(sumType))
    emit(shifted)
    // advance the offset LAST (see the state-helper contract):
    // new = prior + batch sum; a retry whose swap already landed
    // re-emits from the pre-batch offset and must not re-advance
    if (!alreadyAdvanced) {
      val batchTotal = pinned.agg(sum(value).cast(sumType)).collect()(0)
      writeTwinState(spark.range(1).select(
        (coalesce(lit(prior).cast(sumType), lit(0).cast(sumType)) +
          coalesce(lit(batchTotal.get(0)).cast(sumType),
            lit(0).cast(sumType))).as("running_total")),
        offsetPath, batchId)
    }
    // release the per-batch pin (generation discipline — a long
    // stream would otherwise accumulate one persisted RDD per batch)
    graft.api.TextDedup.releaseCheckpoint(pinned)
  }

  /** Streaming twin of `Overlap.rollingRows` for TRAILING frames (r11)
    * — the global-order rolling window continued across micro-batches:
    * each batch unions the persisted TAIL of everything before it (the
    * last `before` rows in `order` — dask's map_overlap halo carried
    * across batches as state), runs the batch bucket+halo engine
    * verbatim over the union, drops the tail rows' outputs (they were
    * emitted by their own batch), then advances the tail. Trailing
    * frames only (`after` would need FUTURE rows no stream has yet —
    * callers needing centered frames buffer downstream); the tail frame
    * is the only state — `before` rows, advanced once per batch through
    * the crash-safe staged swap (exact under retries — see the state
    * helpers). Cadence
    * contract and emit semantics as [[twinRunningSum]]. Multi-batch ≡
    * batch-union pinned in StreamingSpec. */
  def twinRollingRows(stream: DataFrame,
      bucketKey: org.apache.spark.sql.Column,
      order: Seq[org.apache.spark.sql.Column], before: Int,
      tailPath: String)(
      aggs: org.apache.spark.sql.expressions.WindowSpec =>
        Seq[org.apache.spark.sql.Column])(
      emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    require(before >= 0, "before must be >= 0")
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        rollingRowsBatchStep(batch, batchId, bucketKey, order, before,
          tailPath)(aggs)(emit)
    }
  }

  /** One [[twinRollingRows]] micro-batch — split out (r12) for the
    * direct retry pin, as [[sessionizeBatchStep]]. */
  private[graft] def rollingRowsBatchStep(batch: DataFrame, batchId: Long,
      bucketKey: org.apache.spark.sql.Column,
      order: Seq[org.apache.spark.sql.Column], before: Int,
      tailPath: String)(
      aggs: org.apache.spark.sql.expressions.WindowSpec =>
        Seq[org.apache.spark.sql.Column])(
      emit: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    val pinned = batch.localCheckpoint()
    val tagged = pinned.withColumn("__tail", lit(false))
    val (state, alreadyAdvanced) =
      readTwinState(spark, tailPath, batchId)
    val unioned = state match {
      case Some(tail) =>
        tail.withColumn("__tail", lit(true)).unionByName(tagged)
      case None => tagged
    }
    val rolled = graft.api.Overlap.rollingRows(unioned, bucketKey,
      order, before, after = 0)(aggs)
    emit(rolled.filter(!col("__tail")).drop("__tail"))
    // advance the tail LAST (see the state-helper contract): the
    // last `before` rows of tail ∪ batch — a TakeOrdered, never a
    // full sort. Collected (≤ before rows, the Overlap
    // bounded-scalar rule) so the staged write never reads the path
    // it replaces.
    if (before > 0 && !alreadyAdvanced) {
      val tailRows = unioned.drop("__tail")
        .orderBy(order.map(_.desc): _*).limit(before)
        .orderBy(order: _*).collect()
      if (tailRows.nonEmpty)
        writeTwinState(spark.createDataFrame(
            java.util.Arrays.asList(tailRows: _*), pinned.schema),
          tailPath, batchId)
    }
    graft.api.TextDedup.releaseCheckpoint(pinned)
  }

  /** Streaming twin of `Overlap.rollingRange` for TRAILING value frames
    * (r11) — the rolling-'24h'-style window continued across
    * micro-batches, completing the Overlap twin family (runningSum /
    * rollingRows / rollingRange): the persisted tail is every prior row
    * within `rangeBefore` of the stream's max key (value-predicate halo
    * — rows, not a count, so the state is data-rate × window sized and
    * stays a parquet frame, never a collect). Each batch unions the
    * tail in, runs the batch engine verbatim at rangeAfter = 0, drops
    * tail outputs, then advances the tail through the crash-safe
    * staged swap (exact under retries — see the state helpers; the
    * staged `.next` write also never overwrites the path the union plan
    * is reading). Trailing
    * only, cadence contract and emit semantics as [[twinRunningSum]];
    * an empty batch leaves the tail untouched. Multi-batch ≡
    * batch-union pinned in StreamingSpec. */
  def twinRollingRange(stream: DataFrame,
      key: org.apache.spark.sql.Column, rangeBefore: Long,
      tailPath: String)(
      aggs: org.apache.spark.sql.expressions.WindowSpec =>
        Seq[org.apache.spark.sql.Column])(
      emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    require(rangeBefore >= 0, "rangeBefore must be >= 0")
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        rollingRangeBatchStep(batch, batchId, key, rangeBefore,
          tailPath)(aggs)(emit)
    }
  }

  /** One [[twinRollingRange]] micro-batch — split out (r12) for the
    * direct retry pin, as [[sessionizeBatchStep]]. */
  private[graft] def rollingRangeBatchStep(batch: DataFrame, batchId: Long,
      key: org.apache.spark.sql.Column, rangeBefore: Long,
      tailPath: String)(
      aggs: org.apache.spark.sql.expressions.WindowSpec =>
        Seq[org.apache.spark.sql.Column])(
      emit: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    val pinned = batch.localCheckpoint()
    val tagged = pinned.withColumn("__tail", lit(false))
    val (state, alreadyAdvanced) =
      readTwinState(spark, tailPath, batchId)
    val unioned = state match {
      case Some(tail) =>
        tail.withColumn("__tail", lit(true)).unionByName(tagged)
      case None => tagged
    }
    val rolled = graft.api.Overlap.rollingRange(unioned, key,
      rangeBefore, rangeAfter = 0L)(aggs)
    emit(rolled.filter(!col("__tail")).drop("__tail"))
    // advance the tail LAST (see the state-helper contract): union
    // rows within rangeBefore of the batch max (>= max - rangeBefore
    // — the inclusive RANGE-frame lower edge every future row can
    // reach). The tail is data-rate × window sized, so it stays a
    // staged parquet write, never a collect — the union plan reads
    // the RETIRED generation (`.bak` after the swap), not the path
    // being written.
    val mx = pinned.agg(max(key.cast("long"))).collect()(0)
    if (!mx.isNullAt(0) && !alreadyAdvanced) {
      // the staged write lands at `.next` and the swap renames only
      // AFTER the write job finished, so the plan's read of the old
      // generation is never pulled out from underneath it
      writeTwinState(unioned.drop("__tail")
          .filter(key.cast("long") >= mx.getLong(0) - rangeBefore),
        tailPath, batchId)
    }
    graft.api.TextDedup.releaseCheckpoint(pinned)
  }

  /** Streaming twin of the global gaps-and-islands sessionizer (r12 —
    * the `window_sessionize_global` composition continued across
    * micro-batches): per batch, gap flags come from the batch
    * bucket+halo engine (`Overlap.rollingRows` lag-1) with the FIRST
    * batch row's flag decided by the persisted previous key, the
    * session id from the batch two-phase prefix sum
    * (`Overlap.runningSum`) shifted by the persisted session offset.
    * State is ONE row — (prev_key, session_offset): the last key seen
    * and the last session id assigned — advanced once per batch through
    * the crash-safe staged swap (EXACT under foreachBatch retries: a
    * batch whose swap landed re-reads its pre-batch generation from
    * `.bak` and skips the re-advance — the [[twinRunningSum]]
    * discipline). Sessionize is incremental-friendly because a session
    * boundary only ever looks ONE row back — the whole halo the state
    * must carry is a single key.
    *
    * Cadence contract as the other twins: batches arrive in global
    * `key` order (`tieBreak` completes the total order within a batch);
    * an empty batch leaves the state untouched. `key` must cast to
    * long, NULL-free (the Overlap fail-fast applies); a boundary tie
    * (batch head equal to the stored prev key) lands in the same
    * session, gap 0 being ≤ `gap`. Output: the batch's columns plus
    * `out` = the 1-based global session id. Multi-batch ≡ batch-union
    * pinned in StreamingSpec, including a retry case. */
  def twinSessionize(stream: DataFrame,
      key: org.apache.spark.sql.Column,
      tieBreak: Seq[org.apache.spark.sql.Column], gap: Long, out: String,
      statePath: String)(
      emit: DataFrame => Unit)
      : org.apache.spark.sql.streaming.DataStreamWriter[
        org.apache.spark.sql.Row] = {
    require(gap >= 0, "gap must be >= 0")
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        sessionizeBatchStep(batch, batchId, key, tieBreak, gap, out,
          statePath)(emit)
    }
  }

  /** One [[twinSessionize]] micro-batch — split out so the retry pin
    * can re-invoke a batch directly (a foreachBatch retry IS exactly a
    * second call with the same batchId). */
  private[graft] def sessionizeBatchStep(batch: DataFrame, batchId: Long,
      key: org.apache.spark.sql.Column,
      tieBreak: Seq[org.apache.spark.sql.Column], gap: Long, out: String,
      statePath: String)(emit: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    val pinned = batch.localCheckpoint()
    val keyed = pinned.withColumn("__sess_k", key.cast("long"))
    val (state, alreadyAdvanced) =
      readTwinState(spark, statePath, batchId)
    val (prevKey, offset): (Option[Long], Long) = state match {
      case Some(st) =>
        val r = st.collect()(0) // one-row state frame by contract
        (Some(r.getLong(0)), r.getLong(1))
      case None => (None, 0L)
    }
    val order = col("__sess_k") +: tieBreak
    // lag-1 through the halo'd batch engine; only the batch's very
    // first row in the total order has no predecessor — that is
    // where the persisted prev key substitutes
    val flagged = graft.api.Overlap.rollingRows(keyed,
        col("__sess_k"), order, before = 1, after = 0)(w0 => Seq(
      first(col("__sess_k")).over(w0.rowsBetween(-1, -1))
        .as("__sess_prev")))
      .withColumn("__sess_prev",
        coalesce(col("__sess_prev"),
          prevKey.map(lit(_)).getOrElse(lit(null))))
      .withColumn("__sess_new",
        when(col("__sess_prev").isNull ||
          col("__sess_k") - col("__sess_prev") > gap, 1L)
          .otherwise(0L))
    val summed = graft.api.Overlap.runningSum(flagged,
        col("__sess_k"), order, col("__sess_new"), out)
      .withColumn(out, col(out) + lit(offset))
    emit(summed.drop("__sess_k", "__sess_prev", "__sess_new"))
    // advance LAST (the state-helper contract): the new prev key is
    // the batch max, the new offset the last session id assigned —
    // both off the emitted frame, a two-scalar bounded collect
    if (!alreadyAdvanced) {
      val stats = summed
        .agg(max(col("__sess_k")), max(col(out))).collect()(0)
      if (!stats.isNullAt(0))
        writeTwinState(spark.range(1).select(
            lit(stats.getLong(0)).as("prev_key"),
            lit(stats.getLong(1)).as("session_offset")),
          statePath, batchId)
    }
    graft.api.TextDedup.releaseCheckpoint(pinned)
  }

  /** CUSTOM state via flatMapGroupsWithState (the escape hatch beyond
    * built-in aggregations): running count of distinct event types per
    * user. State per key is domain-bounded (the type set), and the KEY
    * SPACE is bounded too: idle users expire via an event-time timeout an
    * hour past the watermark — without it, an ever-growing user space
    * would grow the state store forever. */
  def twinDistinctTypesState(stream: DataFrame): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    stream.withWatermark("ts", "10 minutes")
      // the watermarked event-time column must REACH the stateful operator
      .selectExpr("user_id", "event_type", "ts")
      .as[(Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[String], (Long, Int)](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, rows: Iterator[(Long, String, java.sql.Timestamp)],
            state: GroupState[Seq[String]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val seen = (state.getOption.getOrElse(Seq.empty) ++
              rows.map(_._2)).distinct
            state.update(seen)
            state.setTimeoutTimestamp(
              state.getCurrentWatermarkMs() + 3600 * 1000L)
            Iterator.single((user, seen.size))
          }
      }
      .toDF("user_id", "n_distinct_types")
  }
}
