package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.streaming.DataStreamWriter
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
  * watermarks, [[perBatch]] streams any stateless batch operator, and
  * [[withState]] streams a batch operator whose cross-batch state is one
  * persisted frame (running sum, trailing windows, sessionizer), stating
  * the cadence and retry contracts once for all of them.
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
      emit: DataFrame => Unit): DataStreamWriter[Row] = {
    twinTumbling(stream).writeStream.outputMode("append").foreachBatch {
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
      emit: DataFrame => Unit): DataStreamWriter[Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) => emit(batchOp(batch))
    }

  /** One micro-batch of a [[withState]] stream: (the pinned batch, the
    * state generation it computes from — None before the first advance)
    * to (the frame to emit, the next state — None leaves the state as it
    * is). The next state is a thunk: it runs after the emit, and only
    * when this batch has not advanced the state already. */
  type StateStep =
    (DataFrame, Option[DataFrame]) => (DataFrame, () => Option[DataFrame])

  /** The one streaming form of a batch operator whose cross-batch state
    * is ONE persisted frame at `statePath` — the global-order running sum
    * ([[runningSum]]), the trailing row and value windows
    * ([[rollingRows]], [[rollingRange]]) and the gaps-and-islands
    * sessionizer ([[sessionize]]). Each micro-batch runs the BATCH engine
    * verbatim through `step`, over the batch and the state; `emit`
    * receives the result (a real pipeline writes a sink here). There is
    * no state store: the frame is the whole state, sized by the step
    * (one row, or a halo of trailing rows).
    *
    * Cadence contract: batches arrive in the step's global order (every
    * row of batch b+1 follows every row of batch b — a time-ordered
    * ingest). Rows that violate it are the ingest's bug, exactly as late
    * lines are for the per-batch line screen.
    *
    * Retry contract: the state advances LAST, once per batch, through
    * the crash-safe staged swap of [[writeTwinState]], and a retried
    * batch is EXACT, not just at-least-once: a batch whose swap already
    * landed re-reads its pre-batch generation and skips the re-advance,
    * so its re-emit is computed from the same inputs as the crashed
    * attempt and the state never double-advances. Every pin a batch
    * makes — its own and the engines' — is released once the batch
    * finishes, so a long stream holds no executor memory per batch.
    * StreamingSpec pins multi-batch ≡ batch-union for every step, and the
    * retry case. */
  def withState(stream: DataFrame, statePath: String)(step: StateStep)(
      emit: DataFrame => Unit): DataStreamWriter[Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        stateBatch(batch, batchId, statePath)(step)(emit)
    }

  /** One [[withState]] micro-batch (a foreachBatch retry is exactly a
    * second call with the same `batchId`). */
  private[graft] def stateBatch(batch: DataFrame, batchId: Long,
      statePath: String)(step: StateStep)(emit: DataFrame => Unit): Unit =
    graft.util.Pin.scope { p =>
      val (prior, advanced) =
        readTwinState(batch.sparkSession, statePath, batchId)
      val (out, next) = step(p(batch), prior)
      emit(p.adopt(out))
      if (!advanced) next().foreach(writeTwinState(_, statePath, batchId))
    }

  // ----- crash-safe one-frame state for withState --------------------
  // The state at `path` advances once per micro-batch through a staged
  // swap: stage at `path.next`, retire the current generation to
  // `path.bak`, promote — and `.bak` is RETAINED until the next swap.
  // Every single-point crash leaves a readable generation (`.next` is
  // ignorable garbage); `.bak` and the `__twin_batch_id` column are what
  // make a retry exact (withState's retry contract).

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

  /** The global-order cumulative sum (`Overlap.runningSum`, r11) as a
    * [[withState]] step: each batch runs the batch engine (bucket +
    * two-phase prefix sum, no single-partition window anywhere), shifted
    * by the running offset of everything before it; the offset — the
    * one-row state — then advances by the batch total. `value` must be
    * an EXACT (decimal/integral) expression — the runningSum contract,
    * and what makes offset addition order-free. */
  def runningSum(bucketKey: Column, order: Seq[Column], value: Column,
      out: String): StateStep =
    (batch, state) => {
      val summed = graft.api.Overlap.runningSum(batch, bucketKey, order,
        value, out)
      val sumType = summed.schema(out).dataType
      val prior: Any = state.map(_.collect()(0).get(0)).orNull
      // cast the shift back to the batch engine's output type: decimal
      // addition re-narrows scale at max precision, and the contract is
      // BIT-identity with the batch-union result
      val shifted =
        if (prior == null) summed
        else summed.withColumn(out,
          (col(out) + lit(prior).cast(sumType)).cast(sumType))
      (shifted, () => {
        val batchTotal = batch.agg(sum(value).cast(sumType)).collect()(0)
        Some(batch.sparkSession.range(1).select(
          (coalesce(lit(prior).cast(sumType), lit(0).cast(sumType)) +
            coalesce(lit(batchTotal.get(0)).cast(sumType),
              lit(0).cast(sumType))).as("running_total")))
      })
    }

  /** `Overlap.rollingRows` for TRAILING frames (r11) as a [[withState]]
    * step: each batch unions the state — the last `before` rows in
    * `order`, dask's map_overlap halo carried across batches — runs the
    * batch bucket+halo engine over the union and drops the tail rows'
    * outputs (they were emitted by their own batch). Trailing frames
    * only: `after` would need FUTURE rows no stream has yet — callers
    * needing centered frames buffer downstream. */
  def rollingRows(bucketKey: Column, order: Seq[Column], before: Int)(
      aggs: WindowSpec => Seq[Column]): StateStep = {
    require(before >= 0, "before must be >= 0")
    (batch, state) => {
      val unioned = withTail(batch, state)
      val rolled = graft.api.Overlap.rollingRows(unioned, bucketKey,
        order, before, after = 0)(aggs)
      (rolled.filter(!col("__tail")).drop("__tail"), () => {
        // the last `before` rows of tail ∪ batch — a TakeOrdered, never a
        // full sort. Collected (≤ before rows, the Overlap bounded-scalar
        // rule) so the staged write never reads the path it replaces.
        val rows = if (before == 0) Array.empty[Row]
          else unioned.drop("__tail").orderBy(order.map(_.desc): _*)
            .limit(before).orderBy(order: _*).collect()
        if (rows.isEmpty) None
        else Some(batch.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), batch.schema))
      })
    }
  }

  /** `Overlap.rollingRange` for TRAILING value frames (r11) — the
    * rolling-'24h'-style window — as a [[withState]] step: the state is
    * every prior row within `rangeBefore` of the stream's max key (a
    * value-predicate halo — rows, not a count, so it is data-rate ×
    * window sized and stays a parquet frame, never a collect). Each
    * batch unions it in, runs the batch engine at rangeAfter = 0 and
    * drops the tail rows' outputs; an empty batch leaves the tail as it
    * is. */
  def rollingRange(key: Column, rangeBefore: Long)(
      aggs: WindowSpec => Seq[Column]): StateStep = {
    require(rangeBefore >= 0, "rangeBefore must be >= 0")
    (batch, state) => {
      val unioned = withTail(batch, state)
      val rolled = graft.api.Overlap.rollingRange(unioned, key,
        rangeBefore, rangeAfter = 0L)(aggs)
      (rolled.filter(!col("__tail")).drop("__tail"), () => {
        // union rows within rangeBefore of the batch max (>= max -
        // rangeBefore — the inclusive RANGE-frame lower edge every
        // future row can reach); the staged write lands at `.next` and
        // renames only after the write job finished, so the union plan's
        // read of the old generation is never pulled out from under it
        val mx = batch.agg(max(key.cast("long"))).collect()(0)
        if (mx.isNullAt(0)) None
        else Some(unioned.drop("__tail")
          .filter(key.cast("long") >= mx.getLong(0) - rangeBefore))
      })
    }
  }

  /** The batch tagged `__tail = false` after the state's rows tagged
    * `true` — the halo'd input of the two rolling steps. */
  private def withTail(batch: DataFrame,
      state: Option[DataFrame]): DataFrame = {
    val tagged = batch.withColumn("__tail", lit(false))
    state.fold(tagged)(_.withColumn("__tail", lit(true))
      .unionByName(tagged))
  }

  /** The global gaps-and-islands sessionizer (r12 — the
    * `window_sessionize_global` composition) as a [[withState]] step:
    * gap flags come from the batch bucket+halo engine
    * (`Overlap.rollingRows` lag-1) with the FIRST batch row's flag
    * decided by the stored previous key, the session id from the batch
    * two-phase prefix sum (`Overlap.runningSum`) shifted by the stored
    * session offset. The state is ONE row — (prev_key, session_offset):
    * a session boundary only ever looks one row back, so the whole halo
    * is a single key. `tieBreak` completes the `key` order within a
    * batch, and an empty batch leaves the state as it is; `key` must
    * cast to long, NULL-free (the Overlap fail-fast applies); a boundary
    * tie (batch head equal to the stored prev key) lands in the same
    * session, gap 0 being ≤ `gap`. Output: the batch's columns plus
    * `out` = the 1-based global session id. */
  def sessionize(key: Column, tieBreak: Seq[Column], gap: Long,
      out: String): StateStep = {
    require(gap >= 0, "gap must be >= 0")
    (batch, state) => {
      val keyed = batch.withColumn("__sess_k", key.cast("long"))
      val (prevKey, offset) = state.fold((Option.empty[Long], 0L)) { st =>
        val r = st.collect()(0) // one-row state frame by contract
        (Some(r.getLong(0)), r.getLong(1))
      }
      val order = col("__sess_k") +: tieBreak
      // lag-1 through the halo'd batch engine; only the batch's very
      // first row in the total order has no predecessor — that is where
      // the stored prev key substitutes. The prefix sum re-pins the
      // flags, superseding the lag engine's pin.
      val summed = graft.util.Pin.scope { p =>
        val flagged = p.adopt(graft.api.Overlap.rollingRows(keyed,
            col("__sess_k"), order, before = 1, after = 0)(w0 => Seq(
          first(col("__sess_k")).over(w0.rowsBetween(-1, -1))
            .as("__sess_prev"))))
          .withColumn("__sess_prev",
            coalesce(col("__sess_prev"),
              prevKey.map(lit(_)).getOrElse(lit(null))))
          .withColumn("__sess_new",
            when(col("__sess_prev").isNull ||
              col("__sess_k") - col("__sess_prev") > gap, 1L)
              .otherwise(0L))
        p.keep(graft.api.Overlap.runningSum(flagged,
          col("__sess_k"), order, col("__sess_new"), out))
      }.withColumn(out, col(out) + lit(offset))
      (summed.drop("__sess_k", "__sess_prev", "__sess_new"), () => {
        // the new prev key is the batch max, the new offset the last
        // session id assigned — a two-scalar bounded collect
        val stats = summed
          .agg(max(col("__sess_k")), max(col(out))).collect()(0)
        if (stats.isNullAt(0)) None
        else Some(batch.sparkSession.range(1).select(
          lit(stats.getLong(0)).as("prev_key"),
          lit(stats.getLong(1)).as("session_offset")))
      })
    }
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
