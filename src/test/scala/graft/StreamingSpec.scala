package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Streaming

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String)

/** Structured Streaming behavior of the §2.K twins through MemoryStream:
  * watermark advancement, late-data drop (SURVEY stream_late_data),
  * streaming dedup, and update-mode stateful counts. */
class StreamingSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark

  private def t(s: String) = Timestamp.valueOf(s)

  test("tumbling windows close on watermark; late rows are dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streaming.twinTumbling(in.toDF)
      .writeStream.format("memory").queryName("s_tumble")
      .outputMode("append").start()
    try {
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 1, "click"),
        Ev(2, t("2024-01-01 10:30:00"), 1, "click"))
      q.processAllAvailable()
      // nothing emitted yet: watermark has not passed the window end
      assert(spark.table("s_tumble").count() == 0)

      // sentinel far in the future advances the watermark past 11:00
      in.addData(Ev(3, t("2024-01-01 13:00:00"), 2, "view"))
      q.processAllAvailable()
      val closed = spark.table("s_tumble")
        .filter(col("event_type") === "click").collect()
      assert(closed.length == 1 && closed(0).getLong(2) == 2)

      // late click at 10:45 — behind the watermark → dropped
      in.addData(Ev(4, t("2024-01-01 10:45:00"), 1, "click"))
      q.processAllAvailable()
      val after = spark.table("s_tumble")
        .filter(col("event_type") === "click").collect()
      assert(after.length == 1 && after(0).getLong(2) == 2,
        "late row must not reopen or recount the closed window")
    } finally q.stop()
  }

  test("checkpointed restart is exactly-once: closed windows survive a " +
      "stop/start with no loss and no double-count") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val out = SparkFixture.tempDir("graft_eo_out_").toString
    val ckpt = SparkFixture.tempDir("graft_eo_ckpt_").toString
    val in = MemoryStream[Ev]
    def start() = Streaming.twinTumbling(in.toDF)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()

    // run 1: two clicks in [10:00, 11:00); the 13:00 sentinel advances the
    // watermark past the window end so it closes and commits to the sink
    val q1 = start()
    try {
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 1, "click"),
        Ev(2, t("2024-01-01 10:30:00"), 1, "click"),
        Ev(3, t("2024-01-01 13:00:00"), 2, "view"))
      q1.processAllAvailable()
    } finally q1.stop()

    // data arriving while the query is DOWN, then a restart from the same
    // checkpoint: offsets + watermark recover, the new window closes,
    // and the already-committed window must not be re-emitted
    in.addData(
      Ev(4, t("2024-01-01 14:00:00"), 3, "click"),
      Ev(5, t("2024-01-01 14:20:00"), 3, "click"),
      Ev(6, t("2024-01-01 17:00:00"), 2, "view"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val rows = spark.read.parquet(out)
      .filter(col("event_type") === "click")
      .select(col("ws").cast("string"), col("n")).as[(String, Long)]
      .collect().toList.sorted
    assert(rows == List(("2024-01-01 10:00:00", 2L), ("2024-01-01 14:00:00", 2L)),
      s"exactly-once violated: $rows")
  }

  test("streaming dedup by event_id within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streaming.twinDedup(in.toDF)
      .writeStream.format("memory").queryName("s_dedup")
      .outputMode("append").start()
    try {
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 1, "click"),
        Ev(1, t("2024-01-01 10:00:00"), 1, "click"))
      q.processAllAvailable()
      in.addData(Ev(1, t("2024-01-01 10:01:00"), 1, "click"),
        Ev(2, t("2024-01-01 10:02:00"), 1, "view"))
      q.processAllAvailable()
      assert(spark.table("s_dedup").select("event_id")
        .as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming incremental dedup: per-batch screen against the " +
      "persisted signature index equals the batch screen over all " +
      "arrivals; survivors only are emitted") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 120).map(i => s"w$i")
    def doc() = Seq.fill(40)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val corpus = (0L until 30L).map(i => (i, doc()))
    val dir = java.nio.file.Files.createTempDirectory("graft-sigidx-stream")
      .resolve("idx").toString
    graft.api.TextDedup.writeSignatureIndex(corpus.toDF("doc_id", "text"),
      col("doc_id"), col("text"), dir)
    val in = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streaming.perBatch(in.toDF.toDF("doc_id", "text"))(
        graft.api.TextDedup.dedupShardAgainstIndex(_, col("doc_id"),
          col("text"), dir)) {
      batch => emitted.synchronized {
        emitted ++= batch.select("doc_id").collect().map(_.getLong(0))
      }
    }.start()
    try {
      // batch 1: one exact dup of corpus doc 0 + one fresh doc
      val fresh1 = (101L, doc())
      in.addData((100L, corpus(0)._2), fresh1)
      q.processAllAvailable()
      // batch 2: a near-dup of corpus doc 1 (last token swapped), a
      // fresh doc, and an exact INTRA-BATCH dup of that fresh doc —
      // the pair that never meets the index and only the self-screen
      // catches
      val near = {
        val t = corpus(1)._2.split(" "); t(t.length - 1) = "swapped"
        (102L, t.mkString(" "))
      }
      val fresh2 = (103L, doc())
      val intraDup = (104L, fresh2._2)
      in.addData(near, fresh2, intraDup)
      q.processAllAvailable()
      val survivors = emitted.synchronized(emitted.toSet)
      assert(!survivors.contains(100L), "exact index dup must not survive")
      assert(!survivors.contains(102L), "near index dup must not survive")
      assert(!survivors.contains(104L),
        "intra-batch dup (never in the index) must not survive")
      assert(survivors == Set(101L, 103L),
        s"expected survivors {101, 103}, got $survivors")
    } finally q.stop()
  }

  test("streaming PAYLOAD screen: binary block tokens through the same " +
      "twinDedupAgainstIndex — byte-patched copy of an indexed payload " +
      "dropped, fresh payload survives, intra-batch copy dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    def payload() = { val b = new Array[Byte](512); rnd.nextBytes(b); b }
    val corpus = (0L until 10L).map(i => (i, payload()))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-payidx-stream").resolve("idx").toString
    def bt(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), graft.sources.Multimodal
        .payloadBlockTokens(col("payload")).as("bt"))
    graft.api.TextDedup.writeSignatureIndex(
      bt(corpus.toDF("doc_id", "payload")), col("doc_id"), col("bt"),
      dir, shingleWidth = 2)
    val in = MemoryStream[(Long, Array[Byte])]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streaming.perBatch(bt(in.toDF.toDF("doc_id", "payload")))(
        graft.api.TextDedup.dedupShardAgainstIndex(_, col("doc_id"),
          col("bt"), dir, shingleWidth = 2)) {
      batch => emitted.synchronized {
        emitted ++= batch.select("doc_id").collect().map(_.getLong(0))
      }
    }.start()
    try {
      // a byte-patched copy of indexed payload 0 (one flipped byte —
      // the copy exact hashing misses) + a fresh payload
      val patched = corpus(0)._2.clone()
      patched(200) = (patched(200) ^ 0x5a).toByte
      val fresh = payload()
      in.addData((100L, patched), (101L, fresh))
      q.processAllAvailable()
      // an exact intra-batch copy pair of a new payload: only the
      // self-screen can catch it (never met the index)
      val fresh2 = payload()
      in.addData((102L, fresh2), (103L, fresh2.clone()))
      q.processAllAvailable()
      val survivors = emitted.synchronized(emitted.toSet)
      assert(!survivors.contains(100L),
        "byte-patched index near-dup must not survive")
      assert(!survivors.contains(103L),
        "intra-batch payload copy must not survive")
      assert(survivors == Set(101L, 102L),
        s"expected survivors {101, 102}, got $survivors")
    } finally q.stop()
  }

  test("streaming PERCEPTUAL screen (r13): per-batch phash delta screen " +
      "against the persisted band index over multiple batches equals " +
      "the batch screen — single-pixel variant of an indexed image " +
      "dropped, fresh image survives, intra-batch copy dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    def img() = Array.fill(72)(rnd.nextInt(256))
    val corpus = (0L until 10L).map(i => (i, img()))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-phashidx-stream").resolve("idx").toString
    // the index is grown with BOTH cadences (r15): day-0 written, day-1
    // APPENDED — the twin screens against an appended index, the
    // nightly form (append ≡ rebuild is pinned in MultimodalSpec)
    graft.sources.Multimodal.writePhashIndex(
      corpus.take(5).toDF("doc_id", "px"), col("doc_id"), col("px"), dir)
    graft.sources.Multimodal.appendToPhashIndex(
      corpus.drop(5).toDF("doc_id", "px"), col("doc_id"), col("px"), dir)
    val in = MemoryStream[(Long, Array[Int])]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = Streaming.perBatch(in.toDF.toDF("doc_id", "px"))(
        graft.sources.Multimodal.phashDedupShardAgainstIndex(_,
          col("doc_id"), col("px"), dir)) {
      batch => emitted.synchronized {
        emitted ++= batch.select("doc_id").collect().map(_.getLong(0))
      }
    }.start()
    try {
      // a single-pixel variant of indexed image 7 — a doc in the
      // APPENDED half, so the screen provably reads appended rows: one
      // pixel touches at most TWO gradient comparisons (both in its own
      // row → one band), so hamming ≤ 2 and the other three bands are
      // untouched — the pigeonhole band screen is GUARANTEED to catch it
      val variant = corpus(7)._2.clone()
      variant(40) = (variant(40) + 97) % 256
      val fresh = img()
      in.addData((100L, variant), (101L, fresh))
      q.processAllAvailable()
      // an exact intra-batch copy pair of a new image: never met the
      // index — only the intra-shard keep-min screen can cut it
      val fresh2 = img()
      in.addData((102L, fresh2), (103L, fresh2.clone()))
      q.processAllAvailable()
      val survivors = emitted.synchronized(emitted.toSet)
      assert(!survivors.contains(100L),
        "single-pixel variant of an indexed image must not survive")
      assert(!survivors.contains(103L),
        "intra-batch perceptual copy must not survive")
      assert(survivors == Set(101L, 102L),
        s"expected survivors {101, 102}, got $survivors")
      // multi-batch ≡ batch-union: the same four arrivals as ONE batch
      // through the batch step yield the same survivor set
      val all = Seq((100L, variant), (101L, fresh), (102L, fresh2),
        (103L, fresh2.clone()))
      val batchSurvivors = graft.sources.Multimodal
        .phashDedupShardAgainstIndex(all.toDF("doc_id", "px"),
          col("doc_id"), col("px"), dir)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(batchSurvivors == survivors,
        s"batch-union $batchSurvivors != streamed $survivors")
    } finally q.stop()
  }

  test("streaming IVF probe (r14): per-batch top-k against the persisted " +
      "index over multiple batches equals the batch probe — and a query " +
      "arriving after an append sees the grown index") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    val dims = 12
    def vec() = Array.fill(dims)(rnd.nextFloat() * 2 - 1)
    val corpus = (0L until 40L).map(i => (i, vec()))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivfidx-stream").resolve("idx").toString
    graft.api.Similarity.writeIvfIndex(corpus.toDF("id", "emb"),
      col("id"), col("emb"), dir)
    val in = MemoryStream[(Long, Array[Float])]
    val emitted =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val q = Streaming.perBatch(in.toDF.toDF("qid", "qe"))(b =>
        graft.api.Similarity.topKAgainstIvfIndex(b.sparkSession, dir, b,
          k = 3, nprobe = 2)) {
      batch => emitted.synchronized {
        emitted ++= batch.select("qid", "vec_id", "rk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      }
    }.start()
    try {
      // two micro-batches of queries drawn from the indexed set
      val qs = Seq(0L, 7L, 14L, 21L).map(i => (i, corpus(i.toInt)._2))
      in.addData(qs.take(2): _*)
      q.processAllAvailable()
      in.addData(qs.drop(2): _*)
      q.processAllAvailable()
      val streamed = emitted.synchronized(emitted.toSet)
      // multi-batch ≡ batch-union: the same queries as ONE batch call
      val batch = graft.api.Similarity
        .topKAgainstIvfIndex(spark, dir,
          qs.toDF("qid", "qe"), k = 3, nprobe = 2)
        .select("qid", "vec_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(streamed == batch,
        s"streamed $streamed != batch-union $batch")
      // the stream-static freshness contract: a batch arriving AFTER an
      // index append probes the grown index — plant a near-copy of query
      // 0's vector (id 100), append it, re-ask query 0
      val twin = corpus(0)._2.clone(); twin(dims - 1) = twin(dims - 1) * 0.99f
      graft.api.Similarity.appendToIvfIndex(
        Seq((100L, twin)).toDF("id", "emb"), col("id"), col("emb"), dir)
      in.addData((0L, corpus(0)._2))
      q.processAllAvailable()
      val after = emitted.synchronized(emitted.toSet) -- streamed
      assert(after.exists { case (qid, vid, rk) =>
          qid == 0L && vid == 100L && rk == 1 },
        s"post-append probe must surface the planted near-copy: $after")
    } finally q.stop()
  }

  test("streaming TRAINED IVF probe (r14): per-batch top-k against the " +
      "persisted trained index over multiple batches equals the batch " +
      "probe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(61)
    val dims = 12
    val corpus = (0L until 40L).map(i =>
      (i, Array.fill(dims)(rnd.nextFloat() * 2 - 1)))
    val corpusDf = corpus.toDF("id", "emb")
    val cents = corpusDf.orderBy("id").limit(4)
      .withColumn("cid",
        (row_number().over(Window.orderBy("id")) - 1).cast("int"))
      .select(col("cid"), col("emb").as("ce"))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivftr-stream").resolve("idx").toString
    graft.api.Similarity.writeIvfIndexTrained(corpusDf, col("id"),
      col("emb"), cents, dir)
    val in = MemoryStream[(Long, Array[Float])]
    val emitted =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val q = Streaming.perBatch(in.toDF.toDF("qid", "qe"))(b =>
        graft.api.Similarity.topKAgainstIvfIndexTrained(b.sparkSession,
          dir, b, k = 3, nprobe = 2)) {
      batch => emitted.synchronized {
        emitted ++= batch.select("qid", "vec_id", "rk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      }
    }.start()
    try {
      val qs = Seq(0L, 11L, 22L, 33L).map(i => (i, corpus(i.toInt)._2))
      in.addData(qs.take(2): _*)
      q.processAllAvailable()
      in.addData(qs.drop(2): _*)
      q.processAllAvailable()
      val streamed = emitted.synchronized(emitted.toSet)
      val batch = graft.api.Similarity
        .topKAgainstIvfIndexTrained(spark, dir,
          qs.toDF("qid", "qe"), k = 3, nprobe = 2)
        .select("qid", "vec_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed $streamed != batch-union $batch")
    } finally q.stop()
  }

  test("streaming IVF-PQ probe (r15): per-batch ADC top-k against the " +
      "persisted PQ index over multiple batches equals the batch probe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val dims = 16 // m=4 × subDim=4
    val corpus = (0L until 40L).map(i =>
      (i, Array.fill(dims)(rnd.nextFloat() * 2 - 1)))
    val corpusDf = corpus.toDF("id", "emb")
    val cb = graft.api.Similarity.pqSeedCodebook(corpusDf, col("id"),
      col("emb"), m = 4, subDim = 4, k = 8)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivfpq-stream").resolve("idx").toString
    graft.api.Similarity.writeIvfPqIndex(corpusDf, col("id"),
      col("emb"), cb, dir, bits = 4, m = 4, subDim = 4)
    val in = MemoryStream[(Long, Array[Float])]
    val emitted =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val q = Streaming.perBatch(in.toDF.toDF("qid", "qe"))(b =>
        graft.api.Similarity.topKAgainstIvfPqIndex(b.sparkSession, dir, b,
          k = 3, nprobe = 2)) {
      batch => emitted.synchronized {
        emitted ++= batch.select("qid", "vec_id", "rk").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      }
    }.start()
    try {
      val qs = Seq(0L, 9L, 18L, 27L).map(i => (i, corpus(i.toInt)._2))
      in.addData(qs.take(2): _*)
      q.processAllAvailable()
      in.addData(qs.drop(2): _*)
      q.processAllAvailable()
      val streamed = emitted.synchronized(emitted.toSet)
      val batch = graft.api.Similarity
        .topKAgainstIvfPqIndex(spark, dir,
          qs.toDF("qid", "qe"), k = 3, nprobe = 2)
        .select("qid", "vec_id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(streamed.nonEmpty && streamed == batch,
        s"streamed $streamed != batch-union $batch")
    } finally q.stop()
  }

  test("session windows: gap split + [first, last+gap) bounds") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streaming.twinSession(in.toDF)
      .writeStream.format("memory").queryName("s_sess")
      .outputMode("append").start()
    try {
      in.addData(
        Ev(1, t("2024-01-01 10:00:00"), 1, "click"),
        Ev(2, t("2024-01-01 10:10:00"), 1, "click"),
        Ev(3, t("2024-01-01 10:50:00"), 1, "click"))
      q.processAllAvailable()
      in.addData(Ev(9, t("2024-01-01 13:00:00"), 2, "view")) // advance wm
      q.processAllAvailable()
      val sess = spark.table("s_sess").filter(col("user_id") === 1)
        .orderBy("sess_start").collect()
      assert(sess.length == 2)
      assert(sess(0).getTimestamp(1) == t("2024-01-01 10:00:00"))
      assert(sess(0).getTimestamp(2) == t("2024-01-01 10:40:00"))
      assert(sess(0).getLong(3) == 2)
      assert(sess(1).getTimestamp(1) == t("2024-01-01 10:50:00"))
      assert(sess(1).getTimestamp(2) == t("2024-01-01 11:20:00"))
    } finally q.stop()
  }

  test("mapGroupsWithState: custom state accumulates distinct types") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streaming.twinDistinctTypesState(in.toDF)
      .writeStream.format("memory").queryName("s_custom")
      .outputMode("update").start()
    try {
      in.addData(Ev(1, t("2024-01-01 10:00:00"), 1, "click"))
      q.processAllAvailable()
      in.addData(Ev(2, t("2024-01-01 10:01:00"), 1, "click"),
        Ev(3, t("2024-01-01 10:02:00"), 1, "view"))
      q.processAllAvailable()
      val latest = spark.table("s_custom")
        .groupBy("user_id").agg(max("n_distinct_types").as("n"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(latest == Map(1L -> 2), "click+view = 2 distinct types")
    } finally q.stop()
  }

  test("stream-stream join: in-band click matches, out-of-band does not") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val purchases = MemoryStream[Ev]
    val clicks = MemoryStream[Ev]
    val q = Streaming.twinStreamJoin(purchases.toDF, clicks.toDF)
      .writeStream.format("memory").queryName("s_ssjoin")
      .outputMode("append").start()
    try {
      clicks.addData(
        Ev(10, t("2024-01-01 09:30:00"), 1, "click"),  // in the 1 h band
        Ev(11, t("2024-01-01 08:00:00"), 1, "click"),  // too old
        Ev(12, t("2024-01-01 09:45:00"), 2, "click"))  // other user
      purchases.addData(Ev(1, t("2024-01-01 10:00:00"), 1, "purchase"))
      q.processAllAvailable()
      // advance both watermarks so buffered matches flush deterministically
      clicks.addData(Ev(98, t("2024-01-01 13:00:00"), 9, "click"))
      purchases.addData(Ev(99, t("2024-01-01 13:00:00"), 9, "purchase"))
      q.processAllAvailable()
      val joined = spark.table("s_ssjoin")
        .filter(col("p_id") === 1).select("c_id")
        .as[Long].collect().toSeq
      assert(joined == Seq(10L),
        s"purchase 1 must match exactly click 10, got $joined")
    } finally q.stop()
  }

  test("file-source replay of events.parquet matches the batch twin") {
    // the real fixture replayed as a stream (SURVEY §7.4): same ns-ts
    // recipe as Tables.events, streaming aggregation must converge to the
    // batch result once the file is consumed
    import org.apache.spark.sql.functions._
    val batch = graft.util.Tables.events(spark, SparkFixture.sf0001)
    // the file source streams DIRECTORIES; stage the single fixture file
    val dir = SparkFixture.tempDir("graft_replay").toPath
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"${SparkFixture.sf0001}/events.parquet"),
      dir.resolve("events.parquet"))
    val fileSchema = spark.read.parquet(
      s"${SparkFixture.sf0001}/events.parquet").schema
    val raw = spark.readStream
      .schema(fileSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    // same schema dispatch as Tables.events: the driver has shipped ts
    // as ns-as-long and as us TIMESTAMP across rounds
    val stream = fileSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => raw.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp_ntz"))
    }
    val q = Streaming.twinStatefulCounts(stream)
      .writeStream.format("memory").queryName("s_replay")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("s_replay")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = batch.groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == expected,
        "streamed per-user counts diverge from batch")
    } finally q.stop()
  }

  test("file sink with checkpoint: restart resumes, rows are not " +
      "duplicated or lost") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = SparkFixture.tempDir("graft_sink_")
    val (out, ckpt) = (s"$dir/out", s"$dir/ckpt")
    val in = MemoryStream[Ev]
    def start() = in.toDF
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val q1 = start()
    try {
      in.addData(Ev(1, t("2024-01-01 10:00:00"), 1, "click"),
        Ev(2, t("2024-01-01 10:01:00"), 1, "view"))
      q1.processAllAvailable()
    } finally q1.stop()
    // restart against the SAME checkpoint — the sink log must dedupe the
    // committed batch and append only the new one
    val q2 = start()
    try {
      in.addData(Ev(3, t("2024-01-01 10:02:00"), 2, "click"))
      q2.processAllAvailable()
      val ids = spark.read.parquet(out)
        .select("event_id").as[Long].collect().sorted.toSeq
      assert(ids == Seq(1L, 2L, 3L),
        s"file sink must be exactly-once across restart, got $ids")
    } finally q2.stop()
  }

  test("stateful running counts in update mode") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[Ev]
    val q = Streaming.twinStatefulCounts(in.toDF)
      .writeStream.format("memory").queryName("s_state")
      .outputMode("update").start()
    try {
      in.addData(Ev(1, t("2024-01-01 10:00:00"), 1, "click"))
      q.processAllAvailable()
      in.addData(Ev(2, t("2024-01-01 10:05:00"), 1, "click"),
        Ev(3, t("2024-01-01 10:06:00"), 2, "view"))
      q.processAllAvailable()
      val latest = spark.table("s_state")
        .groupBy("user_id").agg(max("n_events").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(latest == Map(1L -> 2L, 2L -> 1L))
    } finally q.stop()
  }

  test("windowed top-k: append-mode counts + foreachBatch rank match the " +
      "batch leaderboard") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.Row
    val in = MemoryStream[Ev]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Timestamp,
      String, Long, Int)]
    val q = Streaming.twinWindowTopK(in.toDF, k = 2) { ranked =>
      got.synchronized {
        got ++= ranked.collect().map { case Row(ws: Timestamp, et: String,
          n: Long, rk: Int) => (ws, et, n, rk) }
      }
    }.start()
    try {
      // hour 10: click ×3, view ×2, error ×1 → top-2 = click, view
      val h10 = Seq("click", "click", "click", "view", "view", "error")
        .zipWithIndex.map { case (et, i) =>
          Ev(i, t(s"2024-01-01 10:0$i:00"), 1, et) }
      in.addData(h10: _*)
      q.processAllAvailable()
      assert(got.isEmpty, "window must not emit before the watermark")
      // sentinel closes hour 10
      in.addData(Ev(99, t("2024-01-01 13:00:00"), 2, "view"))
      q.processAllAvailable()
      val expected = Seq(
        (t("2024-01-01 10:00:00"), "click", 3L, 1),
        (t("2024-01-01 10:00:00"), "view", 2L, 2))
      assert(got.synchronized(got.toSeq) == expected,
        s"got ${got.synchronized(got.toSeq)}")
    } finally q.stop()
  }

  test("streaming substring screen: micro-batches match the batch " +
      "dedupSubstringsAgainstIndex, intra-batch repeats cut by the " +
      "self-rule") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val r = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    val corpus = Seq(
      (1L, s"fa1 fa2 fa3 fa4 $r fa5 fa6"),
      (2L, "ca1 ca2 ca3 ca4 ca5 ca6 ca7 ca8 ca9")
    ).toDF("doc_id", "text")
    val dir = new java.io.File(
      SparkFixture.tempDir("graft_substr_stream_"), "idx").getAbsolutePath
    graft.api.TextDedup.writeSubstringIndex(corpus, col("doc_id"),
      col("text"), dir)
    val in = MemoryStream[(Long, String)]
    val emitted =
      scala.collection.mutable.Map.empty[Long, (Long, String)]
    val q = Streaming.perBatch(in.toDF.toDF("doc_id", "text"))(
        graft.api.TextDedup.dedupSubstringsAgainstIndex(_, col("doc_id"),
          col("text"), dir)) {
      batch => emitted.synchronized {
        batch.collect().foreach(row =>
          emitted(row.getLong(0)) = (row.getLong(2), row.getString(3)))
      }
    }.start()
    try {
      // batch 1: a shifted copy of R (index cut) + a fresh doc
      in.addData((10L, s"gb1 $r gb2 gb3 gb4 gb5 gb6"),
        (11L, "da1 da2 da3 da4 da5 da6 da7 da8"))
      q.processAllAvailable()
      // batch 2: an intra-batch duplicated template — never in the index
      in.addData((12L, "ea1 ea2 ea3 ea4 ea5 ea6 ea7 ea8"),
        (13L, "ea1 ea2 ea3 ea4 ea5 ea6 ea7 ea8"))
      q.processAllAvailable()
      val got = emitted.synchronized(emitted.toMap)
      assert(got(10L) == ((6L, "gb1 gb2 gb3 gb4 gb5 gb6")),
        s"index span not cut: ${got(10L)}")
      assert(got(11L)._1 == 8L, s"fresh doc modified: ${got(11L)}")
      assert(got(12L)._1 == 8L && got(13L) == ((0L, "")),
        s"intra-batch repeat not cut by the self-rule: $got")
    } finally q.stop()
  }

  test("streaming split assign: multi-batch routing equals the batch " +
      "assignment — pure function of (salt, key), zero state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.api.Corpus
    val ids = (1L to 60L).toDF("doc_id")
    val batchSplit = Corpus.splitAssign(ids, col("doc_id")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(batchSplit.values.toSet.size > 1,
      "fixture ids must spread over at least two splits")
    val in = MemoryStream[Long]
    val emitted = scala.collection.mutable.Map.empty[Long, String]
    val q = Streaming.perBatch(in.toDF.toDF("doc_id"))(
        Corpus.splitAssign(_, col("doc_id"))) { batch =>
      emitted.synchronized {
        batch.collect().foreach(r =>
          emitted(r.getLong(0)) = r.getString(1))
      }
    }.start()
    try {
      in.addData(1L to 30L: _*)
      q.processAllAvailable()
      in.addData(31L to 60L: _*)
      q.processAllAvailable()
      val got = emitted.synchronized(emitted.toMap)
      assert(got == batchSplit,
        s"streamed routing diverges from batch:\n$got\nvs\n$batchSplit")
    } finally q.stop()
  }

  test("streaming quality classify: multi-batch scores equal the batch " +
      "path under the same fitted model (stream-static, zero state)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.api.{Corpus, Quality}
    val corpus = Seq(
      (1L, "shiny well written prose with many careful words"),
      (2L, "spam spam spam buy now click here"),
      (3L, "shiny decent paragraph containing actual meaning"),
      (4L, "garbage tokens zzz qqq xxx yyy www")
    ).toDF("doc_id", "text")
    val feats = Corpus.hashFeatures(corpus, col("doc_id"), col("text"))
    val labels = corpus.select(col("doc_id"),
      array_contains(split(col("text"), " "), "shiny").cast("int").as("y"))
    val model = Quality.train(feats, labels, epochs = 2)
    val batchScores = Quality.classify(feats, model).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    val in = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.Map.empty[Long, (Long, Boolean)]
    val q = Streaming.perBatch(in.toDF.toDF("doc_id", "text"))(b =>
        Quality.classify(Corpus.hashFeatures(b, col("doc_id"), col("text")),
          model)) {
      batch => emitted.synchronized {
        batch.collect().foreach(row =>
          emitted(row.getLong(0)) = (row.getLong(1), row.getBoolean(2)))
      }
    }.start()
    try {
      in.addData((1L, "shiny well written prose with many careful words"),
        (2L, "spam spam spam buy now click here"))
      q.processAllAvailable()
      in.addData((3L, "shiny decent paragraph containing actual meaning"),
        (4L, "garbage tokens zzz qqq xxx yyy www"))
      q.processAllAvailable()
      val got = emitted.synchronized(emitted.toMap)
      assert(got == batchScores,
        s"streaming scores diverge from batch:\n$got\nvs\n$batchScores")
    } finally q.stop()
  }

  test("twinDsirWeights: streamed shard weights equal the batch serving " +
      "path under the same static model") {
    val spark = SparkFixture.spark
    import spark.implicits._
    import graft.api.Corpus
    implicit val sqlCtx = spark.sqlContext
    val raw = Seq((1L, "aa bb cc"), (2L, "xx yy zz"), (3L, "aa aa bb"),
      (4L, "zz xx yy yy")).toDF("doc_id", "text")
    val tgt = Seq((9L, "aa bb aa cc")).toDF("doc_id", "text")
    val model = graft.api.Selection.dsirModel(
      Corpus.hashFeatures(raw, col("doc_id"), col("text"), wordNgrams = 2),
      Corpus.hashFeatures(tgt, col("doc_id"), col("text"), wordNgrams = 2),
      buckets = 16).cache()
    val batchW = graft.api.Selection.weightsAgainstModel(
      Corpus.hashFeatures(raw, col("doc_id"), col("text"), wordNgrams = 2),
      model).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val in = MemoryStream[(Long, String)]
    val emitted = scala.collection.mutable.Map.empty[Long, Long]
    val q = Streaming.perBatch(in.toDF.toDF("doc_id", "text"))(b =>
        graft.api.Selection.weightsAgainstModel(Corpus.hashFeatures(b,
          col("doc_id"), col("text"), bucketNibbles = 1, wordNgrams = 2),
          model)) { batch =>
      emitted.synchronized {
        batch.collect().foreach(r => emitted(r.getLong(0)) = r.getLong(1))
      }
    }.start()
    try {
      in.addData((1L, "aa bb cc"), (2L, "xx yy zz"))
      q.processAllAvailable()
      in.addData((3L, "aa aa bb"), (4L, "zz xx yy yy"))
      q.processAllAvailable()
      val got = emitted.synchronized(emitted.toMap)
      assert(got == batchW,
        s"streaming weights diverge from batch:\n$got\nvs\n$batchW")
    } finally { q.stop(); model.unpersist(); () }
  }

  test("twinCmsGrow: streamed cell appends converge to the one-batch " +
      "sketch; state is the persisted d×w cells, not a store") {
    val spark = SparkFixture.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = SparkFixture.tempDir("cms_stream").getAbsolutePath
    val all = Seq((1L, "aa bb aa cc"), (2L, "bb cc dd"),
      (3L, "aa dd dd ee"), (4L, "ee aa bb"))
    // seed the params + day-0 cells from an EMPTY frame so the stream's
    // first append finds a valid sketch (the writeCms-then-stream shape)
    graft.api.Selection.writeCms(
      Seq.empty[(Long, String)].toDF("doc_id", "text")
        .filter(col("doc_id") > 0),
      col("text"), path, depth = 4, width = 8)
    val batchSketch = graft.api.Selection.cmsBuild(
        all.toDF("doc_id", "text"), col("text"), depth = 4, width = 8)
      .as[(Int, Long, Long)].collect().toSet
    val in = MemoryStream[(Long, String)]
    @volatile var last: Set[(Int, Long, Long)] = Set.empty
    val q = Streaming.perBatch(in.toDF.toDF("doc_id", "text")) { b =>
        graft.api.Selection.appendToCms(b, col("text"), path, depth = 4,
          width = 8)
        graft.api.Selection.readCms(b.sparkSession, path, depth = 4,
          width = 8)
      } { sketch =>
      last = sketch.collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    }.start()
    try {
      in.addData(all.take(2): _*)
      q.processAllAvailable()
      in.addData(all.drop(2): _*)
      q.processAllAvailable()
      assert(last == batchSketch,
        s"streamed sketch diverges:\n$last\nvs\n$batchSketch")
    } finally q.stop()
  }

  test("twinLineDedupAgainstIndex: streamed line screen equals the " +
      "batch spelling per micro-batch; index is the only state") {
    val spark = SparkFixture.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = SparkFixture.tempDir("line_idx_stream").getAbsolutePath
    graft.api.TextDedup.writeLineIndex(
      Seq((1L, "indexed line")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), path)
    val slice = Seq((10L, "indexed line\nfresh line"))
    val batchOut = graft.api.TextDedup.dedupLinesAgainstIndex(
        slice.toDF("doc_id", "text"), col("doc_id"), col("text"), path)
      .collect().map(_.toString).toSet
    val in = MemoryStream[(Long, String)]
    @volatile var last: Set[String] = Set.empty
    val q = Streaming.perBatch(in.toDF.toDF("doc_id", "text"))(
        graft.api.TextDedup.dedupLinesAgainstIndex(_, col("doc_id"),
          col("text"), path)) {
      out => last = out.collect().map(_.toString).toSet
    }.start()
    try {
      in.addData(slice: _*)
      q.processAllAvailable()
      assert(last == batchOut,
        s"streamed line screen diverges:\n$last\nvs\n$batchOut")
    } finally q.stop()
  }

  test("twinDriftMonitor: per-batch drift summary vs the persisted " +
      "reference equals the batch spelling; reference never re-read") {
    val spark = SparkFixture.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val path = SparkFixture.tempDir("drift_stream").getAbsolutePath
    val ref = Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta"))
      .toDF("doc_id", "text")
    graft.api.Corpus.writeTokenCounts(ref, col("text"), path)
    val slice = Seq((10L, "alpha beta epsilon"))
    val batchRow = graft.api.Corpus.driftSummaryAgainstCounts(
      slice.toDF("doc_id", "text"), col("text"), path).collect()(0)
    val in = MemoryStream[(Long, String)]
    @volatile var last: Option[org.apache.spark.sql.Row] = None
    val q = Streaming.perBatch(in.toDF.toDF("doc_id", "text"))(
        graft.api.Corpus.driftSummaryAgainstCounts(_, col("text"), path)) {
      s => last = Some(s.collect()(0))
    }.start()
    try {
      in.addData(slice: _*)
      q.processAllAvailable()
      assert(last.map(_.toString).contains(batchRow.toString),
        s"streamed drift diverges: $last vs $batchRow")
      // the alert fires: epsilon is new vocabulary
      assert(last.get.getLong(4) == 1L && last.get.getLong(6) > 0L,
        s"expected vocab_added=1 and positive JS: ${last.get}")
    } finally q.stop()
  }

  test("ingest cleaning chain is streaming-safe: stateless map-side ops " +
      "run under append mode and match the batch result row-for-row") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.api.TextClean
    case class Page(doc_id: Long, text: String) // local shape
    val rows = Seq(
      (1L, "<h1>Head</h1>\nIt" + TextClean.mojibakeOf("’") +
        "s a good first sentence right here.\n" +
        "Another full sentence with enough words today.\n" +
        "And a third sentence closes the page out."),
      (2L, "Lorem ipsum dolor sit amet filler here.\n" +
        "A good line that cannot save the page."))
    val in = MemoryStream[(Long, String)]
    val cleaned = TextClean.ingestPipeline(
      in.toDF.toDF("doc_id", "text"), col("doc_id"), col("text"))
    val q = cleaned.writeStream.format("memory").queryName("s_ingest")
      .outputMode("append").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val streamed = spark.table("s_ingest").collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val batch = TextClean.ingestPipeline(rows.toDF("doc_id", "text"),
          col("doc_id"), col("text")).collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(streamed == batch,
        s"stream/batch divergence: $streamed vs $batch")
      assert(batch(1L).last != "" && batch(2L).last == "",
        s"expected page 1 kept, page 2 blocklist-dropped: $batch")
    } finally q.stop()
  }

  test("twinRunningSum: three time-ordered micro-batches emit the exact " +
      "batch-union running sum (persisted offset frame, no state store)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // (id, ts, amount): amounts as exact DECIMAL cents; batches arrive
    // in global ts order — the family's cadence contract
    val mkRows = (b: Int) => (1 to 40).map { i =>
      (b * 100L + i, b * 1000L + i * 7L,
        new java.math.BigDecimal(s"${(i * 13 + b) % 97}.${i % 100}"))
    }
    val batches = Seq(mkRows(0), mkRows(1), mkRows(2))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-runsum-stream").resolve("off").toString
    val in = MemoryStream[(Long, Long, java.math.BigDecimal)]
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, java.math.BigDecimal)]
    val q = Streaming.withState(in.toDF.toDF("id", "ts", "amount"), dir)(
        Streaming.runningSum(col("ts"), Seq(col("ts"), col("id")),
          col("amount"), "running")) {
      out => emitted.synchronized {
        emitted ++= out.select("id", "running").collect()
          .map(r => r.getLong(0) -> r.getDecimal(1))
      }
    }.start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val streamed = emitted.synchronized(emitted.toMap)
      val batchUnion = graft.api.Overlap.runningSum(
          batches.flatten.toDF("id", "ts", "amount"), col("ts"),
          Seq(col("ts"), col("id")), col("amount"), "running")
        .select("id", "running").collect()
        .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
      assert(streamed.size == 120 && streamed == batchUnion,
        s"stream/batch running-sum divergence (n=${streamed.size})")
      // the persisted offset equals the grand total — the state a NEXT
      // session would resume from
      val off = spark.read.parquet(dir).collect()(0).getDecimal(0)
      val grand = batchUnion.values.maxBy(_.doubleValue)
      assert(off.compareTo(grand) == 0,
        s"offset $off != grand total $grand")
    } finally q.stop()
  }

  test("twinRollingRows: trailing 3-row mean across micro-batches equals " +
      "the batch-union Overlap result (persisted tail halo)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.util.Det.dec
    val mkRows = (b: Int) => (1 to 30).map { i =>
      (b * 100L + i, b * 1000L + i * 11L,
        new java.math.BigDecimal(s"${(i * 17 + b * 3) % 89}.${i % 10}"))
    }
    val batches = Seq(mkRows(0), mkRows(1), mkRows(2))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-roll-stream").resolve("tail").toString
    val in = MemoryStream[(Long, Long, java.math.BigDecimal)]
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double)]
    def meanAggs(w0: org.apache.spark.sql.expressions.WindowSpec) = {
      val w = w0.rowsBetween(-2, 0)
      Seq((sum(col("amount")).over(w).cast("double") /
        count(lit(1)).over(w)).as("m3"))
    }
    val q = Streaming.withState(in.toDF.toDF("id", "ts", "amount"), dir)(
        Streaming.rollingRows(col("ts"), Seq(col("ts"), col("id")),
          before = 2)(meanAggs)) {
      out => emitted.synchronized {
        emitted ++= out.select("id", "m3").collect()
          .map(r => r.getLong(0) -> r.getDouble(1))
      }
    }.start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val streamed = emitted.synchronized(emitted.toMap)
      val batchUnion = graft.api.Overlap.rollingRows(
          batches.flatten.toDF("id", "ts", "amount"), col("ts"),
          Seq(col("ts"), col("id")), before = 2, after = 0)(meanAggs)
        .select(col("id"), col("m3")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed.size == 90, s"expected 90 rows, got ${streamed.size}")
      streamed.foreach { case (id, v) =>
        assert(java.lang.Double.doubleToLongBits(v) ==
          java.lang.Double.doubleToLongBits(batchUnion(id)),
          s"row $id: stream $v != batch ${batchUnion(id)}")
      }
      // the persisted tail is the last `before` rows of the whole stream
      val tailIds = spark.read.parquet(dir).select("id")
        .collect().map(_.getLong(0)).toSet
      assert(tailIds == Set(229L, 230L), s"tail $tailIds")
    } finally q.stop()
  }

  test("twin state swap is crash-exact under retries: a batch whose swap " +
      "landed re-reads its pre-batch generation and skips the re-advance") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-twinstate").resolve("st").toString
    // no state yet: batch 0 computes from None and must advance
    val (s0, adv0) = Streaming.readTwinState(spark, dir, 0L)
    assert(s0.isEmpty && !adv0)
    Streaming.writeTwinState(Seq(10L).toDF("v"), dir, 0L)
    // RETRY of batch 0: swap landed, pre-batch state was None → skip
    val (r0, radv0) = Streaming.readTwinState(spark, dir, 0L)
    assert(r0.isEmpty && radv0, s"retry of batch 0: $r0 / $radv0")
    // batch 1 sees generation 0 and advances
    val (s1, adv1) = Streaming.readTwinState(spark, dir, 1L)
    assert(s1.map(_.collect()(0).getLong(0)) == Some(10L) && !adv1)
    Streaming.writeTwinState(Seq(25L).toDF("v"), dir, 1L)
    // RETRY of batch 1: pre-batch generation (10) from .bak, skip advance
    val (r1, radv1) = Streaming.readTwinState(spark, dir, 1L)
    assert(r1.map(_.collect()(0).getLong(0)) == Some(25L - 15L) && radv1)
    // batch 2 sees generation 1
    val (s2, adv2) = Streaming.readTwinState(spark, dir, 2L)
    assert(s2.map(_.collect()(0).getLong(0)) == Some(25L) && !adv2)
    // crash-point simulation: current generation renamed away (the
    // mid-swap window) → the retained .bak serves reads
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    val (sb, advb) = Streaming.readTwinState(spark, dir, 2L)
    assert(sb.map(_.collect()(0).getLong(0)) == Some(10L) && !advb,
      s"mid-swap crash must fall back to .bak: $sb / $advb")
  }

  test("twin state recovery from a mid-swap crash never deletes the lone " +
      ".bak generation: the recovery write keeps it as the retired gen") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-twinstate-crash").resolve("st").toString
    Streaming.writeTwinState(Seq(10L).toDF("v"), dir, 0L)
    Streaming.writeTwinState(Seq(25L).toDF("v"), dir, 1L)
    // simulate batch 2's swap crashing between `p -> bak` and
    // `next -> p`: the current generation has been retired to .bak and
    // nothing was promoted — `p` absent, `.bak` (gen 1) is the ONLY
    // committed generation on disk
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val bak = new org.apache.hadoop.fs.Path(dir + ".bak")
    val fs = p.getFileSystem(conf)
    fs.delete(bak, true)
    assert(fs.rename(p, bak))
    // retry of batch 2 computes from the retired generation …
    val (s2, adv2) = Streaming.readTwinState(spark, dir, 2L)
    assert(s2.map(_.collect()(0).getLong(0)) == Some(25L) && !adv2)
    // … and its write must NOT delete `.bak` first (it is the last
    // committed generation); with `p` absent the existing `.bak` stays
    // as the retired generation and `.next` is simply promoted
    Streaming.writeTwinState(Seq(45L).toDF("v"), dir, 2L)
    assert(fs.exists(bak), ".bak (the pre-batch generation) was deleted")
    assert(spark.read.parquet(dir + ".bak").select("v")
      .collect()(0).getLong(0) == 25L, "retired generation corrupted")
    // a LATER retry of batch 2 now reads its pre-batch state from .bak
    // and skips the re-advance — the exactness contract end to end
    val (r2, radv2) = Streaming.readTwinState(spark, dir, 2L)
    assert(r2.map(_.collect()(0).getLong(0)) == Some(25L) && radv2,
      s"post-recovery retry: $r2 / $radv2")
    // and batch 3 sees the promoted generation 2
    val (s3, adv3) = Streaming.readTwinState(spark, dir, 3L)
    assert(s3.map(_.collect()(0).getLong(0)) == Some(45L) && !adv3)
  }

  test("twinRollingRange: trailing value-window sum across micro-batches " +
      "equals the batch-union Overlap result (value-predicate tail)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // keys advance ~35/batch; rangeBefore 50 keeps a multi-row tail that
    // spans batch boundaries
    val mkRows = (b: Int) => (1 to 25).map { i =>
      (b * 100L + i, b * 35L + (i * 83L) % 35L,
        new java.math.BigDecimal(s"${(i * 29 + b * 7) % 97}.${i % 10}"))
    }
    val batches = Seq(mkRows(0), mkRows(1), mkRows(2))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-range-stream").resolve("tail").toString
    val in = MemoryStream[(Long, Long, java.math.BigDecimal)]
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, java.math.BigDecimal)]
    def sumAggs(w: org.apache.spark.sql.expressions.WindowSpec) =
      Seq(sum(col("amount")).over(w).as("s50"))
    val q = Streaming.withState(in.toDF.toDF("id", "ts", "amount"), dir)(
        Streaming.rollingRange(col("ts"), 50L)(sumAggs)) {
      out => emitted.synchronized {
        emitted ++= out.select("id", "s50").collect()
          .map(r => r.getLong(0) -> r.getDecimal(1))
      }
    }.start()
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val streamed = emitted.synchronized(emitted.toMap)
      val batchUnion = graft.api.Overlap.rollingRange(
          batches.flatten.toDF("id", "ts", "amount"), col("ts"), 50L, 0L)(
          sumAggs)
        .select(col("id"), col("s50")).collect()
        .map(r => r.getLong(0) -> r.getDecimal(1)).toMap
      assert(streamed.size == 75, s"expected 75 rows, got ${streamed.size}")
      streamed.foreach { case (id, v) =>
        assert(v.compareTo(batchUnion(id)) == 0,
          s"row $id: stream $v != batch ${batchUnion(id)}")
      }
      // the tail holds exactly the union rows within 50 of the max key
      val maxTs = batches.flatten.map(_._2).max
      val expectTail = batches.flatten
        .filter(_._2 >= maxTs - 50L).map(_._1).toSet
      val tailIds = spark.read.parquet(dir).select("id")
        .collect().map(_.getLong(0)).toSet
      assert(tailIds == expectTail, s"tail $tailIds != $expectTail")
    } finally q.stop()
  }

  test("twinSessionize: global session ids across micro-batches equal " +
      "the batch-union gaps-and-islands result; a retried batch " +
      "re-emits identically and never double-advances") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // keys ascend across batches (the cadence contract); gap 50 splits
    // at each batch boundary (≈480-key jump) and once INSIDE each batch
    // (the +200 jump at i = 21); ties via the id tie-break
    val mkRows = (b: Int) => (1 to 40).map { i =>
      (b * 100L + i, b * 1000L + i * 13L + (if (i > 20) 200L else 0L))
    }
    val batches = Seq(mkRows(0), mkRows(1), mkRows(2))
    val dir = java.nio.file.Files
      .createTempDirectory("graft-sess-stream").resolve("st").toString
    val in = MemoryStream[(Long, Long)]
    val emitted = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long)]
    val q = Streaming.withState(in.toDF.toDF("id", "k"), dir)(
        Streaming.sessionize(col("k"), Seq(col("id")), gap = 50L, "sess")) {
      out => emitted.synchronized {
        emitted ++= out.select("id", "sess").collect()
          .map(r => r.getLong(0) -> r.getLong(1))
      }
    }.start()
    // batch-union reference: the window_sessionize_global composition
    // over the whole stream at once
    def unionSessionize(rows: Seq[(Long, Long)]) = {
      val df = rows.toDF("id", "k")
      val flagged = graft.api.Overlap.rollingRows(df, col("k"),
          Seq(col("k"), col("id")), before = 1, after = 0)(w0 => Seq(
        first(col("k")).over(w0.rowsBetween(-1, -1)).as("prev")))
        .withColumn("new_sess", when(col("prev").isNull ||
          col("k") - col("prev") > 50L, 1L).otherwise(0L))
      graft.api.Overlap.runningSum(flagged, col("k"),
          Seq(col("k"), col("id")), col("new_sess"), "sess")
        .select("id", "sess").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    try {
      batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      val streamed = emitted.synchronized(emitted.toMap)
      val batchUnion = unionSessionize(batches.flatten)
      assert(streamed.size == 120, s"got ${streamed.size} rows")
      assert(streamed == batchUnion,
        streamed.toSeq.sorted.zip(batchUnion.toSeq.sorted)
          .filter(p => p._1 != p._2).take(5).toString)
      // 6 sessions total: one per batch start + one mid-batch jump each
      assert(streamed.values.max == 6L,
        s"expected 6 sessions, got ${streamed.values.max}")
      // persisted state = (last key, last session id)
      val st = spark.read.parquet(dir).collect()(0)
      assert(st.getLong(0) == batches.flatten.map(_._2).max &&
        st.getLong(1) == 6L, s"state $st")
    } finally q.stop()
    // RETRY: re-run the LAST batch with its original batchId directly
    // (a foreachBatch retry is exactly a second call with the same id)
    // — emission must be bit-identical and the state must not advance
    val replayed = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    Streaming.stateBatch(batches(2).toDF("id", "k"), 2L, dir)(
        Streaming.sessionize(col("k"), Seq(col("id")), 50L, "sess")) {
      out => replayed ++= out.select("id", "sess").collect()
        .map(r => r.getLong(0) -> r.getLong(1))
    }
    val batchUnion = unionSessionize(batches.flatten)
    assert(replayed.size == 40 &&
      replayed.forall { case (id, s) => batchUnion(id) == s },
      s"retry diverged: ${replayed.take(5)}")
    val st2 = spark.read.parquet(dir).collect()(0)
    assert(st2.getLong(0) == batches.flatten.map(_._2).max &&
      st2.getLong(1) == 6L, s"retry advanced the state: $st2")
  }

  test("twinRunningSum / twinRollingRows / twinRollingRange batch steps " +
      "are retry-exact: re-invoking the last batchId re-emits " +
      "identically and leaves the state generation untouched") {
    import spark.implicits._
    val mkRows = (b: Int) => (1 to 30).map { i =>
      (b * 100L + i, b * 1000L + i * 7L, (i * 13 + b) % 97L)
    }
    val batches = Seq(mkRows(0), mkRows(1), mkRows(2))
    def dfOf(b: Int) = batches(b).toDF("id", "ts", "v")
    def drive(statePath: String)(
        step: (org.apache.spark.sql.DataFrame, Long,
          scala.collection.mutable.Map[Long, Long]) => Unit)
        : (Map[Long, Long], Map[Long, Long], Array[String]) = {
      val emitted = scala.collection.mutable.Map.empty[Long, Long]
      (0 until 3).foreach(b => step(dfOf(b), b.toLong, emitted))
      val before = emitted.toMap
      val stateBefore = spark.read.parquet(statePath)
        .collect().map(_.toString).sorted
      // RETRY of the last batch: same batchId, fresh sink
      val replay = scala.collection.mutable.Map.empty[Long, Long]
      step(dfOf(2), 2L, replay)
      val stateAfter = spark.read.parquet(statePath)
        .collect().map(_.toString).sorted
      assert(stateAfter.sameElements(stateBefore),
        s"retry advanced state: ${stateAfter.toSeq} vs ${stateBefore.toSeq}")
      (before, replay.toMap, stateBefore)
    }
    def tmp(n: String) = java.nio.file.Files
      .createTempDirectory(s"graft-retry-$n").resolve("st").toString
    // running sum
    locally {
      val p = tmp("rsum")
      val (all, replay, _) = drive(p) { (df, bid, sink) =>
        Streaming.stateBatch(df, bid, p)(Streaming.runningSum(col("ts"),
            Seq(col("ts"), col("id")), col("v"), "run")) { out =>
          sink ++= out.select("id", "run").collect()
            .map(r => r.getLong(0) -> r.getLong(1))
        }
      }
      assert(replay.forall { case (id, v) => all(id) == v } &&
        replay.size == 30, "runningSum retry diverged")
    }
    // trailing rolling rows (3-row sum)
    locally {
      val p = tmp("rrows")
      val (all, replay, _) = drive(p) { (df, bid, sink) =>
        Streaming.stateBatch(df, bid, p)(Streaming.rollingRows(col("ts"),
            Seq(col("ts"), col("id")), before = 2)(w0 =>
            Seq(sum(col("v")).over(w0.rowsBetween(-2, 0)).as("s3")))) {
          out => sink ++= out.select("id", "s3").collect()
            .map(r => r.getLong(0) -> r.getLong(1))
        }
      }
      assert(replay.forall { case (id, v) => all(id) == v } &&
        replay.size == 30, "rollingRows retry diverged")
    }
    // trailing value window (50-unit sum)
    locally {
      val p = tmp("rrange")
      val (all, replay, _) = drive(p) { (df, bid, sink) =>
        Streaming.stateBatch(df, bid, p)(Streaming.rollingRange(col("ts"),
            50L)(w => Seq(sum(col("v")).over(w).as("s50")))) {
          out => sink ++= out.select("id", "s50").collect()
            .map(r => r.getLong(0) -> r.getLong(1))
        }
      }
      assert(replay.forall { case (id, v) => all(id) == v } &&
        replay.size == 30, "rollingRange retry diverged")
    }
  }

  test("every withState step releases every pin its batch made, the " +
      "engines' included: no persisted RDD outlives a micro-batch") {
    import spark.implicits._
    val sc = spark.sparkContext
    val mkRows = (b: Int) => (1 to 30).map { i =>
      (b * 100L + i, b * 1000L + i * 7L, (i * 13 + b) % 97L)
    }
    val steps: Seq[(String, Streaming.StateStep)] = Seq(
      "runningSum" -> Streaming.runningSum(col("ts"),
        Seq(col("ts"), col("id")), col("v"), "run"),
      "rollingRows" -> Streaming.rollingRows(col("ts"),
        Seq(col("ts"), col("id")), before = 2)(w0 =>
        Seq(sum(col("v")).over(w0.rowsBetween(-2, 0)).as("s3"))),
      "rollingRange" -> Streaming.rollingRange(col("ts"), 50L)(w =>
        Seq(sum(col("v")).over(w).as("s50"))),
      "sessionize" -> Streaming.sessionize(col("ts"), Seq(col("id")),
        gap = 10L, "sess"))
    val leaks = steps.flatMap { case (name, step) =>
      // start from a drained context so counts are exact
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-leak-$name").resolve("st").toString
      (0 until 3).flatMap { b =>
        var n = 0L
        Streaming.stateBatch(mkRows(b).toDF("id", "ts", "v"), b.toLong,
          path)(step) { out => n = out.count() }
        val held = sc.getPersistentRDDs.size
        if (n == 30L && held == 0) None
        else Some(s"$name batch $b: $n rows emitted, $held persisted RDDs")
      }
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }
}
