package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline._

/** A workload is a fixed list of ops (one pass) built from the seed, plus
  * an untimed check of the state the pass left behind. */
trait Workload {
  def pass(p: Int): Seq[Op]
  /** (failures found, extra end-to-end metrics); runs outside the timed
    * section, after the pass. */
  def verify(p: Int, records: Seq[OpRecord]): (Int, Map[String, Double]) =
    (0, Map.empty)
}

object Workloads {
  /** `curate`: LLM-curation keys whose cost sits in eager construction
    * (pins, index writes, driver loops) and in Janino: dedup, tokenizer
    * training, quality model, multimodal. */
  val CurateKeys: Seq[String] = Seq(
    "llm_dedup_minhash_md5", "llm_dedup_simhash_apply", "llm_bpe_train",
    "llm_quality_platt", "llm_multimodal_phash_dedup")

  def keyOp(spark: SparkSession, data: String, key: String,
      recorded: Map[String, String]): Op = {
    val fn = graft.SparkEntry.queries(key)
    Op(key, "ops", "key", () => Some(fn(spark, data)),
      d => d.isDefined && (recorded.isEmpty || recorded.get(key) == d))
  }

  /** Deterministic shuffle of a list by the workload seed. */
  def seeded[T](seed: Long, xs: Seq[T]): Seq[T] =
    new scala.util.Random(seed).shuffle(xs)
}

/** Keys whose digests were recorded at the reference commit; an empty
  * `recorded` map means "record, do not judge". */
final class KeyWorkload(spark: SparkSession, data: String, seed: Long,
    keys: Seq[String], recorded: Map[String, String],
    extra: Int => Seq[Op] = _ => Nil) extends Workload {
  def pass(p: Int): Seq[Op] = {
    val ks = Workloads.seeded(seed, keys)
      .map(k => Workloads.keyOp(spark, data, k, recorded))
    val at = new scala.util.Random(seed ^ 0x5DEECE66DL).nextInt(ks.size + 1)
    ks.take(at) ++ extra(p) ++ ks.drop(at)
  }
}

/** The fit/transform round trip through `graft.pipeline`: fit on a
  * seed-chosen hash split of `orders`, transform the held-out rows,
  * save, load and transform again. Every op is checked against a
  * reference computed without `graft.pipeline`: the fitted statistics
  * against plain aggregates over the fit rows, both transforms against a
  * plain select over the held-out rows. */
final class PipelineRoundTrip(spark: SparkSession, data: String, seed: Long) {
  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val nulledPrice =
    when(col("o_orderkey") % 7 === 0, lit(null)).otherwise(col("o_totalprice"))
  private val nodes: Seq[Node] = Seq(
    StatelessNode("null_every7")(_.withColumn("o_totalprice", nulledPrice)),
    NaIndicator("o_totalprice"),
    FillNaMean("o_totalprice"),
    StandardScaler("o_totalprice", "price_z"),
    OneHot("o_orderpriority", priorities),
    LabelEncoder("o_orderstatus", "status_code"))

  private val orders = graft.util.Tables.orders(spark, data)
  private val inFit = pmod(xxhash64(col("o_orderkey"), lit(seed)), lit(10)) < 7
  private val (train, held) = (orders.filter(inFit), orders.filter(!inFit))

  /** Each stateful stage's statistics rows, as sorted strings. */
  private def stats(f: FittedPipeline): Seq[String] =
    f.stages.flatMap(_.stats).map(_.collect().map(_.toString).sorted.mkString(";"))

  /** (statistics, transform digest) with the nodes' arithmetic spelled
    * out: the fill mean and the scaler's moments are exact decimal sums
    * cast to double, the labels are the sorted distinct statuses. */
  private lazy val reference: (Seq[String], String) = {
    def dec(c: Column) = c.cast("decimal(18,2)")
    val mean = train.agg(sum(dec(nulledPrice)).cast("double") / count(nulledPrice))
      .head().getDouble(0)
    val filled = coalesce(nulledPrice, lit(mean))
    val m = train.agg(sum(dec(filled)).cast("double"),
      sum(dec(filled) * dec(filled)).cast("double"), count(filled)).head()
    val (s, ss, n) = (m.getDouble(0), m.getDouble(1), m.getLong(2))
    val labels = train.select("o_orderstatus").distinct().collect().map(_.getString(0))
      .sorted.zipWithIndex
    val code = labels.foldLeft(lit(null).cast("int")) { case (e, (c, i)) =>
      when(col("o_orderstatus") === c, i).otherwise(e) }
    val z = round((filled - lit(s / n)) / lit(math.sqrt((ss - s * s / n) / (n - 1))), 6)
    val expected = held.select(held.columns.toSeq.map(c =>
      if (c == "o_totalprice") filled.as(c) else col(c)) ++
      Seq(nulledPrice.isNull, z) ++
      priorities.map(p => when(col("o_orderpriority") === p, 1).otherwise(0)) :+
      code: _*)
    (Seq(s"[$mean]", s"[$s,$ss,$n]",
      labels.map { case (c, i) => s"[$c,$i]" }.sorted.mkString(";")),
      Digest(expected))
  }

  def ops(p: Int): Seq[Op] = {
    val dir = s"pipeline/pass$p"
    var fitted: FittedPipeline = null
    var loaded: FittedPipeline = null
    var fittedStats, loadedStats = Seq.empty[String]
    Seq(
      Op("pipeline_fit", "pipeline", "fit", () => {
        fitted = Pipeline(nodes: _*).fit(train); fittedStats = stats(fitted); None
      }, _ => fittedStats == reference._1),
      Op("pipeline_transform", "pipeline", "transform",
        () => Some(fitted.transform(held)), _.contains(reference._2)),
      Op("pipeline_save", "pipeline", "save", () => { fitted.save(dir); None },
        _ => new java.io.File(dir).isDirectory),
      Op("pipeline_load", "pipeline", "load", () => {
        loaded = FittedPipeline.load(spark, dir, nodes); loadedStats = stats(loaded); None
      }, _ => loadedStats == reference._1),
      Op("pipeline_transform_loaded", "pipeline", "transform",
        () => Some(loaded.transform(held)), _.contains(reference._2)))
  }
}

/** `index`: the life of three persisted index families driven through
  * `graft.api`. Day 0 (80 % of the corpus) is written; the delta shard is
  * appended to all three; 2 % of the rows are forgotten; the IVF lists are
  * compacted; then a query batch runs against every index. The seed picks
  * shard membership, the forget set and the query sets; the corpus itself
  * is fixed. */
final class IndexWorkload(spark: SparkSession, data: String, seed: Long)
    extends Workload {
  import IndexWorkload._
  import graft.api.{Retrieval, Similarity, TextDedup}

  private val docs = spark.read.parquet(s"$data/index_docs.parquet")
  private val vecs = spark.read.parquet(s"$data/index_vecs.parquet")
  private def bucket(id: String, salt: Long) =
    pmod(xxhash64(col(id), lit(seed), lit(salt)), lit(1000))
  private def day0(df: DataFrame, id: String) = df.filter(bucket(id, 0) < 800)
  private def delta(df: DataFrame, id: String) = df.filter(bucket(id, 0) >= 800)
  private def forget(df: DataFrame, id: String) = df.filter(bucket(id, 1) < 20).select(id)
  private def live(df: DataFrame, id: String) = df.join(forget(df, id), Seq(id), "left_anti")

  private val vecQueries = vecs.filter(bucket("vec_id", 2) < 16)
    .select(col("vec_id").as("qid"), col("embedding").as("qe"))
  private val probe = docs.filter(bucket("doc_id", 3) < 20)
  private val textQueries = {
    val vocab = ("part column order scan slow agg key window table merge vector " +
      "join batch sort value hash filter big data dup spark line small fast group " +
      "customer query row stream").split(" ").toIndexedSeq
    val r = new scala.util.Random(seed)
    val qs = (0 until TextQueries).map { q =>
      val rep = r.nextInt(Replicas)
      val ws = Seq.fill(2 + r.nextInt(2))(vocab(r.nextInt(vocab.size)))
        .map(w => if (rep == 0) w else s"r${rep}_$w")
      (q, ws.mkString(" "))
    }
    spark.createDataFrame(qs).toDF("query_id", "qtext")
  }

  private def dirs(root: String) = (s"$root/ivf", s"$root/sig", s"$root/bm25")
  private def api(name: String, kind: String)(body: => Unit) =
    Op(name, "api", kind, () => { body; None }, _ => true)
  private def query(name: String, kind: String)(body: => DataFrame) =
    Op(name, "api", kind, () => Some(body), _.isDefined)
  private def queries(ivf: String, sig: String, bm25: String) = Seq(
    query("ivf_topk", "topk")(Similarity.topKAgainstIvfIndex(spark, ivf, vecQueries,
      k = 10, nprobe = 2)),
    query("bm25_topk", "bm25")(Retrieval.bm25TopKAgainstIndex(spark, bm25, textQueries,
      k = 10)),
    query("sig_probe", "screen")(TextDedup.screenAgainstIndex(probe, col("doc_id"),
      col("text"), sig)))

  def pass(p: Int): Seq[Op] = {
    val (ivf, sig, bm25) = dirs(s"index/pass$p")
    val (dDocs, dVecs) = (delta(docs, "doc_id"), delta(vecs, "vec_id"))
    Seq(
      api("ivf_write", "write")(Similarity.writeIvfIndex(day0(vecs, "vec_id"),
        col("vec_id"), col("embedding"), ivf, bits = Bits)),
      api("sig_write", "write")(TextDedup.writeSignatureIndex(day0(docs, "doc_id"),
        col("doc_id"), col("text"), sig)),
      api("bm25_write", "write")(Retrieval.writeBm25Index(day0(docs, "doc_id"),
        col("doc_id"), col("text"), bm25)),
      api("sig_append", "append")(TextDedup.appendToSignatureIndex(dDocs, col("doc_id"),
        col("text"), sig)),
      api("ivf_append", "append")(Similarity.appendToIvfIndex(dVecs, col("vec_id"),
        col("embedding"), ivf)),
      api("bm25_append", "append")(Retrieval.appendToBm25Index(dDocs, col("doc_id"),
        col("text"), bm25)),
      api("ivf_remove", "remove")(Similarity.removeFromIvfIndex(spark, ivf,
        forget(vecs, "vec_id"))),
      api("sig_remove", "remove")(TextDedup.removeFromSignatureIndex(spark, sig,
        forget(docs, "doc_id"))),
      api("ivf_compact", "compact")(Similarity.compactIvfIndex(spark, ivf))) ++
      queries(ivf, sig, bm25)
  }

  /** The grown, forgotten and compacted indexes must answer the query
    * batch exactly like fresh indexes written over the same live rows
    * (BM25 has no forget, so its live rows are all rows). */
  override def verify(p: Int, records: Seq[OpRecord]): (Int, Map[String, Double]) = {
    val (ivf, sig, bm25) = dirs(s"index/pass$p")
    val (fIvf, fSig, fBm25) = dirs(s"index/fresh$p")
    val (liveVecs, liveDocs) = (live(vecs, "vec_id"), live(docs, "doc_id"))
    // untimed, so the three families are rebuilt and queried side by side
    Par.all(Seq(
      () => Similarity.writeIvfIndex(liveVecs, col("vec_id"), col("embedding"), fIvf,
        bits = Bits),
      () => TextDedup.writeSignatureIndex(liveDocs, col("doc_id"), col("text"), fSig),
      () => Retrieval.writeBm25Index(docs, col("doc_id"), col("text"), fBm25)))
    val timed = records.filter(_.pass == p).map(r => r.op.name -> r.digest).toMap
    val fresh = queries(fIvf, fSig, fBm25)
    val freshDigests = Par.all(fresh.map(q => () => q.body().map(Digest(_))))
    val mismatched = fresh.zip(freshDigests)
      .collect { case (q, d) if timed.get(q.name).flatten != d => q }
    mismatched.foreach(q => System.err.println(
      s"[perfbench] index check: ${q.name} differs from a fresh index"))
    // live index bytes per byte of the live input rows they index
    val liveIndex = Seq(ivf, sig, bm25).map(d => DirStats(new java.io.File(d))._1).sum
    val textBytes = sum(octet_length(col("text")) + 8)
    val inputBytes = liveVecs.count() * (8L + 4L * 64) +
      liveDocs.agg(textBytes).head.getLong(0) + docs.agg(textBytes).head.getLong(0)
    def p50(kinds: Set[String]) = Stats.median(records.filter(r => r.pass == p &&
      kinds(r.op.kind)).map(_.wallS))
    (mismatched.size, Map(
      "mutate_p50_s" -> p50(Set("write", "append", "remove", "compact")),
      "query_p50_s" -> p50(Set("topk", "screen", "bm25")),
      "space_amp" -> liveIndex.toDouble / inputBytes))
  }
}

object IndexWorkload {
  val Bits = 6
  /** corpus replicas (the scale-probe rule: replicas are mutually
    * dissimilar). Chosen from measured passes at 1, 2, 4 and 8 replicas:
    * 4 is the largest count whose runs the run budget holds with margin;
    * perfbench/README.md has the figures. */
  val Replicas = 4
  val TextQueries = 24

  /** Writes the replicated index corpus next to the fixture tables. */
  def writeCorpus(spark: SparkSession, data: String): Unit = {
    val offset = 10000000L
    val reps = spark.range(Replicas).select(col("id").cast("int").as("__r"))
    val docs = spark.read.parquet(s"$data/documents.parquet")
    val text = when(col("__r") === 0, col("text")).otherwise(
      concat_ws(" ", transform(split(col("text"), " "),
        t => concat(lit("r"), col("__r"), lit("_"), t))))
    docs.crossJoin(reps)
      .select((col("doc_id") + col("__r") * offset).as("doc_id"), text.as("text"))
      .coalesce(1).write.mode("overwrite").parquet(s"$data/index_docs.parquet")
    spark.read.parquet(s"$data/embeddings.parquet").crossJoin(reps)
      .select((col("vec_id") + col("__r") * offset).as("vec_id"),
        transform(col("embedding"), (e, j) =>
          when(j === 0, e + col("__r").cast("float") * 0.001f).otherwise(e))
          .as("embedding"))
      .coalesce(1).write.mode("overwrite").parquet(s"$data/index_vecs.parquet")
  }
}

/** Runs independent driver-side calls on their own threads and returns
  * their results in order; rethrows the first failure after all have
  * finished. Used only outside timed sections. */
object Par {
  def all[T](fs: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val running = fs.map(f => Future(f()))
    running.foreach(r => Await.ready(r, Duration.Inf))
    running.map(r => Await.result(r, Duration.Inf))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples above it (the
    * guide's tail rule), as (percentile, value); None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 11) None else {
      val s = xs.sorted
      val idx = s.size - 11
      Some((100.0 * (idx + 1) / s.size, s(idx)))
    }
}
