package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Par

/** Dev-only PAIRED A/B probe of the llm_multimodal_training_export
  * tail spelling — never invoked by the driver (the [[AbOverlapProbe]]
  * methodology: both arms alternate inside ONE session so host weather
  * and JIT state hit them equally).
  *
  * Arm A (current key): media/text union branches consume `surv`
  * directly — the whole drop-set + anti-join subtree (~200 physical
  * nodes incl. both screens' expand/verify joins) appears under EACH
  * branch of the initial plan (418 nodes, 112 pinned-RDD scans; AQE
  * stage reuse dedupes the runtime work but planning + codegen pay the
  * doubled tree every run).
  * Arm B (candidate): one narrow pinned projection
  * (doc_id, source, ref, __n) after the anti-join feeds both branches
  * — identical expressions, so output is bit-identical; the pin is
  * ~50 bytes/doc.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   sbt "runMain graft.AbExportProbe"
  */
object AbExportProbe {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.get("SPARK_GRAFT_REPEATS").map(_.toInt).getOrElse(5)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val PayloadChunks = 24
    val MediaTokens = 64
    val PhashPatchPixel = 40
    def docs = spark.read.parquet(s"$d/documents.parquet")
    // the key's phashPixelFrame, reproduced (private in LlmExtras):
    // first-9-token md5 pixel lattice + the two probe matrices
    def phashPixelFrame: org.apache.spark.sql.DataFrame = {
      val tk = slice(split(col("text"), " "), 1, 9)
      val ts = (0 until 9).map(c =>
        coalesce(try_element_at(tk, lit(c + 1)), lit(s"pad:$c")))
      val px = array((for (r <- 0 until 8; c <- 0 until 9) yield
        conv(substring(md5(ts(c)), 2 * r + 1, 2), 16, 10).cast("int")): _*)
      val docsPx = docs.select(col("doc_id"), px.as("px"))
      val baseP: Seq[org.apache.spark.sql.Column] = (0 until 72).map(i =>
        conv(substring(md5(lit(s"ppix:$i")), 1, 2), 16, 10).cast("int"))
      val patchedP = baseP.updated(PhashPatchPixel,
        ((baseP(PhashPatchPixel) + lit(128)) % 256).cast("int"))
      val probes = spark.range(1).select(lit(-1L).as("doc_id"),
          array(baseP: _*).as("px"))
        .unionByName(spark.range(1).select(lit(-2L).as("doc_id"),
          array(patchedP: _*).as("px")))
      docsPx.unionByName(probes)
    }
    docs.selectExpr("md5(text) as h").groupBy("h").count().count()

    def clock(f: => Unit): Double = {
      val t0 = System.nanoTime(); f
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      dt
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.length / 2)

    val ph = concat_ws("", transform(
      slice(split(col("text"), " "), 1, PayloadChunks), t => md5(t)))
    def survFrame(): org.apache.spark.sql.DataFrame = {
      val (payDrop, pxDrop) = Par.both(
        graft.sources.Multimodal
          .payloadNearDups(
            docs.select(col("doc_id"), unhex(ph).as("bytes")),
            col("doc_id"), col("bytes"))
          .select(col("doc_b").as("doc_id")),
        graft.sources.Multimodal
          .phashNearDups(phashPixelFrame, col("doc_id"), col("px"))
          .select(col("doc_b").as("doc_id")))
      docs.join(payDrop.unionByName(pxDrop).distinct(),
        Seq("doc_id"), "left_anti")
    }
    val w = Window.partitionBy("source").orderBy("doc_id", "chunk_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def pack(media: org.apache.spark.sql.DataFrame,
        text: org.apache.spark.sql.DataFrame): Long =
      media.unionByName(text)
        .withColumn("pack_id",
          ((sum(col("n_tokens")).over(w) - col("n_tokens")) / 128)
            .cast("int"))
        .select(col("doc_id"), col("chunk_id"), col("source"),
          col("pack_id"), col("kind"), col("n_tokens"), col("ref"))
        .orderBy("doc_id", "chunk_id").count()

    val as = collection.mutable.ArrayBuffer.empty[Double]
    val bs = collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to reps) {
      as += clock {
        val surv = survFrame()
        val media = surv.select(col("doc_id"), lit(0).as("chunk_id"),
          col("source"), lit("media").as("kind"),
          lit(MediaTokens).as("n_tokens"), md5(ph).as("ref"))
        val text = surv
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).as("__n"))
          .select(col("doc_id"), col("source"), col("__n"),
            explode(sequence(lit(1), col("__n"), lit(16))).as("__st"))
          .select(col("doc_id"),
            (((col("__st") - 1) / 16).cast("int") + 1).as("chunk_id"),
            col("source"), lit("text").as("kind"),
            least(lit(16), col("__n") - col("__st") + 1).as("n_tokens"),
            lit("").as("ref"))
        pack(media, text)
        ()
      }
      bs += clock {
        val slim = survFrame().select(col("doc_id"), col("source"),
            md5(ph).as("ref"),
            size(split(col("text"), " ")).as("__n"))
          .localCheckpoint()
        val media = slim.select(col("doc_id"), lit(0).as("chunk_id"),
          col("source"), lit("media").as("kind"),
          lit(MediaTokens).as("n_tokens"), col("ref"))
        val text = slim
          .select(col("doc_id"), col("source"), col("__n"),
            explode(sequence(lit(1), col("__n"), lit(16))).as("__st"))
          .select(col("doc_id"),
            (((col("__st") - 1) / 16).cast("int") + 1).as("chunk_id"),
            col("source"), lit("text").as("kind"),
            least(lit(16), col("__n") - col("__st") + 1).as("n_tokens"),
            lit("").as("ref"))
        pack(media, text)
        ()
      }
    }
    println(f"[ab] export-tail direct=${med(as.toSeq)}%.3f " +
      f"slim-pin=${med(bs.toSeq)}%.3f | direct " +
      as.map(v => f"$v%.2f").mkString(",") + " | slim " +
      bs.map(v => f"$v%.2f").mkString(","))
    spark.stop()
  }
}
