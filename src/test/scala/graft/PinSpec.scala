package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{Bpe, TextDedup, Unigram, Wordpiece}
import graft.ops.Streaming

/** graft.util.Pin's policy end to end: with a session checkpoint dir
  * set, pins become reliable checkpoints written under it — at every
  * site, not only the entry points that once took a per-call option —
  * and no result changes. */
class PinSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  import spark.implicits._

  test("a session checkpoint dir reaches every pin: tokenizer trainers, " +
      "signature append, substring screen, streaming batch step") {
    val docs = (0 until 24).map(i => (i.toLong,
        s"the quick brown fox number ${i % 6} jumps over the lazy dog " +
          s"again and again until round ${i % 4} ends"))
      .toDF("doc_id", "text")
    val base = docs.filter(col("doc_id") % 2 === 0)
    val delta = docs.filter(col("doc_id") % 2 === 1)
    val vocab = Bpe.wordFreq(docs, col("text"))
      .select(Bpe.wrapChars(col("word")).as("sym"), col("w_n"))
    val ckDir = SparkFixture.tempDir("graft_pin_")
    def fresh(name: String) = SparkFixture.tempDir(s"graft_pin_$name")
      .getAbsolutePath + "/idx"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    // each site runs once outside the dir (the baseline) and once inside
    def site[A](name: String)(run: => A): Unit = {
      val expected = run
      val before = SparkFixture.checkpointFiles(ckDir)
      val got = SparkFixture.withCheckpointDir(ckDir.getAbsolutePath)(run)
      assert(SparkFixture.checkpointFiles(ckDir) > before,
        s"$name: no checkpoint part-files written — its pin is still " +
          "executor-local")
      assert(got == expected, s"$name: $got vs $expected")
    }

    site("Bpe.trainFromVocab")(Bpe.trainFromVocab(vocab, 6))
    site("Unigram.train")(rows(Unigram.train(docs, col("text"), 2)))
    site("Wordpiece.trainFromVocab")(Wordpiece.trainFromVocab(vocab, 3))
    site("appendToSignatureIndex") {
      val path = fresh("sig")
      TextDedup.writeSignatureIndex(base, col("doc_id"), col("text"), path)
      TextDedup.appendToSignatureIndex(delta, col("doc_id"), col("text"),
        path)
      (rows(spark.read.parquet(s"$path/shingles")),
        rows(spark.read.parquet(s"$path/sigs")))
    }
    val subIdx = fresh("sub")
    TextDedup.writeSubstringIndex(base, col("doc_id"), col("text"), subIdx)
    site("dedupSubstringsAgainstIndex")(rows(TextDedup
      .dedupSubstringsAgainstIndex(delta, col("doc_id"), col("text"),
        subIdx)))
    site("Streaming.runningSumBatchStep") {
      val batch = (0 until 10).map(i => (i.toLong, i * 7L, i.toLong))
        .toDF("id", "ts", "v")
      var out = Seq.empty[String]
      Streaming.runningSumBatchStep(batch, 0L, col("ts"),
          Seq(col("ts"), col("id")), col("v"), "run", fresh("rsum")) { o =>
        out = rows(o)
      }
      out
    }
  }
}
