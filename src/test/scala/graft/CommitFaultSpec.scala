package graft

import org.apache.commons.io.FileUtils
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{Corpus, Retrieval, Selection, Similarity, TextDedup}

/** Crash behaviour of every in-place rewrite of persisted index state:
  * each rename or delete the operation issues is failed in turn through
  * [[FaultyFs]], and after every failure the operation must have thrown
  * and each rewritten table must still have one complete copy — the old
  * one or the new one — at its live path or at a sibling the error
  * names. */
class CommitFaultSpec extends AnyFunSuite {
  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private lazy val docs = (1 to 40).map { i =>
    (i.toLong, (0 until 12).map(j => s"w${(i % 9) * 3 + j % 5}")
      .mkString(" "))
  }.toDF("doc_id", "text")
  private def half(k: Int) = docs.filter(col("doc_id") % 2 === k)

  private def faulty(local: String) = s"faulty://$local"

  /** Sorted rows of a parquet table or lines of a file; None when
    * missing or unreadable. */
  private def snapshot(path: String): Option[Seq[String]] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    scala.util.Try {
      if (fs.getFileStatus(p).isFile) {
        val src = scala.io.Source.fromFile(p.toUri.getPath)
        try src.getLines().toList finally src.close()
      } else spark.read.parquet(path).collect().map(_.toString).toSeq.sorted
    }.toOption
  }

  /** `build` writes the index under a root; `op` rewrites it in place;
    * `tables` are the root-relative paths the op rewrites. */
  private def sweep(tables: Seq[String], build: String => Unit,
      op: String => Unit, refuseRename: Boolean = false): Unit = {
    FaultyFs.register(spark)
    val base = SparkFixture.tempDir("commit_base")
    build(faulty(base.getAbsolutePath))
    def copy() = {
      val d = SparkFixture.tempDir("commit_run")
      FileUtils.copyDirectory(base, d)
      d.getAbsolutePath
    }
    def snap(root: String) = tables.map(t => snapshot(faulty(s"$root/$t")))
    val old = snap(base.getAbsolutePath)
    val ref = copy()
    op(faulty(ref))
    val fresh = snap(ref)
    assert((old ++ fresh).forall(_.isDefined), s"unreadable: $old $fresh")
    var n = 1
    var done = false
    while (!done) {
      val root = copy()
      FaultyFs.arm(n, refuseRename)
      val err =
        try { op(faulty(root)); None }
        catch { case e: Exception => Some(e) }
        finally done = !FaultyFs.disarm()
      if (done) assert(err.isEmpty && snap(root) == fresh,
        s"op without an injected fault failed or diverged: $err")
      else {
        assert(err.isDefined, s"op reported success despite fault $n")
        val named = "faulty:[^\\s,;)]+".r
          .findAllIn(err.get.getMessage).map(new Path(_).toUri.getPath)
          .toSeq
        tables.zip(old.zip(fresh)).foreach { case (t, (o, f)) =>
          val live = s"$root/$t"
          val places = live +: named.filter(_.startsWith(live + "__"))
          assert(places.exists { p =>
            val s = snapshot(faulty(p))
            s == o || s == f
          }, s"fault $n: no complete copy of $t at $places " +
            s"(${err.get.getMessage})")
        }
        n += 1
      }
    }
    assert(n > 1, "the op issued no rename or delete")
  }

  test("compactCms: every commit failure leaves one complete sketch") {
    sweep(Seq("cells"),
      p => {
        Selection.writeCms(half(0), col("text"), p, depth = 4, width = 16)
        Selection.appendToCms(half(1), col("text"), p, depth = 4,
          width = 16)
      },
      p => Selection.compactCms(spark, p, depth = 4, width = 16))
  }

  test("compactTokenCounts: every commit failure leaves one complete " +
      "count table") {
    sweep(Seq("counts"),
      p => {
        Corpus.writeTokenCounts(half(0), col("text"), s"$p/counts")
        Corpus.appendToTokenCounts(half(1), col("text"), s"$p/counts")
      },
      p => Corpus.compactTokenCounts(spark, s"$p/counts"))
  }

  test("compactSubstringIndex: every commit failure leaves one complete " +
      "hash table") {
    sweep(Seq("hashes"),
      p => {
        TextDedup.writeSubstringIndex(half(0), col("doc_id"), col("text"),
          p, windowTokens = 3)
        TextDedup.appendToSubstringIndex(docs, col("doc_id"), col("text"),
          p, windowTokens = 3)
      },
      p => TextDedup.compactSubstringIndex(spark, p))
  }

  test("compactLineIndex: every commit failure leaves one complete " +
      "hash table") {
    sweep(Seq("hashes"),
      p => {
        TextDedup.writeLineIndex(half(0), col("doc_id"), col("text"), p,
          delim = " ")
        TextDedup.appendToLineIndex(docs, col("doc_id"), col("text"), p,
          delim = " ")
      },
      p => TextDedup.compactLineIndex(spark, p))
  }

  test("removeFromSignatureIndex: every commit failure leaves one " +
      "complete copy of each table") {
    sweep(Seq("shingles", "sigs"),
      p => TextDedup.writeSignatureIndex(docs, col("doc_id"), col("text"),
        p),
      p => TextDedup.removeFromSignatureIndex(spark, p,
        docs.filter(col("doc_id") % 3 === 0).select("doc_id")))
  }

  test("compactIvfIndex: every commit failure leaves one complete lists " +
      "table") {
    val emb = graft.util.Tables.embeddings(spark, SparkFixture.sf0001)
      .limit(60)
    sweep(Seq("lists"),
      p => {
        Similarity.writeIvfIndex(emb.filter(col("vec_id") % 2 === 0),
          col("vec_id"), col("embedding"), p, bits = 2)
        Similarity.appendToIvfIndex(emb.filter(col("vec_id") % 2 === 1),
          col("vec_id"), col("embedding"), p)
      },
      p => Similarity.compactIvfIndex(spark, p))
  }

  private def bm25Sweep(refuseRename: Boolean): Unit =
    sweep(Seq("stats"),
      p => Retrieval.writeBm25Index(half(0), col("doc_id"), col("text"), p),
      p => Retrieval.appendToBm25Index(half(1), col("doc_id"), col("text"),
        p),
      refuseRename)

  test("appendToBm25Index: every failure of the stats commit throws and " +
      "leaves one complete stats table") {
    bm25Sweep(refuseRename = false)
  }

  test("appendToBm25Index: a refused stats rename fails the append " +
      "instead of reporting success") {
    bm25Sweep(refuseRename = true)
  }

  test("Store.record: every commit failure leaves one complete " +
      "sidecar") {
    sweep(Seq("params.txt"),
      p => graft.util.Store.record(spark, p, "width" -> "64"),
      p => graft.util.Store.record(spark, p, "width" -> "32"))
  }

  test("a signature index left mid-swap is refused by screen, append and " +
      "shard dedup until the removal is re-run") {
    val p = SparkFixture.tempDir("sig_pending").getAbsolutePath
    TextDedup.writeSignatureIndex(half(0), col("doc_id"), col("text"), p)
    def survivors() = TextDedup.dedupShardAgainstIndex(docs, col("doc_id"),
      col("text"), p).select("doc_id").as[Long].collect().toSet
    val before = survivors()
    new java.io.File(p, "__swap_pending").createNewFile()
    val attempts = Seq[() => Unit](
      () => TextDedup.screenAgainstIndex(half(1), col("doc_id"),
        col("text"), p).collect(),
      () => TextDedup.appendToSignatureIndex(half(1), col("doc_id"),
        col("text"), p),
      () => TextDedup.dedupShardAgainstIndex(half(1), col("doc_id"),
        col("text"), p).collect())
    attempts.foreach { run =>
      val e = intercept[IllegalArgumentException](run())
      assert(e.getMessage.contains("re-run removeFromSignatureIndex"))
    }
    TextDedup.removeFromSignatureIndex(spark, p,
      Seq.empty[Long].toDF("doc_id"))
    assert(survivors() == before)
  }
}
