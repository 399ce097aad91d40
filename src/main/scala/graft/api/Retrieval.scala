package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Okapi BM25 ranked retrieval over a document corpus — the lexical
  * scoring half of every data-curation retrieval stack (targeted corpus
  * audits, "find documents like this benchmark prompt" sweeps, seed-set
  * expansion for classifier training). Robertson & Zaragoza 2009 (public)
  * define the scoring function; the idf spelling is the non-negative
  * Lucene variant ln(1 + (N − df + 0.5)/(df + 0.5)).
  *
  * Cross-engine determinism (the [[NgramLm]] micro-unit discipline): idf
  * is rounded to integer MICRO-nats immediately after the only
  * transcendental (ln), every remaining factor is correctly-rounded IEEE
  * double arithmetic from exact integers (tf, dl, and avgdl's two exact
  * totals), and the per-term score is rounded back to an integer micro
  * BEFORE the per-document reduction — so document totals are exact
  * integer sums, addition-order-free, and ranking ties break on
  * (score_micro, id): bit-identical across engines.
  *
  * Scale shape: ONE corpus tokenization pass. Tokens are screened against
  * the (tiny, broadcast) distinct query-term set BEFORE any shuffle, so
  * the per-(doc, term) aggregate and everything after it is sized by
  * matching postings, not the corpus token stream. Document frequency and
  * the (N, Σdl) stats frame both derive from model-sized intermediates
  * (df from the postings aggregate; the stats from one map-side-combined
  * corpus aggregate). The query expansion join is a broadcast of the
  * |queries × terms| frame. Top-k is a per-query window — never a global
  * sort. At 100 TB nothing here materializes more than the postings of
  * the queried terms.
  */
object Retrieval {

  /** BM25 top-k documents per query.
    *
    * @param df      corpus
    * @param id      unique document id column
    * @param text    document text column
    * @param queries (query_id, qtext) frame — one row per query; qtext is
    *                tokenized with the same separator as the corpus.
    *                Assumed SMALL (a query workload, not a corpus): it is
    *                broadcast.
    * @param k       results per query
    * @param k1      BM25 term-frequency saturation (classic 1.2)
    * @param b       BM25 length normalization (classic 0.75)
    * @param sep     token-separator REGEX (the [[TextQuality]] contract)
    * @return (query_id, rk, id, score_micro) — score in micro-nats;
    *         rk = 1..k by (score_micro DESC, id ASC)
    */
  def bm25TopK(df: DataFrame, id: Column, text: Column, queries: DataFrame,
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      sep: String = " "): DataFrame = {
    val toks = split(text, sep)
    val base = df.select(id.as("__id"), toks.as("__tk"))
    // (n_docs, total_tokens): one map-side-combined pass; avgdl derives
    // from the two exact integers IN the scoring expression, so both
    // engines divide the same exact values
    val stats = statsOf(base)
    val qterms = queryTerms(queries, sep)
    // screen the token stream against the broadcast term set BEFORE the
    // (doc, term) shuffle: postings of queried terms, not the corpus
    val postings = base
      .select(col("__id"), size(col("__tk")).as("__dl"),
        explode(col("__tk")).as("__term"))
      .join(broadcast(qterms.select("__term").distinct()), Seq("__term"))
      .groupBy("__id", "__term")
      .agg(count(lit(1)).as("__tf"), first(col("__dl")).as("__dl"))
    scorePostings(postings, stats, qterms, k, k1, b)
  }

  /** Build and persist the BM25 retrieval index — the NIGHTLY form: one
    * corpus tokenization pass writes `dir/postings` (term, id, tf, dl)
    * and `dir/stats` (n_docs, total_tokens); queries then run against
    * the index without ever re-reading corpus text (the
    * signature/substring/line-index discipline — the index is term+id+
    * two ints per posting, a small fraction of corpus bytes). At real
    * scale write postings bucketed/partitioned by term so the query-time
    * screen prunes storage, not just the joined stream. */
  def writeBm25Index(df: DataFrame, id: Column, text: Column, dir: String,
      sep: String = " "): Unit = {
    val toks = split(text, sep)
    val base = df.select(id.as("__id"), toks.as("__tk"))
    // the two tables are INDEPENDENT overwrite jobs over the same lazy
    // base — stage them from two driver threads (guide §2.6) so the
    // 1-row stats aggregate back-fills the postings write's task tail;
    // both are idempotent overwrites, so a failed side re-runs cleanly
    // (r16; Par.both collects both outcomes before rethrowing)
    graft.util.Par.both(
      postingsOf(base).write.mode("overwrite").parquet(s"$dir/postings"),
      statsOf(base).write.mode("overwrite").parquet(s"$dir/stats"))
    ()
  }

  /** (__id, __term, __tf, __dl) postings of a (__id, __tk) token frame:
    * one row per (doc, term), `__dl` the doc's token count. */
  private def postingsOf(base: DataFrame): DataFrame =
    base
      .select(col("__id"), size(col("__tk")).as("__dl"),
        explode(col("__tk")).as("__term"))
      .groupBy("__id", "__term")
      .agg(count(lit(1)).as("__tf"), first(col("__dl")).as("__dl"))

  /** The 1-row (__n_docs, __total_tokens) stats of a token frame. */
  private def statsOf(base: DataFrame): DataFrame =
    base.agg(count(lit(1)).as("__n_docs"),
      sum(size(col("__tk"))).as("__total_tokens"))

  /** BM25 top-k against a [[writeBm25Index]] index — identical scoring
    * arithmetic to [[bm25TopK]] (shared code path), so results are
    * bit-equal to scoring the corpus directly; the corpus itself is
    * never read. Document frequency derives from the query-term postings
    * AFTER the broadcast screen — model-sized, never a full-index pass. */
  def bm25TopKAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, queries: DataFrame, k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75, sep: String = " "): DataFrame = {
    val qterms = queryTerms(queries, sep)
    val raw = spark.read.parquet(s"$dir/postings")
    requirePostingsSchema(raw)
    val postings = raw
      .join(broadcast(qterms.select("__term").distinct()), Seq("__term"))
    val stats = spark.read.parquet(s"$dir/stats")
    scorePostings(postings, stats, qterms, k, k1, b)
  }

  /** Append a delta corpus to a [[writeBm25Index]] index — the nightly
    * ACCEPT step (the appendToSignatureIndex discipline), so the index
    * GROWS instead of being rebuilt: postings are per-(doc, term) rows,
    * so new documents append disjoint rows; the 1-row stats frame is the
    * sum of old and delta totals. Precondition (caller-owned, as for
    * every index family here): delta ids are NEW — re-appending an
    * existing doc double-counts it in df and avgdl. The grown index is
    * query-equal to a fresh rebuild over corpus ∪ delta (pinned in
    * RetrievalSpec).
    *
    * Postings append IN PLACE as delta-sized parquet files (O(delta) —
    * disjoint rows need no merge); only the 1-row stats table is
    * staged and committed by [[graft.util.Store.replace]], because Spark
    * cannot read-and-overwrite the same parquet path in one job. Crash
    * consistency is correspondingly weaker than a staged rewrite: a
    * mid-append failure leaves partial postings files — remove them and
    * re-run, or commit via manifest on stores that support it. */
  def appendToBm25Index(delta: DataFrame, id: Column, text: Column,
      dir: String, sep: String = " "): Unit = {
    val spark = delta.sparkSession
    requirePostingsSchema(spark.read.parquet(s"$dir/postings"))
    val toks = split(text, sep)
    val base = delta.select(id.as("__id"), toks.as("__tk"))
    // postings rows are per-(doc, term) and the precondition says delta
    // ids are NEW, so the delta's rows are DISJOINT from the stored
    // ones: a parquet APPEND of delta-sized files is the whole merge —
    // O(delta), never a rewrite of the accumulated index (r9; the
    // appendToSignatureIndex/appendToSubstringIndex discipline — the
    // previous union+rewrite spelling re-shuffled and re-wrote the FULL
    // postings table nightly, O(index), exactly the cost the append
    // step exists to avoid at 100 TB). Same non-atomicity caveat as
    // every multi-file append here: a mid-job failure leaves partial
    // delta files — re-run after removing them, or commit via manifest
    // on stores that support it.
    postingsOf(base).write.mode("append").parquet(s"$dir/postings")
    // the 1-row stats frame DOES need read-combine-rewrite (it is a
    // sum, not a disjoint union) — staged because Spark cannot read and
    // overwrite the same parquet path in one job; the table is one row,
    // so the rewrite is O(1)
    graft.util.Store.replace(spark, s"$dir/stats") { (live, staged) =>
      spark.read.parquet(live).unionByName(statsOf(base))
        .agg(sum(col("__n_docs")).as("__n_docs"),
          sum(col("__total_tokens")).as("__total_tokens"))
        .write.mode("overwrite").parquet(staged)
    }
  }

  private def queryTerms(queries: DataFrame, sep: String): DataFrame =
    queries.select(col("query_id"),
      explode(split(col("qtext"), sep)).as("__term")).distinct()

  /** The one scoring pipeline both entry points share: (postings of the
    * queried terms, the 1-row stats frame, the (query, term) expansion)
    * → integer micro-nat totals → per-query top-k window. */
  private def scorePostings(postings: DataFrame, stats: DataFrame,
      qterms: DataFrame, k: Int, k1: Double, b: Double): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dfreq = postings.groupBy("__term")
      .agg(count(lit(1)).as("__df"))
    val scored = postings
      .join(dfreq, Seq("__term"))
      .crossJoin(broadcast(stats))
      .join(broadcast(qterms), Seq("__term"))
      .select(col("query_id"), col("__id"),
        // idf → micro-nats immediately after the ln (the only
        // transcendental); everything after is exact-input IEEE
        round(log(lit(1.0) + (col("__n_docs") - col("__df") + lit(0.5))
          / (col("__df") + lit(0.5))) * 1e6).cast("long").as("__idf_u"),
        col("__tf").cast("double").as("__tf_d"),
        col("__dl").cast("double").as("__dl_d"),
        (col("__total_tokens").cast("double")
          / col("__n_docs").cast("double")).as("__avgdl"))
      .select(col("query_id"), col("__id"),
        round(col("__idf_u") * ((col("__tf_d") * lit(k1 + 1.0))
          / (col("__tf_d") + lit(k1) * (lit(1.0 - b)
            + lit(b) * (col("__dl_d") / col("__avgdl"))))))
          .cast("long").as("__s_u"))
    val totals = scored.groupBy("query_id", "__id")
      .agg(sum(col("__s_u")).as("score_micro"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_micro").desc, col("__id").asc)
    totals.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("__id").as("id"),
        col("score_micro"))
  }

  /** Loud schema guard: a mismatched or stale index directory must fail
    * diagnosably, not score garbage (the windowTokens-mismatch rule). */
  private def requirePostingsSchema(postings: DataFrame): Unit = {
    val need = Set("__id", "__term", "__tf", "__dl")
    require(need.subsetOf(postings.columns.toSet),
      s"not a writeBm25Index postings frame: ${postings.columns.mkString(", ")}")
  }
}
