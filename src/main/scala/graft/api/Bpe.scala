package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING primitives — the step a corpus
  * engine actually owns when a new tokenizer is fit on raw text (the
  * merge-table learner behind GPT-2/SentencePiece-BPE-style vocabularies;
  * Sennrich et al. 2016, public).
  *
  * Scale shape: the corpus collapses to its word-frequency VOCABULARY
  * before any BPE work — one corpus-sized groupBy, after which every
  * train round runs on a vocab-sized frame (~10⁵–10⁶ rows at any corpus
  * size, broadcastable). At 100 TB the expensive thing is the one scan;
  * the merge loop itself is effectively free.
  *
  * Symbol encoding: a word's current segmentation is one STRING with each
  * symbol wrapped in parens — "hello" → "(h)(e)(l)(l)(o)", and merging
  * (l,l) is `replace(sym, "(l)(l)", "(ll)")`. The wrapping is what makes
  * a merge a plain non-overlapping left-to-right string replace in every
  * engine: consecutive matches share no delimiter (the "(a)(b)(a)(b)"
  * case both merges), and a pair can never straddle or partially match a
  * longer symbol ("(x)(ab)" does not contain "(x)(a)"). Symbols stay in
  * the alphabetic pre-tokenizer class [A-Za-z]+, so parens are safe
  * sentinels. Everything is deterministic string work — the single-step
  * keys are DuckDB-oracle-checked; the iterative [[train]] loop is pinned
  * against a pure-Scala reference implementation in ApiSpec (same split
  * as kMeansFit: reproducible steps oracle-checked, the loop test-pinned).
  */
object Bpe {

  /** Corpus → word-frequency table (word, w_n), alphabetic words only
    * (the letter-run class of a GPT-2-style regex pre-tokenizer; the
    * house single-space tokenizer splits the text), bounded to
    * len < [[Unigram.MaxWordLen]] — the SAME word domain the WordPiece
    * and Unigram lattices price, so the three tokenizer families
    * provably tokenize identical word instances at any input (r12
    * ADVICE: without the bound here, a ≥100-char word would enter the
    * BPE lattice only and silently fall out of llm_tokenizer_compare's
    * inner join for the other two families). The ONE corpus-sized
    * shuffle in a BPE fit. */
  def wordFreq(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(split(text, " ")).as("word"))
      .filter(col("word").rlike("^[A-Za-z]+$") &&
        length(col("word")) < Unigram.MaxWordLen)
      .groupBy("word").agg(count(lit(1)).as("w_n"))

  /** "(h)(e)(l)(l)(o)" initial segmentation of a word (one symbol per
    * character). `substr` per position — no split("") trailing-empty
    * edge between engines. */
  def wrapChars(word: Column): Column =
    concat_ws("", transform(sequence(lit(1), length(word)),
      i => concat(lit("("), word.substr(i, lit(1)), lit(")"))))

  /** Adjacent-symbol pair counts over a segmented vocab frame
    * (sym, w_n): each pair occurrence weighted by the word's corpus
    * frequency — exactly the quantity BPE maximizes per merge. Output
    * (pair "a b", n), vocab-sized shuffle only. */
  def pairCounts(vocab: DataFrame, sym: Column, weight: Column): DataFrame =
    vocab.select(weight.as("__w"),
        split(sym.substr(lit(2), length(sym) - 2), "\\)\\(").as("tk"))
      .filter(size(col("tk")) > 1)
      .select(col("__w"),
        explode(transform(sequence(lit(1), size(col("tk")) - 1),
          i => concat_ws(" ", element_at(col("tk"), i),
            element_at(col("tk"), i + 1)))).as("pair"))
      .groupBy("pair").agg(sum(col("__w")).as("n"))

  /** Apply one merge (a,b) → ab to a segmented-symbol column — a literal
    * (non-regex) replace, all non-overlapping occurrences left to right:
    * the same semantics as DuckDB's `replace`, so the single-step oracle
    * matches by construction. */
  def applyMerge(sym: Column, a: String, b: String): Column =
    replace(sym, lit(s"($a)($b)"), lit(s"(${a}${b})"))

  /** Train `nMerges` BPE merges: per round, count pairs on the current
    * vocab segmentation, take the argmax (highest n, pair-string
    * tie-break — the deterministic rule the oracle-checked single-step
    * key also uses), rewrite the vocab. The per-round collect is ONE
    * row (the winning pair) — bounded like a centroid fetch, never the
    * vocab. Rounds truncate lineage with the house generation-release
    * discipline (the replace chain is linear, but analysis cost grows
    * with it). Returns the learned merge list in order. */
  def train(docs: DataFrame, text: Column, nMerges: Int): Seq[(String, String)] =
    trainFromVocab(wordFreq(docs, text)
      .select(wrapChars(col("word")).as("sym"), col("w_n")), nMerges)

  /** [[train]] from a pre-built segmented vocabulary (sym, w_n) — the
    * entry point when the caller already paid the wordFreq shuffle (and
    * wants to reuse it for the encode side, e.g. llm_bpe_encode). */
  def trainFromVocab(vocab0: DataFrame,
      nMerges: Int): Seq[(String, String)] = graft.util.Pin.scope { p =>
    var vocab = p.next(vocab0)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    // ONE job per merge round, not two (r16): the previous spelling
    // pinned the vocab after EVERY round — a full eager
    // materialization job to truncate a plan that only grows by one
    // map-side literal `replace` per round. Re-running ≤3 replaces
    // inside the next round's pair aggregate is far cheaper than the
    // extra job, so the chain re-pins every 4th round (bounding both
    // recompute depth and analysis cost) instead of every round.
    val PinEvery = 4
    var depth = 0
    var rounds = 0
    while (rounds < nMerges) {
      val top = pairCounts(vocab, col("sym"), col("w_n"))
        .orderBy(col("n").desc, col("pair")).limit(1).collect()
      if (top.isEmpty) rounds = nMerges // vocab fully merged — stop early
      else {
        val Array(a, b) = top(0).getString(0).split(" ", 2)
        merges += ((a, b))
        vocab = vocab.select(applyMerge(col("sym"), a, b).as("sym"),
          col("w_n"))
        depth += 1
        rounds += 1
        // no pin after the FINAL round — the returned value is the
        // merge list; the last vocab frame is never evaluated again
        if (depth >= PinEvery && rounds < nMerges) {
          vocab = p.next(vocab)
          depth = 0
        }
      }
    }
    merges.toSeq
  }

  /** Persist a trained merge list as a parquet model — the tokenizer
    * trained on one cadence and served everywhere else (the index-file
    * discipline applied to models): rank preserves merge ORDER, which
    * is the entire semantics of a BPE encoder. */
  def writeModel(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)], path: String): Unit = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "a", "b")
      .write.mode("overwrite").parquet(path)
  }

  /** Read a persisted merge list back in training order. The model is
    * vocabulary-bounded (one row per merge) — a driver-side read by
    * design, like the centroid fetches. */
  def readModel(spark: org.apache.spark.sql.SparkSession,
      path: String): Seq[(String, String)] =
    spark.read.parquet(path).orderBy("rank")
      .collect().map(r => (r.getAs[String]("a"), r.getAs[String]("b")))
      .toSeq

  /** Segment arbitrary words with a learned merge list (the ENCODE side,
    * applied in merge order — exactly how a trained BPE tokenizer runs).
    * Output: the input frame with `tokens ARRAY<STRING>`. */
  def segment(words: DataFrame, word: Column,
      merges: Seq[(String, String)]): DataFrame = {
    val sym = merges.foldLeft(wrapChars(word)) { case (c, (a, b)) =>
      applyMerge(c, a, b) }
    words.withColumn("tokens",
      split(sym.substr(lit(2), length(sym) - 2), "\\)\\("))
  }
}
