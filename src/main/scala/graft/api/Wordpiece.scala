package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** WordPiece tokenizer primitives — the third member of the house
  * tokenizer-trainer family next to [[Bpe]] (count-argmax merges) and
  * [[Unigram]] (EM over a piece inventory). WordPiece (Schuster &
  * Nakajima 2012; the BERT vocabulary builder — public) differs from BPE
  * in exactly two places, and this module owns both:
  *
  *  - TRAINING picks the merge that maximizes the LIKELIHOOD ratio
  *    score(a,b) = count(ab) / (count(a)·count(b)) instead of the raw
  *    pair count — rare-but-predictive pairs ("q u") win over frequent
  *    independent ones;
  *  - ENCODING is greedy longest-match-first against a piece vocabulary
  *    with '##' continuation markers, and a word with ANY unmatchable
  *    position collapses to a single [UNK] token (the whole-word
  *    fallback BERT's tokenizer ships).
  *
  * Representation and scale shape are inherited from [[Bpe]]: the corpus
  * collapses to its word-frequency vocabulary first (the ONE corpus-sized
  * shuffle), a segmentation is a paren-wrapped symbol string, and every
  * training round runs on vocab-sized (Heaps-bounded) frames. Single-step
  * keys are DuckDB-oracle-checked; the iterative [[train]] loop is pinned
  * against a pure-Scala reference in ApiSpec (the kMeansFit split).
  *
  * Determinism: scores are (n/c_a)/c_b — two chained IEEE divisions of
  * exact BIGINT counts, bit-identical in every engine and overflow-free
  * at any corpus size (the single-division spelling n/(c_a·c_b) would
  * overflow the int64 product past ~3·10⁹-symbol corpora); ties break on
  * the pair string. The greedy walk and the vocabulary threshold are
  * exact integer work.
  */
object Wordpiece {

  /** Per-symbol occurrence counts over a segmented vocab frame
    * (sym, w_n) — the denominators of the WordPiece score. Output
    * (s, c); vocab-sized shuffle only. */
  def symCounts(vocab: DataFrame, sym: Column, weight: Column): DataFrame =
    vocab.select(weight.as("__w"),
        explode(split(sym.substr(lit(2), length(sym) - 2), "\\)\\("))
          .as("s"))
      .groupBy("s").agg(sum(col("__w")).as("c"))

  /** Likelihood score for every adjacent symbol pair of the current
    * segmentation: (pair "a b", n, c_a, c_b, score). The two count
    * frames are vocab-/alphabet-sized; the joins are trivially
    * broadcastable but left to AQE. */
  def pairScores(vocab: DataFrame): DataFrame = {
    val pc = Bpe.pairCounts(vocab, col("sym"), col("w_n"))
    val sc = symCounts(vocab, col("sym"), col("w_n"))
    pc.select(col("pair"), col("n"),
        split(col("pair"), " ").getItem(0).as("a"),
        split(col("pair"), " ").getItem(1).as("b"))
      .join(sc.select(col("s").as("a"), col("c").as("c_a")), "a")
      .join(sc.select(col("s").as("b"), col("c").as("c_b")), "b")
      .select(col("pair"), col("n"), col("c_a"), col("c_b"),
        (col("n").cast("double") / col("c_a") / col("c_b")).as("score"))
  }

  /** Apply the argmax-score merge to a segmented vocab — ONE declarative
    * plan (the winning pair rides in on a broadcast 1-row frame, no
    * driver collect), so chained steps stay a single oracle-checkable
    * query. */
  def mergeOnce(vocab: DataFrame): DataFrame = {
    val top1 = pairScores(vocab)
      .orderBy(col("score").desc, col("pair")).limit(1)
      .select(split(col("pair"), " ").getItem(0).as("__a"),
        split(col("pair"), " ").getItem(1).as("__b"))
    vocab.crossJoin(broadcast(top1))
      .select(replace(col("sym"),
          concat(lit("("), col("__a"), lit(")("), col("__b"), lit(")")),
          concat(lit("("), col("__a"), col("__b"), lit(")"))).as("sym"),
        col("w_n"))
  }

  /** Train `nMerges` WordPiece merges (score argmax, pair tie-break).
    * Same loop discipline as [[Bpe.train]]: per-round collect is the ONE
    * winning row, lineage truncates per round. */
  def train(docs: DataFrame, text: Column,
      nMerges: Int): Seq[(String, String)] =
    trainFromVocab(Bpe.wordFreq(docs, text)
      .select(Bpe.wrapChars(col("word")).as("sym"), col("w_n")), nMerges)

  /** [[train]] from an ALREADY-SEGMENTED vocab frame (sym, w_n) — the
    * [[Bpe.trainFromVocab]] split, so a caller who has paid the one
    * corpus-sized wordFreq shuffle (and pinned it for other consumers)
    * never pays it twice; train ≡ trainFromVocab is pinned in ApiSpec. */
  def trainFromVocab(vocab0: DataFrame,
      nMerges: Int): Seq[(String, String)] = graft.util.Pin.scope { p =>
    var vocab = p.next(vocab0)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var rounds = 0
    while (rounds < nMerges) {
      val top = pairScores(vocab)
        .orderBy(col("score").desc, col("pair")).limit(1)
        .select("pair").collect()
      if (top.isEmpty) rounds = nMerges // fully merged — stop early
      else {
        val Array(a, b) = top(0).getString(0).split(" ", 2)
        merges += ((a, b))
        vocab = p.next(vocab.select(
          Bpe.applyMerge(col("sym"), a, b).as("sym"), col("w_n")))
        rounds += 1
      }
    }
    merges.toSeq
  }

  /** All candidate pieces of a word-frequency frame in WordPiece form:
    * position-0 substrings bare, interior substrings '##'-prefixed,
    * lengths 1..`maxPieceLen`. Output (word, w_n, i, j, piece) — the
    * shared edge/count generator for [[vocabPieces]] and [[encode]].
    * Words of length ≥ 100 are dropped (the house packed-position guard
    * class; the DuckDB twin enumerates positions from a bounded range). */
  private def pieces(wf: DataFrame, maxPieceLen: Int): DataFrame =
    wf.filter(length(col("word")) < 100)
      .select(col("word"), col("w_n"),
        explode(flatten(transform(sequence(lit(0), length(col("word")) - 1),
          i => transform(
            sequence(lit(1), least(lit(maxPieceLen),
              length(col("word")) - i)),
            l => struct(i.as("i"), (i + l).as("j"),
              concat(when(i === 0, lit("")).otherwise(lit("##")),
                col("word").substr(i + 1, l)).as("piece"))))))
          .as("e"))
      .select(col("word"), col("w_n"), col("e.i").as("i"),
        col("e.j").as("j"), col("e.piece").as("piece"))

  /** Closed-form WordPiece piece vocabulary: every piece whose summed
    * occurrence mass clears a RELATIVE threshold (cnt·1000 ≥
    * permille·total — exact integer comparison, scale-invariant like
    * [[Corpus.vocabPruneApply]]). Pieces below the bar are dropped
    * WITHOUT a single-character exception: a word touching a pruned
    * character correctly becomes [UNK] under [[encode]], which is
    * exactly how BERT vocabularies produce [UNK] at serving time.
    * Output (piece, cnt). */
  def vocabPieces(wf: DataFrame, maxPieceLen: Int = 4,
      permille: Long = 3): DataFrame = {
    require(permille >= 0 && permille <= 1000,
      s"permille=$permille out of range [0, 1000]")
    val cnts = pieces(wf, maxPieceLen)
      .groupBy("piece").agg(sum(col("w_n")).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("__t"))
    cnts.crossJoin(broadcast(tot))
      .filter(col("cnt") * 1000 >= col("__t") * permille)
      .select(col("piece"), col("cnt"))
  }

  /** Greedy longest-match-first WordPiece segmentation — the fold
    * expression lives over a per-word edge list like
    * [[Unigram.viterbiSegment]]'s DP, but the state is just (position,
    * pieces, unk): at each position take the LONGEST vocabulary piece
    * starting there; if none matches, the whole word is [UNK]. */
  private val greedyWalk: String =
    """aggregate(
      |  sequence(1, length(word)),
      |  named_struct('p', 0,
      |               'ps', cast(array() as array<string>),
      |               'u', false),
      |  (st, x) -> if(st.u or st.p >= length(word), st,
      |    if(exists(es, e -> e.i = st.p),
      |      named_struct(
      |        'p', array_max(transform(filter(es, e -> e.i = st.p),
      |               e -> e.j)),
      |        'ps', concat(st.ps, array(concat(
      |          if(st.p = 0, '', '##'),
      |          substr(word, st.p + 1,
      |            array_max(transform(filter(es, e -> e.i = st.p),
      |              e -> e.j)) - st.p)))),
      |        'u', false),
      |      named_struct('p', st.p, 'ps', st.ps, 'u', true))))""".stripMargin

  /** Encode every vocab word under a (piece, …) vocabulary frame.
    * Output (word, w_n, n_pieces, seg '|'-joined, is_unk): a word whose
    * greedy walk hits an unmatchable position emits the single token
    * [UNK] (n_pieces = 1), BERT's whole-word fallback. One vocab-sized
    * edge join + one per-word fold — the corpus never re-enters. */
  def encode(wf0: DataFrame, vocab: DataFrame,
      maxPieceLen: Int = 4): DataFrame = {
    // the same ≥100-char guard pieces() applies: without it a 100+-char
    // word has NO edges (pieces drops it) and would surface as an [UNK]
    // row here while being absent from anything derived through
    // pieces() — the guard must sit on BOTH sides of the edge join
    val wf = wf0.filter(length(col("word")) < 100)
    val edges = pieces(wf, maxPieceLen)
      .join(vocab.select("piece"), "piece")
      .groupBy(col("word"), col("w_n"))
      .agg(collect_list(struct(col("i"), col("j"))).as("es"))
      .withColumn("st", expr(greedyWalk))
      .select(col("word"),
        when(col("st.u"), array(lit("[UNK]"))).otherwise(col("st.ps"))
          .as("pieces"))
    wf.join(edges, Seq("word"), "left")
      .select(col("word"), col("w_n"),
        coalesce(col("pieces"), array(lit("[UNK]"))).as("pieces"))
      .select(col("word"), col("w_n"),
        size(col("pieces")).as("n_pieces"),
        concat_ws("|", col("pieces")).as("seg"),
        (col("pieces") === array(lit("[UNK]"))).as("is_unk"))
  }
}
