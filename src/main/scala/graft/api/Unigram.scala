package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer TRAINING primitives — the
  * other tokenizer actually used at scale next to BPE (Kudo 2018,
  * "Subword Regularization", public). Where BPE grows a vocabulary by
  * greedy merges, the unigram model starts from an over-complete piece
  * inventory and refines piece probabilities by EM: the E-step segments
  * every word with the current model (Viterbi — hard EM, the common
  * production simplification) and counts piece usages; the M-step
  * renormalizes the counts into new probabilities.
  *
  * Scale shape (same contract as [[Bpe]]): the corpus collapses to its
  * word-frequency VOCABULARY before any tokenizer work — one corpus-sized
  * groupBy — after which every EM round runs on vocab-sized frames
  * (substring enumeration is ≤ |word| × maxPieceLen rows per vocab WORD,
  * broadcast-free equi-joins only). Nothing in a round touches the
  * corpus again, and no driver collect is needed for the EM step itself.
  *
  * Determinism (what makes the single step DuckDB-oracle-checkable):
  * piece costs are integer MICRO-log-probs (round(−ln p × 10⁶)), the
  * Viterbi DP minimizes an integer sum, and ties break toward the
  * smallest split point by packing (cost, split) into ONE integer:
  * combined = totalCost × 100 + i. The per-word DP is a sequential
  * `aggregate` fold over positions (mirrored by a recursive CTE in SQL),
  * so every engine computes bit-identical paths. The ×100 packing caps
  * usable word length at 99 chars — longer "words" (URLs, DNA strings)
  * are excluded identically on both sides, which is also standard
  * tokenizer-trainer practice.
  */
object Unigram {

  /** Words at or above this length are excluded from training (the pi
    * field of the combined cost⋅100+i encoding needs i ≤ 99). */
  val MaxWordLen = 100

  private def costMicro(cnt: Column, tot: Column): Column =
    round(-log(cnt.cast("double") / tot.cast("double")) * 1e6).cast("long")

  /** All substrings of length 1..`maxPieceLen` of each vocab word, one
    * row per occurrence: (word, w_n, i 0-based start, j end, piece). */
  private def substrings(wf: DataFrame, maxPieceLen: Int): DataFrame =
    wf.filter(length(col("word")) < MaxWordLen)
      .select(col("word"), col("w_n"),
        explode(flatten(transform(sequence(lit(0), length(col("word")) - 1),
          i => transform(
            sequence(lit(1), least(lit(maxPieceLen), length(col("word")) - i)),
            l => struct(i.as("i"), (i + l).as("j"),
              col("word").substr(i + 1, l).as("piece")))))).as("__s"))
      .select(col("word"), col("w_n"), col("__s.i").as("i"),
        col("__s.j").as("j"), col("__s.piece").as("piece"))

  /** Seed piece inventory: every substring of length ≤ `maxPieceLen`
    * that occurs in the vocabulary, counted per occurrence weighted by
    * word frequency — the standard over-complete unigram start. Output
    * (piece, cnt, cost) with cost = round(−ln(cnt/Σcnt)·10⁶). */
  def seedPieces(wf: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    val cnts = substrings(wf, maxPieceLen)
      .groupBy("piece").agg(sum(col("w_n")).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("__tot"))
    cnts.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        costMicro(col("cnt"), col("__tot")).as("cost"))
  }

  /** The Viterbi DP array as a SQL expression over (word, es): element
    * k+1 = combined best (cost×100 + backpointer) for the k-char prefix.
    * Every candidate edge e ending at j extends the best prefix at e.i:
    * total = best(e.i) + e.cost, packed with the split point so
    * `array_min` is simultaneously the cost argmin AND the smallest-i
    * tie-break. */
  private val dpArr: String =
    """aggregate(
      |  sequence(1, length(word)),
      |  array(cast(0 as bigint)),
      |  (acc, j) -> concat(acc, array(
      |    array_min(transform(
      |      filter(es, e -> e.j = j),
      |      e -> ((element_at(acc, e.i + 1) div 100) + e.cost) * 100
      |           + cast(e.i as bigint))))))""".stripMargin

  /** Backtrace over a computed `arr`: walk j = |word| → 0 through the
    * packed backpointers, prepending each traversed piece. */
  private val btPieces: String =
    """aggregate(
      |  sequence(1, length(word)),
      |  named_struct('j', cast(length(word) as int),
      |               'ps', cast(array() as array<string>)),
      |  (st, x) -> if(st.j <= 0, st,
      |    named_struct(
      |      'j', cast(element_at(arr, st.j + 1) % 100 as int),
      |      'ps', concat(
      |        array(substr(word,
      |          cast(element_at(arr, st.j + 1) % 100 as int) + 1,
      |          st.j - cast(element_at(arr, st.j + 1) % 100 as int))),
      |        st.ps))),
      |  st -> st.ps)""".stripMargin

  /** Viterbi-segment every vocab word under a (piece, cost) model.
    * Output: (word, w_n, pieces ARRAY<STRING>). Only words whose FULL
    * length is unreachable are dropped: an unreachable intermediate
    * position is fine (`array_min` skips the null candidates it
    * produces, so a word like "ab" under a model holding only the piece
    * "ab" segments correctly even with position 1 uncoverable). The
    * train() prune rule keeps all single characters, so EM iteration
    * never loses a word; the DuckDB oracle's recursive CTE is stricter
    * (its recursion cannot step past an uncoverable position), which
    * only matters for hand-pruned models the declared keys never use. */
  def viterbiSegment(wf: DataFrame, pieces: DataFrame,
      maxPieceLen: Int = 4): DataFrame =
    substrings(wf, maxPieceLen)
      .join(pieces.select(col("piece"), col("cost")), "piece")
      .groupBy(col("word"), col("w_n"))
      .agg(collect_list(struct(col("i"), col("j"), col("cost"))).as("es"))
      .withColumn("arr", expr(dpArr))
      .filter(element_at(col("arr"), length(col("word")) + 1).isNotNull)
      .withColumn("pieces", expr(btPieces))
      .select(col("word"), col("w_n"), col("pieces"))

  /** One full EM round: Viterbi E-step piece-usage counts (weighted by
    * word frequency) + M-step renormalization. Output (piece, cnt,
    * cost_micro) for every piece on some best path — pieces the E-step
    * never uses drop out, which IS the unigram pruning signal. */
  def emStep(wf: DataFrame, pieces: DataFrame,
      maxPieceLen: Int = 4): DataFrame = {
    val cnts = viterbiSegment(wf, pieces, maxPieceLen)
      .select(col("w_n"), explode(col("pieces")).as("piece"))
      .groupBy("piece").agg(sum(col("w_n")).as("cnt"))
    val tot = cnts.agg(sum(col("cnt")).as("__tot"))
    cnts.crossJoin(broadcast(tot))
      .select(col("piece"), col("cnt"),
        costMicro(col("cnt"), col("__tot")).as("cost_micro"))
  }

  /** Train `rounds` EM rounds from the seed inventory; returns the final
    * (piece, cnt, cost) model frame. Per round: [[emStep]] (vocab-sized
    * frames only), then a reachability-safe prune — keep every piece the
    * E-step used PLUS all single-character substrings of the vocab (at
    * their last-known cost), the invariant that keeps every word
    * segmentable next round. Rounds truncate lineage with the house
    * generation-release discipline (state is model-sized; truncation is
    * about plan growth, not memory). The loop is pinned merge-for-merge
    * against a pure-Scala reference in ApiSpec; the single-round
    * `llm_unigram_em_step` key is its oracle-checked step. */
  def train(docs: DataFrame, text: Column, rounds: Int,
      maxPieceLen: Int = 4): DataFrame = graft.util.Pin.scope { p =>
    val wf = p(Bpe.wordFreq(docs, text))
    var model = p.next(seedPieces(wf, maxPieceLen))
    var r = 0
    while (r < rounds) {
      val used = emStep(wf, model, maxPieceLen)
        .select(col("piece"), col("cnt"), col("cost_micro").as("cost"))
      // singles re-enter at their previous cost so an unreachable word
      // cannot appear; costs refresh the next round if they get used
      val singles = model.filter(length(col("piece")) === 1)
        .join(used.select(col("piece").as("__p")),
          col("piece") === col("__p"), "left_anti")
        .select(col("piece"), lit(0L).as("cnt"), col("cost"))
      model = p.next(used.unionByName(singles))
      r += 1
    }
    p.keep(model)
  }

  /** Per-group tokenizer FERTILITY audit — the compression table a
    * tokenizer deployment reads per corpus slice: under a fitted
    * (piece, cost) model, each group's word instances, emitted pieces,
    * and characters, with fertility = pieces/word and chars_per_piece =
    * the realized compression ratio. A slice whose fertility runs high
    * pays proportionally more sequence length for the same text — the
    * number that decides whether a tokenizer refit is worth it and
    * which source is being tokenized badly (the vocab-coverage curve
    * prices the CUTOFF; this prices the SEGMENTATION).
    *
    * Scale shape: segmentation runs per distinct WORD (the
    * Heaps-bounded vocabulary, never per document token); per-group
    * word counts are one map-side-combinable groupBy; the join back is
    * vocabulary-sized. Counts are exact integers (order-free), ratios
    * single IEEE divisions — with the Viterbi path itself
    * engine-reproducible ([[viterbiSegment]]'s packed integer
    * tie-break), the whole audit is oracle-checkable. Words the model
    * cannot cover (or ≥ [[MaxWordLen]]) are excluded identically on
    * both sides, the [[Unigram]] training convention. Output: (group,
    * n_words, n_pieces, n_chars, fertility, chars_per_piece). */
  def fertilityByGroup(docs: DataFrame, text: Column, group: Column,
      pieces: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    val wordsByGroup = docs.select(group.as("group"),
        explode(split(text, " ")).as("word"))
      .filter(col("word").rlike("^[A-Za-z]+$"))
      .groupBy("group", "word").agg(count(lit(1)).as("g_n"))
    val vocab = wordsByGroup.groupBy("word").agg(sum(col("g_n")).as("w_n"))
    val seg = viterbiSegment(vocab, pieces, maxPieceLen)
      .select(col("word"), size(col("pieces")).as("__np"))
    wordsByGroup.join(seg, "word")
      .groupBy("group")
      .agg(sum(col("g_n")).as("n_words"),
        sum(col("g_n") * col("__np")).as("n_pieces"),
        sum(col("g_n") * length(col("word"))).as("n_chars"))
      .select(col("group"), col("n_words"), col("n_pieces"), col("n_chars"),
        (col("n_pieces").cast("double") / col("n_words").cast("double"))
          .as("fertility"),
        (col("n_chars").cast("double") / col("n_pieces").cast("double"))
          .as("chars_per_piece"))
  }

  /** Segment arbitrary words with a trained model (the ENCODE side).
    * Output: the input frame with `tokens ARRAY<STRING>`; rows whose
    * word cannot be covered by the model's pieces carry NULL. */
  def segment(words: DataFrame, word: Column, model: DataFrame,
      maxPieceLen: Int = 4): DataFrame = {
    val wf = words.select(word.as("word")).withColumn("w_n", lit(1L))
    val seg = viterbiSegment(wf, model, maxPieceLen)
      .select(col("word").as("__w"), col("pieces").as("tokens"))
    words.join(seg, word === col("__w"), "left").drop("__w")
  }
}
