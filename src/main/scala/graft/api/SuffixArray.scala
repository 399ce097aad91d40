package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Pin

/** EXACT substring dedup via distributed suffix-array rank construction —
  * the published standard the repo's block/window-hash family
  * approximates (Lee et al. 2022, "Deduplicating Training Data Makes
  * Language Models Better": remove every substring ≥ L appearing more
  * than once in the corpus; their ExactSubstr tool builds a suffix
  * array).
  *
  * What this module computes, with NO hashing anywhere (md5/xxhash keys
  * are collision-bounded; suffix ranks are equality-EXACT at any corpus
  * size): per document, the maximal token ranges covered by some token
  * run of length ≥ L that occurs ≥ 2 times corpus-wide — exactly the
  * removal set of Lee et al., by the covering argument: a position sits
  * inside a duplicated run of length ≥ L iff some L-token window
  * containing it is duplicated (⇐ the window is such a run; ⇒ any
  * duplicated longer run contains an L-window over the position, and
  * every window of a duplicated string is itself duplicated).
  *
  * HOW, Spark-first: the prefix-doubling rank rounds of Manber–Myers
  * suffix-array construction (the standard distributed SA recipe — each
  * round is one equality-relabel pass), stopped at width 2^m ≤ L/2 and
  * finished with the overlapping-blocks trick (tokens[p..p+L) ≡
  * tokens[q..q+L) ⟺ the 2–4 rank_m blocks tiling [0, L) agree) — the
  * suffix ORDER is never needed for dedup, only the equality classes, so
  * the final sort of a full SA build is skipped and rank ids can be any
  * injective labels:
  *
  *  1. token lattice (doc, pos, token) — the one corpus-sized explode;
  *  2. rank_2 = each raw token 2-gram's equality class, labeled by the
  *     class's minimum packed occurrence id (min over doc·10⁶+pos — the
  *     guarded house packing, overflow/null raising INSIDE the aggregate
  *     so no separate driver-side guard job; a map-side-combinable
  *     groupBy + an AQE-skew-safe equi-join back, the default spelling
  *     because frequent grams ARE heavy hitters). Starting from the
  *     2-gram skips a whole rank_1 round for a slightly wider first key;
  *  3. doubling rounds: rank_{2k}[p] = class of (rank_k[p],
  *     rank_k[p+k]), the neighbor fetched with a doc-partitioned lead
  *     window (docs are row-bounded; no global window anywhere). Each
  *     relabel input is PINNED with generation release: the class
  *     groupBy's exchange carries partial-agg rows while the join
  *     probe's carries raw rows, so the two exchanges never unify and an
  *     unpinned chain re-executes its whole subtree per round
  *     (2^rounds corpus scans at 100 TB);
  *  4. dup mask: L-window starts (pos+L-1 ≤ doc length) grouped by the
  *     block rank key; classes with ≥ 2 members mark their positions via
  *     a semi join (same two-sided exchange-reuse shape, skew-safe — a
  *     boilerplate 12-gram repeated 10⁶ times stays partial-agg'd);
  *  5. spans: per doc, duplicated starts within L of each other chain
  *     into one covered run (session window over the doc) —
  *     [min start, max start + L - 1], the maximal covered ranges.
  *
  * Scale shape at 100 TB: ⌈log₂(L/2)⌉ relabel rounds, each two shuffles
  * of the narrow (doc, pos, rank) lattice — no text ever re-shuffles
  * after the explode, no sampling, no per-shard approximation, and every
  * window is doc- or class-partitioned.
  */
object SuffixArray {

  private val PackWidth = 1000000L

  /** Injective packed occurrence id — the house doc·10⁶+pos packing.
    * The guard RIDES the expression (raise_error branch, codegen'd):
    * no separate driver-side guard job, and a violating corpus fails
    * the first action with a clear message. */
  private def packed(doc: Column, pos: Column): Column =
    // guard the CAST result, not the raw column: a non-numeric doc id
    // casts to NULL, which would sail through the overflow comparisons
    // (NULL-valued predicates) into a NULL class label — and relabel's
    // null-unsafe equi-join would then silently drop every row instead
    // of failing fast as promised.
    when(doc.cast("long").isNull || pos.cast("long").isNull,
        raise_error(concat(lit(
          "SuffixArray: occurrence id (doc="), coalesce(doc.cast("string"),
            lit("NULL")), lit(", pos="), coalesce(pos.cast("string"),
            lit("NULL")), lit(
          ") is NULL or not castable to long — filter or fix upstream"))))
      .when(pos >= PackWidth || doc.cast("long") >= Long.MaxValue / PackWidth
          || doc.cast("long") <= -(Long.MaxValue / PackWidth),
        raise_error(concat(lit("SuffixArray: occurrence (doc="), doc,
          lit(s", pos="), pos,
          lit(s") overflows the doc*$PackWidth+pos packing"))))
      .otherwise(doc.cast("long") * PackWidth + pos)

  /** Label each distinct (a, b) pair with its class's minimum packed
    * occurrence id — an EXACT equality relabel (no hashing): one
    * map-side-combinable groupBy + one equi-join back on the pair (AQE
    * splits the hot classes). Returns the frame with `out` replacing
    * a/b. */
  private def relabel(df: DataFrame, a: String, b: String, doc: String,
      pos: String, out: String): DataFrame = {
    // label under a temp name: `out` may equal `a` (the doubling rounds
    // rewrite rank in place) and drop(a) would take the new column with it
    val classes = df.groupBy(col(a), col(b))
      .agg(min(packed(col(doc), col(pos))).as("__sa_cls"))
    df.join(classes, Seq(a, b)).drop(a, b).withColumnRenamed("__sa_cls", out)
  }

  /** The shared core: the pinned (doc, pos, __b0..__bN) frame of
    * L-window starts keyed by their exact equality class (block rank
    * key), plus the block column names. See the object scaladoc for the
    * construction. */
  private def windowClasses(docs: DataFrame, id: Column, text: Column,
      minLen: Int): (DataFrame, Seq[String]) = Pin.scope { p =>
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")

    // token lattice — the one corpus-sized explode; doc length carried
    // from the split so no later length window is needed
    val lattice = docs
      .select(id.as("doc"), split(text, " ").as("__tk"))
      .select(col("doc"), size(col("__tk")).as("__len"),
        posexplode(col("__tk")).as(Seq("p0", "tok")))
      .select(col("doc"), col("__len"),
        (col("p0") + 1).cast("int").as("pos"), col("tok"))

    val byDoc = Window.partitionBy("doc").orderBy("pos")
    // lead sentinel: packed ids can be NEGATIVE (a negative doc id), so
    // -1 could collide with a real class label (doc=-1, pos=999999 packs
    // to exactly -1); Long.MinValue is unreachable under the overflow
    // guard in [[packed]]
    val Sent = Long.MinValue

    // rank_2 straight from the raw token 2-gram — skips a whole rank_1
    // relabel round at the cost of a two-short-strings first key (the
    // md5-key scale the hash family ships); the "t"/"$" marking keeps
    // the end-of-doc sentinel provably disjoint from every real token.
    // Each relabel input is PINNED (one generation each): the relabel
    // consumes it twice — the class groupBy's exchange carries
    // PARTIAL-AGG rows while the join probe's carries raw rows, so the
    // two exchanges never unify and an unpinned chain
    // re-executes its whole subtree per round (2^rounds corpus scans at
    // 100 TB — measured as duplicated stages at sf0.1 too).
    val g0 = p.next(lattice
      .withColumn("__nl", lead(col("tok"), 1).over(byDoc))
      .withColumn("__nxt", when(col("__nl").isNull, lit("$"))
        .otherwise(concat(lit("t"), col("__nl"))))
      .drop("__nl"))
    var ranked = relabel(g0, "tok", "__nxt", "doc", "pos", "rank")

    // double to the largest power of two ≤ minLen/2, then finish with a
    // BLOCK key (≤4 rank columns tiling the L-window: offsets 0, k, …,
    // L-k) — one fewer relabel round than doubling all the way to ≤ L,
    // at ≤ 32 bytes of key
    var k = 2
    while (k * 4 <= minLen) {
      val next = p.next(ranked.withColumn("__nxt",
        coalesce(lead(col("rank"), k).over(byDoc), lit(Sent))))
      ranked = relabel(next, "rank", "__nxt", "doc", "pos", "rank")
      k *= 2
    }

    // block offsets tiling [0, L): multiples of k, plus the final L-k
    // overlap block; equality of all blocks ⟺ exact L-token equality
    val offsets = ((0 until (minLen - k) by k) :+ (minLen - k)).distinct
    val blockCols = offsets.zipWithIndex.map { case (off, i) =>
      (if (off == 0) col("rank")
       else coalesce(lead(col("rank"), off).over(byDoc), lit(Sent)))
        .as(s"__b$i")
    }
    val blockNames = offsets.indices.map(i => s"__b$i")
    // pinned: the dup-class detection consumes wins twice (same
    // partial-agg-vs-raw exchange split as relabel)
    val wins = p.next(ranked
      .select(col("doc") +: col("pos") +: col("__len") +: blockCols: _*)
      .filter(col("pos") + minLen - 1 <= col("__len"))
      .select(col("doc") +: col("pos") +: blockNames.map(col): _*))
    // the wins pin stays alive under the returned plan; Verify/Bench
    // drain persistent RDDs between queries (the house rule for
    // iterative ops)
    (p.keep(wins), blockNames)
  }

  /** Per-document maximal duplicated token ranges (runs of length ≥
    * `minLen` tokens occurring ≥ 2 times corpus-wide, overlapping
    * coverage merged). Tokens = the house single-space split, positions
    * 1-based. Output: (doc_id, span_start, span_end, span_tokens,
    * n_dup_windows) — span bounds inclusive token positions,
    * n_dup_windows the duplicated L-window starts inside the run. */
  def duplicateSpans(docs: DataFrame, id: Column, text: Column,
      minLen: Int = 12): DataFrame = {
    val (wins, blockNames) = windowClasses(docs, id, text, minLen)
    val byDoc = Window.partitionBy("doc").orderBy("pos")

    // duplicated window starts: classes with ≥2 members, semi-joined back
    val dupClasses = wins.groupBy(blockNames.map(col): _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1)
    val dupStarts = wins.join(dupClasses, blockNames, "left_semi")

    // session-merge: starts within L of the previous chain one covered run
    val brk = when(col("pos") - lag(col("pos"), 1).over(byDoc) <= minLen,
      lit(0)).otherwise(lit(1))
    dupStarts
      .withColumn("__brk", brk)
      .withColumn("__isl", sum(col("__brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc"), col("__isl"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + minLen - 1).as("span_end"),
        count(lit(1)).cast("long").as("n_dup_windows"))
      .select(col("doc").as("doc_id"),
        col("span_start"),
        col("span_end").cast("int").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("int")
          .as("span_tokens"),
        col("n_dup_windows"))
  }

  /** The APPLY transform — Lee et al.'s removal itself: every token
    * covered by a duplicated ≥ `minLen` run is cut EXCEPT in the
    * globally-first occurrence of each duplicated window (min packed
    * doc·10⁶+pos = (doc asc, pos asc) election — deterministic
    * keep-first, same rule as TextDedup.dedupSubstrings but over exact
    * rank classes instead of window hashes). Output: (doc_id, n_tokens,
    * n_kept, text_dedup) — the family's apply shape. The rebuild
    * re-tokenizes the corpus (one extra scan, the same trade the
    * window-hash apply makes); canonical election is a
    * map-side-combinable groupBy on the class key + join-back, skew-safe
    * for boilerplate heavy hitters. */
  def dedupSpans(docs: DataFrame, id: Column, text: Column,
      minLen: Int = 12): DataFrame = {
    val (wins, blockNames) = windowClasses(docs, id, text, minLen)

    // non-canonical duplicated starts: class members beyond the min
    // packed occurrence
    val canon = wins.groupBy(blockNames.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        min(packed(col("doc"), col("pos"))).as("__cn"))
      .filter(col("__n") > 1)
    val flagged = wins.join(canon, blockNames)
      .filter(packed(col("doc"), col("pos")) =!= col("__cn"))
      .select(col("doc").as("__fd"), col("pos").as("__fp"))

    // cut covered tokens and rebuild: the window-hash family's apply
    TextDedup.removeCoveredSpans(
      docs.select(id.as("doc_id"), split(text, " ").as("__tk")), flagged,
      minLen)
  }
}
