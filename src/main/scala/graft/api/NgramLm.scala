package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Count-based n-gram language-model scoring — the CCNet/KenLM-shaped
  * quality signal (Wenzek et al. 2020 score documents by the perplexity
  * of a KenLM 5-gram model; Heafield 2011, both public): a document
  * whose token SEQUENCES are improbable under a reference corpus is
  * boilerplate, spam, or the wrong language, even when its bag-of-token
  * stats look fine. This is the order-2 upgrade of the unigram scorer
  * behind `llm_perplexity_bucket`: bigram costs see word ORDER, so
  * shuffled or templated text scores worse than fluent text with the
  * same vocabulary.
  *
  * Model = ONE self-contained backoff table frame, three row shapes:
  *  - (w1, w2, cost)  — observed-bigram cost;
  *  - (w1, NULL, cost) — add-1 unseen-successor cost for a known
  *    history w1 (the probability mass smoothing reserves);
  *  - (NULL, NULL, cost) — out-of-vocabulary history cost.
  * Costs are integer MICRO-log-probs (round(−ln p × 10⁶), the
  * [[Unigram]] discipline): per-doc totals are exact integer sums,
  * addition-order-free, so scoring is engine-reproducible and the
  * declared key is DuckDB-hash-checked.
  *
  * Scale shape: training is one bigram explode → one (w1, w2) groupBy
  * (map-side combinable; the ONLY corpus-sized shuffle) — history
  * counts c(w1) = Σ_w2 c(w1, w2) and the vocabulary size both derive
  * from the model-sized count frame, never a second corpus pass.
  * Scoring joins the corpus's bigrams to the model on (w1, w2) as a
  * plain shuffle equi-join — the model is |observed bigrams| and grows
  * with the corpus (Heaps' law), so no broadcast hint (the
  * langIdConfusion rule); the two backoff joins are w1-keyed and
  * vocab-sized.
  */
object NgramLm {

  private def costMicro(p: Column): Column =
    round(-log(p) * 1e6).cast("long")

  /** (doc_id, w1, …, wn) n-gram tuples of each doc; docs under n tokens
    * contribute nothing. */
  private def ngrams(df: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    val ws = (1 to n).map(j => s"w$j")
    df.select(id.as("doc_id"), split(text, " ").as("__tk"))
      .filter(size(col("__tk")) >= n)
      .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("__tk")) - (n - 1)),
          i => struct(ws.indices.map(j => element_at(col("__tk"),
            if (j == 0) i else i + j).as(ws(j))): _*))).as("__g"))
      .select(col("doc_id") +: ws.map(w => col(s"__g.$w").as(w)): _*)
  }

  /** The per-doc finalization of every scorer: `grams` (doc_id + one row
    * per scored n-gram) summed over the per-gram `cost`, then left-joined
    * from the doc list so a doc with no n-gram keeps a row: (doc_id,
    * `nCol`, total_cost_micro, avg_cost_micro DOUBLE raw — one IEEE
    * division over exact integers, NULL for a doc with none). */
  private def perDoc(df: DataFrame, id: Column, grams: DataFrame,
      cost: Column, nCol: String): DataFrame = {
    val scored = grams.groupBy("doc_id")
      .agg(count(lit(1)).as(nCol), sum(cost).as("total_cost_micro"))
    df.select(id.as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col(nCol), lit(0L)).as(nCol),
        coalesce(col("total_cost_micro"), lit(0L)).as("total_cost_micro"),
        (col("total_cost_micro").cast("double")
          / col(nCol).cast("double")).as("avg_cost_micro"))
  }

  /** Train an add-1-smoothed bigram LM from a corpus. Output: the
    * backoff table (w1, w2, cost) described above, with
    * cost = round(−ln((c(w1,w2) + 1) / (c(w1) + V)) × 10⁶),
    * unseen-successor rows at c(w1,w2) = 0 and the OOV row at
    * c(w1) = 0. V counts the distinct tokens observed in any bigram
    * position (tokens appearing only in sub-2-token docs are outside
    * the model — they can never be scored either). */
  def train(df: DataFrame, id: Column, text: Column): DataFrame = {
    val cb = ngrams(df, id, text, 2)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_bi"))
    val cu = cb.groupBy("w1").agg(sum(col("c_bi")).as("c_w1"))
    val v = cb.select(col("w1").as("w")).unionByName(
        cb.select(col("w2").as("w")))
      .distinct().agg(count(lit(1)).as("v"))
    val seen = cb.join(cu, "w1").crossJoin(broadcast(v))
      .select(col("w1"), col("w2"),
        costMicro((col("c_bi") + 1).cast("double")
          / (col("c_w1") + col("v")).cast("double")).as("cost"))
    val unseen = cu.crossJoin(broadcast(v))
      .select(col("w1"), lit(null).cast("string").as("w2"),
        costMicro(lit(1.0)
          / (col("c_w1") + col("v")).cast("double")).as("cost"))
    val oov = v.select(lit(null).cast("string").as("w1"),
      lit(null).cast("string").as("w2"),
      costMicro(lit(1.0) / col("v").cast("double")).as("cost"))
    seen.unionByName(unseen).unionByName(oov)
  }

  /** Score each doc under a [[train]]-shaped model: total and
    * per-bigram average micro-cost (the pseudo-perplexity a curation
    * gate thresholds — higher = less corpus-like). Every bigram
    * resolves through the backoff chain: exact (w1, w2) → unseen
    * successor of w1 → OOV. Output: (doc_id, n_bigrams,
    * total_cost_micro, avg_cost_micro DOUBLE raw — one IEEE division
    * over exact integers). Docs with < 2 tokens score NULL avg with
    * n_bigrams = 0. */
  def scoreDocs(df: DataFrame, id: Column, text: Column,
      model: DataFrame): DataFrame = {
    val seen = model.filter(col("w1").isNotNull && col("w2").isNotNull)
      .select(col("w1"), col("w2"), col("cost").as("__c_seen"))
    val unseen = model.filter(col("w1").isNotNull && col("w2").isNull)
      .select(col("w1"), col("cost").as("__c_unseen"))
    val oov = model.filter(col("w1").isNull)
      .select(col("cost").as("__c_oov"))
    perDoc(df, id, ngrams(df, id, text, 2)
        .join(seen, Seq("w1", "w2"), "left")
        .join(unseen, Seq("w1"), "left")
        .crossJoin(broadcast(oov)),
      coalesce(col("__c_seen"), col("__c_unseen"), col("__c_oov")),
      "n_bigrams")
  }

  /** Interpolated Kneser–Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1999, both public) — the smoothing the actual
    * KenLM/CCNet perplexity filters use, upgrading [[train]]'s add-1:
    * add-1 hands unseen successors probability proportional to NOTHING
    * (uniform), while KN backs off to the CONTINUATION probability — how
    * many distinct contexts a word follows — which is what makes
    * "Francisco" (frequent, one context) score below "report" (less
    * frequent, many contexts).
    *
    *   p_kn(w2|w1) = max(c(w1,w2) − D, 0)/c(w1)
    *               + (D · N₁₊(w1·)/c(w1)) · N₁₊(·w2)/B
    *
    * with D the absolute discount, N₁₊(w1·) the distinct successors of
    * w1, N₁₊(·w2) the distinct predecessors of w2, B the distinct bigram
    * types. Every input is an exact integer off ONE (w1, w2) count frame;
    * the probability is a fixed-shape IEEE expression over them (no
    * transcendentals), so the rounded output is engine-reproducible
    * bit-for-bit.
    *
    * Scale shape: one bigram explode → one (w1, w2) groupBy (map-side
    * combinable; the only corpus-sized shuffle — [[train]]'s exact
    * shape); successor/predecessor/type counts are all model-sized
    * aggregates of that frame; the final assembly is two model-sized
    * equi-joins plus a 1-row broadcast. Output: (w1, w2, c_bi, p_kn)
    * for every observed bigram, p_kn RAW double. */
  def trainKn(df: DataFrame, id: Column, text: Column,
      discount: Double = 0.75): DataFrame = {
    val (seen, _, _, _) = knCounts(df, id, text, discount)
    seen.select(col("w1"), col("w2"), col("c_bi"), pKn(discount).as("p_kn"))
  }

  /** The count frames [[trainKn]] and [[trainKnBackoff]] share, all off
    * ONE (w1, w2) count frame: (every observed bigram with its c_bi,
    * c_w1, n_fw, n_bw and b_types; per w1 (c_w1, n_fw); per w2 (n_bw);
    * the 1-row b_types). */
  private def knCounts(df: DataFrame, id: Column, text: Column,
      discount: Double): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    require(discount > 0.0 && discount < 1.0,
      s"absolute discount must be in (0,1), got $discount")
    val cb = ngrams(df, id, text, 2)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_bi"))
    val fw = cb.groupBy("w1").agg(sum(col("c_bi")).as("c_w1"),
      count(lit(1)).as("n_fw"))
    val bw = cb.groupBy("w2").agg(count(lit(1)).as("n_bw"))
    val b = cb.agg(count(lit(1)).as("b_types"))
    (cb.join(fw, "w1").join(bw, "w2").crossJoin(broadcast(b)), fw, bw, b)
  }

  /** p_kn(w2|w1) over the observed-bigram columns of [[knCounts]]. */
  private def pKn(discount: Double): Column =
    (greatest(col("c_bi").cast("double") - lit(discount), lit(0.0))
      / col("c_w1")
      + ((lit(discount) * col("n_fw")) / col("c_w1"))
        * (col("n_bw").cast("double") / col("b_types")))

  /** Interpolated Kneser–Ney TRIGRAM probabilities — the order-3 step
    * toward the real KenLM shape (Chen & Goodman 1999 eq. 18: the
    * highest order discounts RAW counts, every lower order discounts
    * CONTINUATION/type counts):
    *
    *   p₃(w3|w1,w2) = max(c(w123) − D, 0)/c(w12·)
    *                + (D·N₁₊(w12·)/c(w12·)) · p₂(w3|w2)
    *   p₂(w3|w2)    = max(N₁₊(·w2w3) − D, 0)/N₁₊(·w2·)
    *                + (D·N₁₊(w2·)/N₁₊(·w2·)) · N₁₊(··w3)/B₂
    *
    * Every count is a model-sized aggregate of the ONE (w1, w2, w3)
    * type/count frame (all lower-order type counts read trigram types,
    * the self-consistent convention — doc-boundary bigrams outside any
    * trigram are out of model, exactly like [[train]]'s sub-2-token
    * rule). Probability is a fixed-shape IEEE expression over exact
    * integers — no transcendentals — so the rounded output is
    * engine-reproducible bit-for-bit.
    *
    * Scale shape: one corpus-sized (w1, w2, w3) groupBy (map-side
    * combinable — the only corpus-sized shuffle); five model-sized
    * aggregates/joins + one 1-row broadcast. Output: (w1, w2, w3,
    * c_tri, p_kn3 RAW) for every observed trigram. */
  def trainKn3(df: DataFrame, id: Column, text: Column,
      discount: Double = 0.75): DataFrame =
    kn3Counts(df, id, text, discount).p3
      .select(col("w1"), col("w2"), col("w3"), col("c_tri"),
        pKn3(discount).as("p_kn3"))

  /** The count frames [[trainKn3]] and [[trainKn3Backoff]] share, all
    * off ONE (w1, w2, w3) count frame: `p3` is every observed trigram
    * with all its counts; `c12` the history (w1, w2)'s raw continuation
    * total and distinct-successor types; `pre23` N₁₊(·w2w3), the
    * distinct w1 preceding (w2, w3); `mid2` per w2 N₁₊(·w2·) = Σ_w3
    * N₁₊(·w2w3) and N₁₊(w2·); `w3c` N₁₊(··w3), the distinct (w2, w3)
    * types per w3; `b2` the 1-row count B₂ of all (w2, w3) types. */
  private case class Kn3Counts(p3: DataFrame, c12: DataFrame,
      pre23: DataFrame, mid2: DataFrame, w3c: DataFrame, b2: DataFrame)

  private def kn3Counts(df: DataFrame, id: Column, text: Column,
      discount: Double): Kn3Counts = {
    require(discount > 0.0 && discount < 1.0,
      s"absolute discount must be in (0,1), got $discount")
    val c3 = ngrams(df, id, text, 3)
      .groupBy("w1", "w2", "w3").agg(count(lit(1)).as("c_tri"))
    val c12 = c3.groupBy("w1", "w2").agg(sum(col("c_tri")).as("c_12"),
      count(lit(1)).as("n_fw12"))
    val pre23 = c3.groupBy("w2", "w3").agg(count(lit(1)).as("n_pre23"))
    val mid2 = pre23.groupBy("w2").agg(sum(col("n_pre23")).as("n_pre2dot"),
      count(lit(1)).as("n_fw2"))
    val w3c = pre23.groupBy("w3").agg(count(lit(1)).as("n_pre3"))
    val b2 = pre23.agg(count(lit(1)).as("b2_types"))
    Kn3Counts(c3.join(c12, Seq("w1", "w2")).join(pre23, Seq("w2", "w3"))
      .join(mid2, Seq("w2")).join(w3c, Seq("w3")).crossJoin(broadcast(b2)),
      c12, pre23, mid2, w3c, b2)
  }

  /** p₂(w3|w2), the continuation-count bigram KN, over [[kn3Counts]]
    * columns. */
  private def pKn2(discount: Double): Column =
    greatest(col("n_pre23").cast("double") - lit(discount), lit(0.0)) /
      col("n_pre2dot") +
      ((lit(discount) * col("n_fw2")) / col("n_pre2dot")) *
        (col("n_pre3").cast("double") / col("b2_types"))

  /** p₃(w3|w1,w2) over the observed-trigram columns of [[kn3Counts]]. */
  private def pKn3(discount: Double): Column =
    (greatest(col("c_tri").cast("double") - lit(discount), lit(0.0))
      / col("c_12")
      + ((lit(discount) * col("n_fw12")) / col("c_12")) * pKn2(discount))

  /** [[trainKn3]] re-shaped as a self-contained backoff table in integer
    * micro-costs, keyed by an explicit `kind` column (six row shapes —
    * the NULL-pattern encoding of [[trainKnBackoff]] stops scaling past
    * two orders):
    *  - kind "p3"   (w1, w2, w3): −ln p₃(w3|w1,w2) for observed trigrams;
    *  - kind "lam12" (w1, w2):    −ln λ₁₂ = −ln(D·N₁₊(w12·)/c(w12·));
    *  - kind "p2"   (w2, w3):     −ln p₂(w3|w2) (the continuation-count
    *    bigram KN of [[trainKn3]]'s lower order);
    *  - kind "lam2" (w2):         −ln λ₂ = −ln(D·N₁₊(w2·)/N₁₊(·w2·));
    *  - kind "cont" (w3):         −ln N₁₊(··w3)/B₂;
    *  - kind "oov"  ():           −ln 1/B₂ (one pseudo-type floor).
    * A scored trigram resolves seen-exact → λ₁₂ + [p₂ seen → else
    * λ₂ + [cont → else floor]], every missing component replaced by the
    * floor; components micro-round independently (the [[trainKnBackoff]]
    * ±1 μ contract). Same scale shape as [[trainKn3]]. */
  def trainKn3Backoff(df: DataFrame, id: Column, text: Column,
      discount: Double = 0.75): DataFrame = {
    val kc = kn3Counts(df, id, text, discount)
    def row(kind: String, w1: Column, w2: Column, w3: Column,
        cost: Column): Seq[Column] =
      Seq(lit(kind).as("kind"), w1.as("w1"), w2.as("w2"), w3.as("w3"),
        cost.as("cost"))
    val nullS = lit(null).cast("string")
    val p3 = kc.p3.select(row("p3", col("w1"), col("w2"), col("w3"),
      costMicro(pKn3(discount))): _*)
    val lam12 = kc.c12.select(row("lam12", col("w1"), col("w2"), nullS,
      costMicro((lit(discount) * col("n_fw12")) / col("c_12"))): _*)
    val p2 = kc.pre23.join(kc.mid2, Seq("w2")).join(kc.w3c, Seq("w3"))
      .crossJoin(broadcast(kc.b2))
      .select(row("p2", nullS, col("w2"), col("w3"),
        costMicro(pKn2(discount))): _*)
    val lam2 = kc.mid2.select(row("lam2", nullS, col("w2"), nullS,
      costMicro((lit(discount) * col("n_fw2")) / col("n_pre2dot"))): _*)
    val cont = kc.w3c.crossJoin(broadcast(kc.b2))
      .select(row("cont", nullS, nullS, col("w3"),
        costMicro(col("n_pre3").cast("double") / col("b2_types"))): _*)
    val oov = kc.b2.select(row("oov", nullS, nullS, nullS,
      costMicro(lit(1.0) / col("b2_types"))): _*)
    p3.unionByName(lam12).unionByName(p2).unionByName(lam2)
      .unionByName(cont).unionByName(oov)
  }

  /** Score each doc under a [[trainKn3Backoff]] model — the order-3
    * analogue of [[scoreDocsKn]], same output contract: (doc_id,
    * n_trigrams, total_cost_micro, avg_cost_micro). Joins: one
    * (w1,w2,w3) equi-join for the seen costs, then (w1,w2)/(w2,w3)/
    * (w2)/(w3) model-sized equi-joins for the backoff components —
    * plain shuffle joins throughout (Heaps'-law vocabularies). */
  def scoreDocsKn3(df: DataFrame, id: Column, text: Column,
      model: DataFrame): DataFrame = {
    def part(kind: String, keys: Seq[String], as: String): DataFrame =
      model.filter(col("kind") === kind)
        .select(keys.map(col) :+ col("cost").as(as): _*)
    perDoc(df, id, ngrams(df, id, text, 3)
        .join(part("p3", Seq("w1", "w2", "w3"), "__c3"),
          Seq("w1", "w2", "w3"), "left")
        .join(part("lam12", Seq("w1", "w2"), "__l12"),
          Seq("w1", "w2"), "left")
        .join(part("p2", Seq("w2", "w3"), "__c2"), Seq("w2", "w3"), "left")
        .join(part("lam2", Seq("w2"), "__l2"), Seq("w2"), "left")
        .join(part("cont", Seq("w3"), "__cc"), Seq("w3"), "left")
        .crossJoin(broadcast(model.filter(col("kind") === "oov")
          .select(col("cost").as("__oo")))),
      coalesce(col("__c3"),
        coalesce(col("__l12"), col("__oo"))
          + coalesce(col("__c2"),
            coalesce(col("__l2"), col("__oo"))
              + coalesce(col("__cc"), col("__oo")))),
      "n_trigrams")
  }

  /** [[trainKn]] re-shaped as a [[train]]-style self-contained backoff
    * table in integer micro-costs, so documents can be SCORED under the
    * KN model with addition-order-free integer sums. Four row shapes:
    *  - (w1, w2, cost)    — observed bigram: −ln p_kn(w2|w1);
    *  - (w1, NULL, cost)  — the history's backoff weight: −ln λ(w1)
    *    with λ(w1) = D·N₁₊(w1·)/c(w1);
    *  - (NULL, w2, cost)  — the continuation cost: −ln N₁₊(·w2)/B;
    *  - (NULL, NULL, cost) — the OOV floor: −ln 1/B (one pseudo-type).
    * An unseen bigram with known history and known continuation scores
    * λ(w1)·p_cont(w2) as the SUM of the two micro-rounded component
    * costs (each component rounds independently — the documented ±1 μ
    * from rounding before the add is the price of order-free sums).
    * Scale shape identical to [[trainKn]]: one corpus-sized (w1, w2)
    * shuffle, everything else model-sized. */
  def trainKnBackoff(df: DataFrame, id: Column, text: Column,
      discount: Double = 0.75): DataFrame = {
    val (obs, fw, bw, b) = knCounts(df, id, text, discount)
    val seen = obs.select(col("w1"), col("w2"),
      costMicro(pKn(discount)).as("cost"))
    val lam = fw
      .select(col("w1"), lit(null).cast("string").as("w2"),
        costMicro((lit(discount) * col("n_fw")) / col("c_w1")).as("cost"))
    val cont = bw.crossJoin(broadcast(b))
      .select(lit(null).cast("string").as("w1"), col("w2"),
        costMicro(col("n_bw").cast("double") / col("b_types")).as("cost"))
    val oov = b.select(lit(null).cast("string").as("w1"),
      lit(null).cast("string").as("w2"),
      costMicro(lit(1.0) / col("b_types")).as("cost"))
    seen.unionByName(lam).unionByName(cont).unionByName(oov)
  }

  /** Score each doc under a [[trainKnBackoff]] model — the KN analogue
    * of [[scoreDocs]], same output contract: (doc_id, n_bigrams,
    * total_cost_micro, avg_cost_micro). Backoff per bigram:
    * exact (w1, w2) → λ(w1) + p_cont(w2), each missing component
    * replaced by the OOV floor. Joins: one (w1, w2) equi-join against
    * the model's seen rows, two single-word equi-joins — all plain
    * shuffle joins (Heaps'-law vocabularies, the [[scoreDocs]] rule). */
  def scoreDocsKn(df: DataFrame, id: Column, text: Column,
      model: DataFrame): DataFrame = {
    val seen = model.filter(col("w1").isNotNull && col("w2").isNotNull)
      .select(col("w1"), col("w2"), col("cost").as("__c_seen"))
    val lam = model.filter(col("w1").isNotNull && col("w2").isNull)
      .select(col("w1"), col("cost").as("__c_lam"))
    val cont = model.filter(col("w1").isNull && col("w2").isNotNull)
      .select(col("w2"), col("cost").as("__c_cont"))
    val oov = model.filter(col("w1").isNull && col("w2").isNull)
      .select(col("cost").as("__c_oov"))
    perDoc(df, id, ngrams(df, id, text, 2)
        .join(seen, Seq("w1", "w2"), "left")
        .join(lam, Seq("w1"), "left")
        .join(cont, Seq("w2"), "left")
        .crossJoin(broadcast(oov)),
      coalesce(col("__c_seen"),
        coalesce(col("__c_lam"), col("__c_oov"))
          + coalesce(col("__c_cont"), col("__c_oov"))),
      "n_bigrams")
  }
}
