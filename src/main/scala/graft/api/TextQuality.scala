package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Pin

/** User-facing text-quality API over arbitrary DataFrames — the generic
  * forms behind the fixture-bound `SparkEntry` quality/scrub keys, in the
  * same pattern as [[TextDedup]] / [[Similarity]]:
  *
  * {{{
  *   import graft.api.TextQuality
  *   val stats = TextQuality.gopherStats(docs, $"id", $"body")
  *   val kept  = TextQuality.gopherFilter(docs, $"id", $"body")
  *                 .filter($"keep")
  *   val clean = TextQuality.scrub(docs, $"id", $"body")
  * }}}
  *
  * Scale contracts: everything is map-side HOF arithmetic except the
  * single explode → partial-agg groupBy that token dominance needs; all
  * ratios are exact-integer divisions finished in IEEE double, and filter
  * gates compare on the RAW doubles so thresholds are exactly
  * reproducible across engines.
  */
object TextQuality {

  /** Gopher/C4-style per-document statistics (RAW, unrounded):
    * (id, n_words, mean_word_len, short_frac, top_word_ratio).
    * `sep` is a token-separator REGEX (Java `Pattern` — it reaches
    * `functions.split`); quote literal metacharacters, e.g.
    * `"\\|"` for a pipe or `"\\s+"` for any whitespace run. */
  def gopherStats(df: DataFrame, id: Column, text: Column,
      sep: String = " "): DataFrame = {
    val toks = split(text, sep)
    val nW = size(toks).cast("double")
    val base = df.select(id.as("__id"),
      size(toks).cast("long").as("n_words"),
      (aggregate(toks, lit(0L), (acc, x) => acc + length(x).cast("long"))
        .cast("double") / nW).as("mean_word_len"),
      (size(filter(toks, x => length(x) <= 2)).cast("double") / nW)
        .as("short_frac"))
    val dom = df
      .select(id.as("__id"), explode(split(text, sep)).as("__token"))
      .groupBy("__id", "__token").agg(count(lit(1)).as("__c"))
      .groupBy("__id")
      .agg((max(col("__c")).cast("double") / sum(col("__c")).cast("double"))
        .as("top_word_ratio"))
    // LEFT join: a NULL-text row explodes to zero tokens, so an inner join
    // would silently drop it from a generic stats API; it must survive with
    // top_word_ratio = NULL instead
    base.join(dom, Seq("__id"), "left").withColumnRenamed("__id", "id")
  }

  /** [[gopherStats]] plus a `keep` gate ANDing the published Gopher-style
    * thresholds (word-count band, mean-word-length band, max single-token
    * dominance). Gates evaluate on the raw statistics. */
  def gopherFilter(df: DataFrame, id: Column, text: Column,
      minWords: Long = 10, maxWords: Long = 100000,
      minMeanWordLen: Double = 2.0, maxMeanWordLen: Double = 10.0,
      maxDominance: Double = 0.2): DataFrame =
    gopherStats(df, id, text).withColumn("keep",
      col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("mean_word_len") >= minMeanWordLen &&
        col("mean_word_len") <= maxMeanWordLen &&
        col("top_word_ratio") <= maxDominance)

  /** Gopher-style repetition statistics (RAW, unrounded):
    * (id, n_tokens, dup_token_frac, top_bigram_frac).
    * `sep` is a token-separator REGEX (quote metacharacters — the
    * [[gopherStats]] contract); bigram keys re-join tokens with a single
    * space, so with a custom separator whose tokens may CONTAIN spaces,
    * distinct bigrams could alias — keep tokens space-free.
    * dup_token_frac = 1 − distinct/total tokens; top_bigram_frac = count of
    * the most frequent in-row bigram / (n_tokens − 1), 0.0 for docs with
    * fewer than 2 tokens. Scale shape: map-side token arithmetic plus ONE
    * in-row-bigram explode → partial-agg groupBy (the same shape as token
    * dominance in [[gopherStats]]) — no self-joins, no corpus-wide state. */
  def repetitionStats(df: DataFrame, id: Column, text: Column,
      sep: String = " "): DataFrame = {
    val toks = split(text, sep)
    val base = df.select(id.as("__id"),
      size(toks).cast("long").as("n_tokens"),
      (lit(1.0) - size(array_distinct(toks)).cast("double") /
        size(toks).cast("double")).as("dup_token_frac"))
    // in-row bigrams from the MATERIALIZED token array (element_at over a
    // re-split would be O(n²) per row — the llm_ngram_counts lesson)
    val bigrams = df.select(id.as("__id"), split(text, sep).as("__tk"))
      .filter(size(col("__tk")) > 1)
      .select(col("__id"), size(col("__tk")).as("__n"),
        explode(transform(sequence(lit(1), size(col("__tk")) - 1),
          i => concat_ws(" ", element_at(col("__tk"), i),
            element_at(col("__tk"), i + 1)))).as("__bg"))
      .groupBy(col("__id"), col("__n"), col("__bg"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__id"))
      .agg((max(col("__c")).cast("double") / (first(col("__n")) - 1))
        .as("top_bigram_frac"))
    // LEFT join + 0.0 default: a sub-2-token row has no bigrams and must
    // survive with a well-defined fraction, not vanish (the gopherStats
    // NULL-text lesson)
    base.join(bigrams, Seq("__id"), "left")
      .withColumn("top_bigram_frac",
        coalesce(col("top_bigram_frac"), lit(0.0)))
      .withColumnRenamed("__id", "id")
  }

  /** [[repetitionStats]] plus a `keep` gate on the raw fractions — the
    * Gopher repetition-removal rule (drop documents dominated by repeated
    * tokens or a single repeated n-gram). */
  def repetitionFilter(df: DataFrame, id: Column, text: Column,
      maxDupTokenFrac: Double = 0.55, maxTopBigramFrac: Double = 0.05,
      sep: String = " "): DataFrame =
    repetitionStats(df, id, text, sep).withColumn("keep",
      col("dup_token_frac") <= maxDupTokenFrac &&
        col("top_bigram_frac") <= maxTopBigramFrac)

  /** Benchmark decontamination: flag training documents sharing at least
    * one token `width`-gram with the evaluation corpus — the standard
    * n-gram-overlap test-set-leakage check every LLM data pipeline runs
    * before training (production widths are 8–13 tokens; pick `width` to
    * taste for the vocabulary at hand).
    *
    * Output: (id, n_grams, n_matched, contamination_frac) for contaminated
    * documents only (n_matched ≥ 1).
    *
    * `sep` is a token-separator REGEX; gram keys re-join tokens with a
    * single space (keep tokens space-free, the [[repetitionStats]]
    * caveat).
    *
    * Scale shape: grams are built in-row from the materialized token
    * array; both sides deduplicate BEFORE the join (shuffle volume =
    * distinct grams, not token stream); the match is a plain equi-join on
    * the gram — at corpus scale hash the gram to 64 bits first to shrink
    * shuffle bytes (collisions only ever ADD a flagged doc: acceptable for
    * a removal screen, so hashing is safe there; the fixture query keeps
    * raw grams for exact oracle parity). */
  def decontaminate(train: DataFrame, eval0: DataFrame, id: Column,
      text: Column, width: Int = 8, sep: String = " "): DataFrame = {
    require(width >= 2, s"gram width must be >= 2, got $width")
    def grams(df: DataFrame): DataFrame =
      df.select(id.as("__id"), split(text, sep).as("__tk"))
        .filter(size(col("__tk")) >= width)
        .select(col("__id"),
          explode(transform(
            sequence(lit(1), size(col("__tk")) - (width - 1)),
            i => concat_ws(" ", (0 until width)
              .map(j => element_at(col("__tk"), i + j)): _*))).as("__gram"))
    val evalGrams = grams(eval0).select("__gram").distinct()
    val trainGrams = grams(train).distinct()
    // ONE pass over the train grams: left-join the (distinct) eval grams
    // and count rows vs hits in the same aggregation. The two-aggregate
    // form (totals ⋈ matched) re-ran the corpus explode+distinct per
    // consumer — 2× the dominant scan at any scale.
    trainGrams
      .join(evalGrams.withColumn("__hit", lit(1)), Seq("__gram"), "left")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_grams"), count(col("__hit")).as("n_matched"))
      .filter(col("n_matched") > 0) // ≡ the inner totals ⋈ matched join
      .select(col("__id").as("id"), col("n_grams"), col("n_matched"),
        (col("n_matched").cast("double") / col("n_grams"))
          .as("contamination_frac"))
  }

  /** MEASURED recall audit of the [[decontaminate]] n-gram screen — the
    * llm_ann_recall discipline applied to decontamination: PLANT a
    * contiguous `spanTokens`-token span from each eval doc into a
    * deterministic target train doc (target id = eval id + targetShift;
    * distinct eval ids give distinct targets, and spans whose target id
    * is absent from the train side simply plant nothing), run the real
    * screen at `width`, and report how many planted targets it flagged.
    * By construction every planted span contributes
    * spanTokens − width + 1 grams that exist verbatim in the eval doc,
    * so measured recall < 1.0 means the SCREEN is wired wrong — which
    * is exactly what an audit is for. `n_other_flagged` prices the
    * natural (unplanted) overlap background at this width.
    * Output: one row (n_planted, n_planted_flagged, n_other_flagged,
    * recall — raw IEEE division of exact counts). */
  def decontamRecallAudit(train: DataFrame, eval0: DataFrame, id: Column,
      text: Column, width: Int = 8, spanTokens: Int = 10,
      targetShift: Long = 2L): DataFrame = {
    require(spanTokens >= width,
      s"spanTokens=$spanTokens must be >= width=$width (a shorter span " +
        "plants zero full grams and the audit would measure nothing)")
    val spans = eval0
      .select(id.as("__eid"), split(text, " ").as("__tk"))
      .filter(size(col("__tk")) >= spanTokens)
      .select((col("__eid") + targetShift).as("__id"),
        concat_ws(" ", slice(col("__tk"), 1, spanTokens)).as("__span"))
    val planted = train.select(id.as("__id"), text.as("__t"))
      .join(spans, Seq("__id"), "left")
      .select(col("__id"),
        when(col("__span").isNotNull,
          concat(col("__t"), lit(" "), col("__span")))
          .otherwise(col("__t")).as("__t"),
        col("__span").isNotNull.as("__target"))
    // decontaminate() binds ONE (id, text) column pair against both
    // frames — align the eval frame to the planted frame's names
    val evalAligned = eval0.select(id.as("__id"), text.as("__t"))
    val flagged = decontaminate(planted, evalAligned, col("__id"),
        col("__t"), width)
      .select(col("id").as("__id"), lit(1).as("__f"))
    planted.select(col("__id"), col("__target"))
      .join(flagged, Seq("__id"), "left")
      .agg(
        sum(when(col("__target"), 1L).otherwise(0L)).as("n_planted"),
        sum(when(col("__target") && col("__f").isNotNull, 1L)
          .otherwise(0L)).as("n_planted_flagged"),
        sum(when(!col("__target") && col("__f").isNotNull, 1L)
          .otherwise(0L)).as("n_other_flagged"))
      .withColumn("recall",
        col("n_planted_flagged").cast("double")
          / col("n_planted").cast("double"))
  }

  /** PII-style scrub: replace every match of `pattern` in `payload` with
    * `replacement` and count the redactions. Map-side only; swap in
    * email/phone/id patterns without changing the plan. */
  def scrub(df: DataFrame, id: Column, payload: Column,
      pattern: String = "[0-9]+", replacement: String = "<NUM>"): DataFrame =
    df.select(id.as("id"),
      regexp_replace(payload, pattern, replacement).as("scrubbed"),
      regexp_count(payload, lit(pattern)).as("n_redacted"))

  /** Multi-pattern PII audit — the report a curation run produces BEFORE
    * deciding what to scrub: for each named pattern class, how many
    * records contain at least one match and how many matches there are
    * in total. ONE corpus pass: every pattern's count is computed in the
    * same projection (an in-row struct array exploded), then a
    * |patterns|-row aggregate. Map-side combinable end to end; swap in
    * any (name, regex) list — the audit plan never changes. Output:
    * (pii_type, n_docs, n_matches). */
  def piiAudit(df: DataFrame, payload: Column,
      patterns: Seq[(String, String)]): DataFrame = {
    require(patterns.nonEmpty, "need at least one (name, regex) pattern")
    df.select(explode(array(patterns.map { case (name, re) =>
        struct(lit(name).as("pii_type"),
          regexp_count(payload, lit(re)).cast("long").as("__n"))
      }: _*)).as("__x"))
      .select(col("__x.pii_type"), col("__x.__n"))
      .groupBy("pii_type")
      .agg(sum(when(col("__n") > 0, 1L).otherwise(0L)).as("n_docs"),
        sum(col("__n")).as("n_matches"))
      .orderBy("pii_type")
  }

  /** Fitted naive-Bayes language identification, scored back over its own
    * training frame and reported as a (label, pred_label, n) confusion
    * matrix — the corpus-audit view (off-diagonal mass = mislabeled or
    * code-mixed documents). Per-(label, token) Laplace-smoothed log-probs;
    * a document's score per candidate label is the order-free DECIMAL sum
    * of 9-dp-rounded log-probs, so ranking is exactly reproducible across
    * engines.
    *
    * Plan shape: ONE corpus tokenization pass, materialized: the per-doc
    * distinct-token counts feed both the model fit and the scoring probe,
    * and the (label, token) model table has four consumers (vocab size,
    * per-label totals, the smoothing grid, the probs join) — without the
    * two truncation points each consumer re-runs the corpus explode
    * (measured ~5 redundant passes ≈ 2× the query's runtime). The scoring
    * join is a PLAIN shuffle equi-join on token: the model table is
    * |vocab| × |labels| and vocabulary grows with the corpus (Heaps' law),
    * so a broadcast hint would OOM executors at web scale; AQE may still
    * pick BHJ from runtime stats at small scale — the planner's call.
    * The per-doc token frame is corpus-sized ([[graft.util.Pin]] states
    * what its pin survives). */
  def langIdConfusion(df: DataFrame, id: Column, label: Column,
      text: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = df.select(id.as("__id"), label.as("__label"),
      explode(split(text, " ")).as("token"))
    val docTok = Pin(toks.groupBy(col("__id"), col("__label"), col("token"))
      .agg(count(lit(1)).as("n_tok")))
    val langTok = Pin(docTok.groupBy(col("__label"), col("token"))
      .agg(sum(col("n_tok")).as("c_lt")))
    val vocabN = langTok.filter(col("c_lt") > 0)
      .select("token").distinct().agg(count(lit(1)).as("v"))
    val langTot = langTok.groupBy(col("__label"))
      .agg(sum(col("c_lt")).as("c_l"))
    // complete (token × label) grid so unseen pairs get the smoothed floor;
    // the grid and the model table both descend from langTok, so the join
    // below is a self-join — the explicit aliases force the analyzer to
    // re-key the right side instead of resolving both operands to the same
    // attribute (the "trivially true equals predicate" hazard)
    val grid = langTok.filter(col("c_lt") > 0).select("token").distinct()
      .crossJoin(langTot.select(col("__label").as("m_label"), col("c_l")))
      .alias("g")
    val lt = langTok.alias("lt")
    val probs = grid
      .join(lt,
        col("g.token") === col("lt.token") &&
          col("g.m_label") === col("lt.__label"), "left")
      .select(col("g.token").as("token"), col("g.m_label").as("m_label"),
        coalesce(col("lt.c_lt"), lit(0L)).as("c_lt"), col("g.c_l").as("c_l"))
      .crossJoin(broadcast(vocabN))
      .select(col("token"), col("m_label"),
        round(log((col("c_lt") + 1).cast("double") /
          (col("c_l") + col("v"))), 9)
          .cast(DecimalType(18, 9)).as("logp"))
    // Σ logp over token instances ≡ Σ logp·count over distinct
    // (doc, token) pairs, exactly, in decimal arithmetic — and the join
    // probe side shrinks by the average within-doc repetition factor
    val scores = docTok
      .join(probs, "token")
      .groupBy(col("__id"), col("__label"), col("m_label"))
      .agg(sum(col("logp") * col("n_tok")).as("score"))
    // per-doc argmax via the min-struct idiom (r16): decimal negation
    // is exact and field order IS the tie-break (score desc ≡ −score
    // asc, then m_label asc) — identical row to the row_number window
    // it replaces, but map-side combinable instead of a shuffle + sort
    // + single-pass rank over the corpus-sized score frame
    scores.groupBy(col("__id"), col("__label"))
      .agg(min(struct((-col("score")).as("ns"),
        col("m_label").as("m_label"))).as("__best"))
      .groupBy(col("__label").as("label"),
        col("__best.m_label").as("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** Per-LINE language identification with a per-document mix profile —
    * CCNet runs LID at paragraph granularity (Wenzek et al. 2020)
    * because real crawl docs are code-mixed: an English page quoting a
    * German paragraph is one doc, two languages, and a doc-level vote
    * ([[langIdConfusion]]) papers over exactly that. The same
    * Laplace-smoothed naive-Bayes model fits on DOC-level labels; each
    * non-blank line (split on `delim`) votes independently; the profile
    * reports how mixed each doc is. Output: (doc_id, n_lines, n_langs,
    * major_lang, major_frac) — major_frac the majority language's share
    * of lines (count-desc, label-asc tie-break), RAW double from one
    * IEEE division of exact counts.
    *
    * Determinism and plan shape follow [[langIdConfusion]]: 9-dp-rounded
    * DECIMAL log-prob sums (order-free), the (label, token) model table
    * materialized once, the scoring join a
    * plain shuffle equi-join on token (Heaps'-law model, no broadcast
    * hint). Lines whose every token is outside the model vocabulary
    * cast no vote but still count in n_lines (major_frac < 1 flags
    * them); with the model fit on the same corpus this is vacuous. */
  def langSegments(df: DataFrame, id: Column, label: Column,
      text: Column, delim: String = "\n"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // ONE tokenization pass feeds both the model fit and the per-line
    // probe: the (doc, line, token) lattice (delim-split, then
    // space-split — a token never spans a line boundary)
    val lines = df.select(id.as("__id"),
        posexplode(split(text, delim)).as(Seq("__p", "__line")))
      .select(col("__id"), (col("__p") + 1L).as("__ln"), col("__line"))
      .filter(trim(col("__line")) =!= "")
    val lnTok = Pin(lines
      .select(col("__id"), col("__ln"),
        explode(split(col("__line"), " ")).as("token"))
      .groupBy(col("__id"), col("__ln"), col("token"))
      .agg(count(lit(1)).as("n_tok")))
    // --- model fit: identical arithmetic to langIdConfusion -----------
    val labels = df.select(id.as("__lid"), label.as("__label"))
    val langTok = Pin(lnTok
      .join(labels, col("__id") === col("__lid"))
      .groupBy(col("__label"), col("token"))
      .agg(sum(col("n_tok")).as("c_lt")))
    val vocabN = langTok.filter(col("c_lt") > 0)
      .select("token").distinct().agg(count(lit(1)).as("v"))
    val langTot = langTok.groupBy(col("__label"))
      .agg(sum(col("c_lt")).as("c_l"))
    // the label-totals side is |languages|-bounded by construction, so
    // the vocab × labels grid expansion is BROADCAST-hinted — without
    // the hint the planner may fall back to an (equally bounded but
    // sweep-flagged) CartesianProduct when size estimates are poor
    val grid = langTok.filter(col("c_lt") > 0).select("token").distinct()
      .crossJoin(broadcast(
        langTot.select(col("__label").as("m_label"), col("c_l"))))
      .alias("g")
    val lt = langTok.alias("lt")
    val probs = grid
      .join(lt,
        col("g.token") === col("lt.token") &&
          col("g.m_label") === col("lt.__label"), "left")
      .select(col("g.token").as("token"), col("g.m_label").as("m_label"),
        coalesce(col("lt.c_lt"), lit(0L)).as("c_lt"), col("g.c_l").as("c_l"))
      .crossJoin(broadcast(vocabN))
      .select(col("token"), col("m_label"),
        round(log((col("c_lt") + 1).cast("double") /
          (col("c_l") + col("v"))), 9)
          .cast(DecimalType(18, 9)).as("logp"))
    // --- per-line votes ----------------------------------------------
    val lnScores = lnTok.join(probs, "token")
      .groupBy(col("__id"), col("__ln"), col("m_label"))
      .agg(sum(col("logp") * col("n_tok")).as("score"))
    // per-line argmax via the min-struct idiom (r16): decimal negation
    // is exact and struct field order IS the tie-break (score desc,
    // m_label asc) — the same row the row_number window picked, but as
    // a map-side-combinable aggregate with no per-partition sort over
    // the corpus-sized line-score frame
    val votes = lnScores.groupBy(col("__id"), col("__ln"))
      .agg(min(struct((-col("score")).as("ns"),
        col("m_label").as("m_label"))).as("__best"))
      .select(col("__id"), col("__best.m_label").as("m_label"))
    // --- per-doc mix profile -----------------------------------------
    val perLang = votes.groupBy(col("__id"), col("m_label"))
      .agg(count(lit(1)).as("__n"))
    // ONE doc-keyed aggregate yields the language count AND the
    // majority row (min-struct again: __n desc, m_label asc) — the
    // window + second groupBy spelling read perLang twice and paid a
    // per-doc sort for a single rank
    val mix = perLang.groupBy("__id")
      .agg(count(lit(1)).as("n_langs"),
        min(struct((-col("__n")).as("nn"),
          col("m_label").as("m_label"))).as("__top"))
      .select(col("__id"), col("n_langs"),
        col("__top.m_label").as("major_lang"),
        (-col("__top.nn")).as("__maj"))
    // from the PINNED lattice, not `lines`: counting off the raw frame
    // re-runs the posexplode + trim lineage over the corpus a second
    // time, and every non-empty line owns ≥1 lattice row (a space-split
    // of a non-blank line is never empty), so distinct (__id, __ln) is
    // exactly the line set
    val nLines = lnTok.select(col("__id"), col("__ln")).distinct()
      .groupBy("__id").agg(count(lit(1)).as("n_lines"))
    nLines.join(mix, Seq("__id"), "left")
      .select(col("__id").as("doc_id"), col("n_lines"),
        coalesce(col("n_langs"), lit(0L)).as("n_langs"),
        col("major_lang"),
        (coalesce(col("__maj"), lit(0L)).cast("double")
          / col("n_lines").cast("double")).as("major_frac"))
  }

  /** First-failing-gate attribution — the per-document half of the
    * rejection FUNNEL every production curation run reports ("of the 10 B
    * documents in, stage 3 killed 22%, stage 4 another 9%, 61% survived").
    * Gates are (name, failCondition) pairs evaluated IN ORDER; a document
    * is attributed to the first gate whose condition is true, or to
    * `keptLabel` if none fire. A NULL gate condition (NULL stats on a
    * NULL-text row, say) counts as NOT failing that gate — make the gate
    * itself null-aware if NULLs should reject.
    *
    * Pure per-row expression over whatever stats frame the caller built —
    * attribution adds NO shuffle beyond the stats' own; downstream the
    * funnel report is one |gates|-row aggregate. Output: the input frame
    * plus (stage_idx, stage) — stage_idx 1-based in gate order,
    * |gates|+1 = kept — so both the per-doc audit ("why did MY document
    * die") and the aggregate funnel come from one pass. */
  def filterFunnel(df: DataFrame, gates: Seq[(String, Column)],
      keptLabel: String = "kept"): DataFrame = {
    require(gates.nonEmpty, "need at least one (name, failCondition) gate")
    val attributed = gates.zipWithIndex.foldLeft(
        lit(null).cast("struct<stage_idx:int,stage:string>")) {
      case (acc, ((name, cond), i)) =>
        coalesce(acc, when(cond,
          struct(lit(i + 1).as("stage_idx"), lit(name).as("stage"))))
    }
    val fin = coalesce(attributed,
      struct(lit(gates.size + 1).as("stage_idx"),
        lit(keptLabel).as("stage")))
    df.withColumn("__attr", fin)
      .withColumn("stage_idx", col("__attr.stage_idx"))
      .withColumn("stage", col("__attr.stage"))
      .drop("__attr")
  }

  /** Corpus n-gram diversity (distinct-n): per group, the fraction of
    * unique unigrams and bigrams in the group's token stream — the
    * standard Self-BLEU-adjacent audit for template collapse and
    * synthetic-data mode collapse (Zhu et al. 2018 "Texygen" distinct-n,
    * public). LOW distinct-n = the group repeats itself.
    *
    * Output: (group, n_tokens, n_distinct_tokens, distinct1, n_bigrams,
    * n_distinct_bigrams, distinct2); ratios are one IEEE division over
    * exact integers. Scale shape: two explode → partial-agg passes (one
    * per order); distinct counts are exact two-phase aggregates keyed by
    * (group, gram) — at extreme vocabularies swap in the HLL sketch
    * (`agg_approx_distinct`) without changing the plan shape. */
  def ngramDiversity(df: DataFrame, group: Column, text: Column,
      sep: String = " "): DataFrame = {
    val tk = split(text, sep)
    val uni = df.select(group.as("group"), explode(tk).as("__g"))
      .groupBy("group")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("__g")).as("n_distinct_tokens"))
    val bi = df.select(group.as("group"), tk.as("__tk"))
      .filter(size(col("__tk")) > 1)
      .select(col("group"), explode(transform(
        sequence(lit(1), size(col("__tk")) - 1),
        i => concat_ws(" ", element_at(col("__tk"), i),
          element_at(col("__tk"), i + 1)))).as("__g"))
      .groupBy("group")
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("__g")).as("n_distinct_bigrams"))
    uni.join(bi, Seq("group"), "left")
      .select(col("group"), col("n_tokens"), col("n_distinct_tokens"),
        (col("n_distinct_tokens").cast("double")
          / col("n_tokens").cast("double")).as("distinct1"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct_bigrams"), lit(0L))
          .as("n_distinct_bigrams"),
        (col("n_distinct_bigrams").cast("double")
          / col("n_bigrams").cast("double")).as("distinct2"))
  }

  /** Zipf rank–frequency fit per group — the lexical-health audit a
    * corpus sheet reports next to Heaps-law vocabulary growth: natural
    * text follows ln f ≈ α·ln r + c with α ≈ −1; a slope far from −1
    * (or a low R²) flags templated/synthetic/boilerplate-heavy slices.
    *
    * Determinism kit: ranks (frequency desc, token tie-break) and
    * frequencies are exact integers; ln(r)/ln(f) are micro-rounded to
    * BIGINT per type (the costMicro contract, ±1 µ cross-engine); the
    * five OLS moments Σx, Σy, Σxy, Σx², Σy² accumulate in
    * DecimalType(38,0) (micro-products reach ~4·10¹⁴ per type — a
    * LongType sum would wrap silently past ~3·10⁴ types); the
    * slope/intercept/R² formulas are a fixed IEEE expression over the
    * exact moments, emitted RAW. Output: (group, n_types, slope,
    * intercept, r2) — slope/intercept in µ·µ space cancel the 10⁶
    * scaling, so they read directly as ln-ln coefficients.
    *
    * Scale shape: one corpus-sized (group, token) aggregate, then
    * everything is vocabulary-sized; the rank window partitions by
    * group (vocab-per-group rows, never the corpus). */
  def zipfFit(df: DataFrame, group: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val dec = DecimalType(38, 0)
    val freq = df.select(group.as("group"),
        explode(split(text, " ")).as("__t"))
      .groupBy("group", "__t").agg(count(lit(1)).as("f"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group").orderBy(col("f").desc, col("__t"))
    def micro(c: Column): Column =
      round(log(c.cast("double")) * 1000000.0, 0).cast("long")
    val pts = freq.withColumn("r", row_number().over(w))
      .select(col("group"), micro(col("r")).as("x"), micro(col("f")).as("y"))
    val m = pts.groupBy("group").agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"),
      sum(col("y").cast(dec)).as("sy"),
      sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
      sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
      sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))
    val n = col("n").cast("double")
    def d(c: String): Column = col(c).cast("double")
    val cov = n * d("sxy") - d("sx") * d("sy")
    val vx = n * d("sxx") - d("sx") * d("sx")
    val vy = n * d("syy") - d("sy") * d("sy")
    m.select(col("group"), col("n").as("n_types"),
      (cov / vx).as("slope"),
      ((d("sy") / n - (cov / vx) * (d("sx") / n)) / lit(1000000.0))
        .as("intercept"),
      (cov * cov / (vx * vy)).as("r2"))
  }

  /** Flesch readability per document — the classic surface-form quality
    * score (Flesch 1948; Kincaid et al. 1975 — public formulas) from
    * three exact integer counts: words (single-space tokens), sentences
    * ([.!?]+ runs, floor 1), syllables (per-token [aeiouy]+ vowel-group
    * runs, floor 1 per token — the standard heuristic when no
    * pronunciation lexicon ships). The two scores are fixed IEEE
    * expressions over the exact counts, emitted RAW — bit-identical in
    * any engine that parses the same decimal literals. Pure map-side
    * per-doc work: one explode-aggregate per doc for syllables, no
    * corpus shuffle beyond it. Output: (id, n_words, n_sentences,
    * n_syllables, flesch_ease, fk_grade). */
  def readability(df: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = split(text, " ")
    val syl = aggregate(
      transform(toks, t => greatest(regexp_count(t, lit("[aeiouy]+")),
        lit(1))),
      lit(0L), (acc, v) => acc + v)
    val words = size(toks).cast("long")
    val sents = greatest(regexp_count(text, lit("[.!?]+")), lit(1))
      .cast("long")
    val wps = words.cast("double") / sents.cast("double")
    val spw = syl.cast("double") / words.cast("double")
    df.select(id.as("doc_id"), words.as("n_words"), sents.as("n_sentences"),
      syl.as("n_syllables"),
      (lit(206.835) - lit(1.015) * wps - lit(84.6) * spw).as("flesch_ease"),
      (lit(0.39) * wps + lit(11.8) * spw - lit(15.59)).as("fk_grade"))
  }
}
