package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Tables._

/** Retrieval-and-audit keys (round 8, session 3): BM25 ranked retrieval,
  * the curation rejection funnel, corpus distinct-n diversity, the
  * Kneser–Ney bigram model, and the embedding-space decontamination
  * screen — the remaining retrieval/report components of a production
  * training-data stack, each a thin fixture binding over
  * graft.api.{Retrieval, TextQuality, NgramLm, Similarity}.
  *
  * Scale notes:
  *  - BM25: the corpus token stream is screened against the broadcast
  *    query-term set BEFORE any shuffle — postings-sized from there on;
  *  - funnel: attribution is a pure per-row expression over the stats
  *    pass the gates already needed; the report is a |gates|-row agg;
  *  - diversity: two explode → partial-agg passes, distinct counts
  *    keyed by (group, gram) — swap in HLL at extreme vocabularies;
  *  - KN: one corpus-sized (w1, w2) shuffle; all else model-sized;
  *  - semantic decontamination: eval suites are benchmark-sized →
  *    broadcast; one corpus scan of codegen'd dots, no corpus shuffle.
  */
object Retrieval {

  /** BM25 constants, computed ONCE in Scala and interpolated into the
    * oracle as shortest-round-trip decimal literals, so both engines
    * score with bit-identical doubles (1.2 + 1 in IEEE is a half-ulp
    * tie — never re-derive it in SQL). */
  private val K1 = 1.2
  private val B = 0.75
  private val K1p1 = K1 + 1.0
  private val OneMinusB = 1.0 - B

  /** The fixed query workload of llm_bm25_topk (fixture-vocabulary
    * terms; swap any workload in — the plan is query-set-parametric). */
  private val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "fast scan merge",
    2 -> "key order table",
    3 -> "hash join window")

  /** DuckDB twin of the codegen'd sequential double dot-product fold. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  /** Funnel gate thresholds (fixture-tuned so every stage fires at
    * sf0.01; the operator is gate-list-parametric). */
  private val MinWords = 25
  private val MaxDupFrac = 0.62
  private val MaxDominance = 0.12
  private val MaxShortFrac = 0.05

  /** Semantic-decontamination threshold: the max-cosine median of the
    * fixture's random unit vectors sits ≈0.28, so 0.3 splits the corpus
    * (production taus are model/benchmark-calibrated). */
  private val SemTau = 0.3

  /** Shared per-doc stats for the funnel: map-side word/dup/short stats
    * plus the one explode → partial-agg dominance pass (the
    * gopherStats/repetitionStats spellings, assembled in one plan). */
  private def funnelStats(docs: DataFrame): DataFrame = {
    val tk = split(col("text"), " ")
    val base = docs.select(col("doc_id"),
      size(tk).cast("long").as("n_words"),
      (lit(1.0) - size(array_distinct(tk)).cast("double")
        / size(tk).cast("double")).as("dup_raw"),
      (size(filter(tk, x => length(x) <= 2)).cast("double")
        / size(tk).cast("double")).as("short_raw"))
    val dom = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("__token"))
      .groupBy("doc_id", "__token").agg(count(lit(1)).as("__c"))
      .groupBy("doc_id")
      .agg((max(col("__c")).cast("double") / sum(col("__c")).cast("double"))
        .as("dom_raw"))
    base.join(dom, Seq("doc_id"))
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Okapi BM25 top-10 per query (graft.api.Retrieval.bm25TopK): the
    // lexical retrieval op behind targeted corpus audits and seed-set
    // expansion. Scores are integer micro-nats (idf micro-rounded after
    // the only ln; per-term scores micro-rounded before the per-doc
    // sum), so totals are addition-order-free and ranks engine-exact.
    "llm_bm25_topk" -> ((s, d) => {
      val qdf = s.createDataFrame(Bm25Queries).toDF("query_id", "qtext")
      graft.api.Retrieval
        .bm25TopK(documents(s, d), col("doc_id"), col("text"), qdf,
          k = 10, k1 = K1, b = B)
        .select(col("query_id"), col("rk"), col("id").as("doc_id"),
          col("score_micro"))
        .orderBy("query_id", "rk")
    }),

    // BM25 against the PERSISTED index (graft.api.Retrieval
    // .writeBm25Index + bm25TopKAgainstIndex) — the nightly retrieval
    // form: the index write is timed here (honest cost, the
    // llm_dedup_incremental precedent); the query path never reads
    // corpus text. Same scoring code path as llm_bm25_topk ⇒ same
    // oracle answers; index-vs-direct equality is additionally pinned
    // in RetrievalSpec.
    "llm_bm25_index" -> ((s, d) => {
      val idx = graft.util.Staging.dir("bm25_index", d)
      graft.api.Retrieval.writeBm25Index(documents(s, d), col("doc_id"),
        col("text"), idx)
      val qdf = s.createDataFrame(Bm25Queries).toDF("query_id", "qtext")
      graft.api.Retrieval
        .bm25TopKAgainstIndex(s, idx, qdf, k = 10, k1 = K1, b = B)
        .select(col("query_id"), col("rk"), col("id").as("doc_id"),
          col("score_micro"))
        .orderBy("query_id", "rk")
    }),

    // The GROW step of the BM25 index (graft.api.Retrieval
    // .appendToBm25Index): index built from 90% of the corpus, the
    // held-out delta appended, queries against the grown index — which
    // must answer exactly like a fresh rebuild, so the key shares the
    // direct-scoring oracle (the llm_dedup_substring_grow shape; both
    // writes timed, honest nightly cost).
    "llm_bm25_grow" -> ((s, d) => {
      val idx = graft.util.Staging.dir("bm25_grow", d)
      val docs = documents(s, d)
      graft.api.Retrieval.writeBm25Index(
        docs.filter(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"),
        idx)
      graft.api.Retrieval.appendToBm25Index(
        docs.filter(col("doc_id") % 10 === 0), col("doc_id"), col("text"),
        idx)
      val qdf = s.createDataFrame(Bm25Queries).toDF("query_id", "qtext")
      graft.api.Retrieval
        .bm25TopKAgainstIndex(s, idx, qdf, k = 10, k1 = K1, b = B)
        .select(col("query_id"), col("rk"), col("id").as("doc_id"),
          col("score_micro"))
        .orderBy("query_id", "rk")
    }),

    // Rejection funnel (graft.api.TextQuality.filterFunnel): ordered
    // quality gates, each document attributed to its FIRST failing gate
    // — the per-stage removal report every curation run publishes.
    // Gates compare on RAW doubles (the gopherFilter discipline).
    "llm_filter_funnel" -> ((s, d) => {
      val funnel = graft.api.TextQuality.filterFunnel(
        funnelStats(documents(s, d)), Seq(
          "too_short" -> (col("n_words") < MinWords),
          "repetitive" -> (col("dup_raw") > MaxDupFrac),
          "dominated" -> (col("dom_raw") > MaxDominance),
          "short_tokens" -> (col("short_raw") > MaxShortFrac)))
      // every doc lands in exactly one stage, so the corpus total IS the
      // sum of the stage counts: one window over the ≤|gates|+1-row
      // report, never a second corpus pass
      val wAll = org.apache.spark.sql.expressions.Window
        .partitionBy(lit(1))
      funnel.groupBy("stage_idx", "stage")
        .agg(count(lit(1)).as("n_docs"))
        .select(col("stage_idx"), col("stage"), col("n_docs"),
          (col("n_docs").cast("double")
            / sum(col("n_docs")).over(wAll).cast("double")).as("frac"))
        .orderBy("stage_idx")
    }),

    // Funnel threshold SWEEP (the length_buckets_sweep discipline): the
    // yield curve a curation run consults before fixing its gates — for
    // each candidate min-words threshold (other gates held fixed),
    // survivors and survivor fraction, ALL thresholds priced in ONE
    // corpus pass (an in-row explode over the threshold grid feeding one
    // partial-agg groupBy; never one job per candidate).
    "llm_filter_funnel_sweep" -> ((s, d) => {
      val grid = Seq(10, 20, 30, 40, 50)
      val stats = funnelStats(documents(s, d))
        .withColumn("__pass_rest",
          (col("dup_raw") <= MaxDupFrac) &&
            (col("dom_raw") <= MaxDominance) &&
            (col("short_raw") <= MaxShortFrac))
      stats
        .select(col("__pass_rest"), col("n_words"),
          explode(array(grid.map(lit): _*)).as("min_words"))
        .groupBy("min_words")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__pass_rest") && col("n_words") >= col("min_words"),
            1L).otherwise(0L)).as("n_kept"))
        .select(col("min_words"), col("n_kept"),
          (col("n_kept").cast("double") / col("n_docs").cast("double"))
            .as("kept_frac"))
        .orderBy("min_words")
    }),

    // Corpus distinct-n diversity per source (graft.api.TextQuality
    // .ngramDiversity): unique-unigram and unique-bigram fractions —
    // the template-collapse / synthetic-mode-collapse audit.
    "llm_diversity_ngrams" -> ((s, d) =>
      graft.api.TextQuality
        .ngramDiversity(documents(s, d), col("source"), col("text"))
        .select(col("group").as("source"), col("n_tokens"),
          col("n_distinct_tokens"), round(col("distinct1"), 6)
            .as("distinct1"),
          col("n_bigrams"), col("n_distinct_bigrams"),
          round(col("distinct2"), 6).as("distinct2"))
        .orderBy("source")),

    // Interpolated Kneser–Ney bigram model (graft.api.NgramLm.trainKn):
    // the KenLM/CCNet smoothing next to the add-1 model of llm_ngram_lm.
    // Probability is a fixed-shape IEEE expression over exact integers
    // off ONE (w1, w2) count frame — no transcendentals anywhere.
    "llm_ngram_lm_kn" -> ((s, d) =>
      graft.api.NgramLm
        .trainKn(documents(s, d), col("doc_id"), col("text"))
        .select(col("w1"), col("w2"), col("c_bi"),
          round(col("p_kn"), 6).as("p_kn_r"))
        .orderBy("w1", "w2")),

    // TRIGRAM interpolated Kneser–Ney (graft.api.NgramLm.trainKn3) —
    // the order-3 step toward the real KenLM shape: highest order
    // discounts raw counts, the bigram level discounts CONTINUATION
    // type counts (Chen & Goodman 1999). One corpus-sized (w1,w2,w3)
    // shuffle; everything else model-sized; no transcendentals.
    "llm_ngram_lm_kn3" -> ((s, d) =>
      graft.api.NgramLm
        .trainKn3(documents(s, d), col("doc_id"), col("text"))
        .select(col("w1"), col("w2"), col("w3"), col("c_tri"),
          round(col("p_kn3"), 6).as("p_kn3_r"))
        .orderBy("w1", "w2", "w3")),

    // KN perplexity scoring (graft.api.NgramLm.trainKnBackoff +
    // scoreDocsKn): the CCNet-style quality signal under the KN model.
    // The model trains on the src0 slice and scores the WHOLE corpus, so
    // the λ(w1)+p_cont(w2) backoff path is exercised by real unseen
    // bigrams, not just the seen-cost join. Costs are integer micro-nats
    // → per-doc totals are exact order-free sums.
    "llm_perplexity_kn" -> ((s, d) => {
      val docs = documents(s, d)
      val model = graft.api.NgramLm.trainKnBackoff(
        docs.filter(col("source") === "src0"), col("doc_id"), col("text"))
      graft.api.NgramLm.scoreDocsKn(docs, col("doc_id"), col("text"), model)
        .orderBy("doc_id")
    }),

    // Positional winnowing fingerprints (graft.api.TextDedup
    // .winnowFingerprints, Schleimer et al. 2003): per-window gram-hash
    // minima with the LOCAL match guarantee (any shared run of
    // win+k−1 = 7 tokens shares a fingerprint VALUE) — next to
    // llm_fingerprint's global min-k. Entirely map-side in-row HOFs;
    // declared output flattens the array (driver comparator contract).
    "llm_fingerprint_winnow" -> ((s, d) =>
      graft.api.TextDedup
        .winnowFingerprints(documents(s, d), col("doc_id"), col("text"))
        .select(col("doc_id"),
          col("n_grams").cast("long").as("n_grams"),
          col("n_windows").cast("long").as("n_windows"),
          concat_ws("|", col("fingerprints")).as("fingerprints"))
        .orderBy("doc_id")),

    // Trigram-KN perplexity scoring (graft.api.NgramLm.trainKn3Backoff +
    // scoreDocsKn3): the full KenLM-shaped chain — seen trigram →
    // λ₁₂ + [bigram-KN → λ₂ + [continuation → floor]] — in integer
    // micro-costs. Trained on the src0 slice, scored over the whole
    // corpus: trigram coverage is far sparser than bigram, so the
    // backoff path carries most unseen mass (real nightly shape).
    "llm_perplexity_kn3" -> ((s, d) => {
      val docs = documents(s, d)
      val model = graft.api.NgramLm.trainKn3Backoff(
        docs.filter(col("source") === "src0"), col("doc_id"), col("text"))
      graft.api.NgramLm
        .scoreDocsKn3(docs, col("doc_id"), col("text"), model)
        .orderBy("doc_id")
    }),

    // Winnowing candidate pairs (graft.api.TextDedup.winnowCandidates):
    // docs sharing ≥1 fingerprint value with the shared count — the
    // plagiarism-detection candidate stage; pair space bounded by
    // per-fingerprint document frequency (the LSH-band shape).
    "llm_dedup_winnow" -> ((s, d) =>
      graft.api.TextDedup
        .winnowCandidates(documents(s, d), col("doc_id"), col("text"))
        .orderBy("doc_a", "doc_b")),

    // Embedding-space decontamination (graft.api.Similarity
    // .decontaminateByEmbedding): flag corpus vectors within cosine 0.3
    // of the benchmark slice (vec_id % 10 = 0 stands in for the eval
    // suite) — the paraphrase-leakage companion to llm_decontaminate's
    // n-gram screen. Eval side broadcast; one corpus scan of codegen'd
    // dots.
    "llm_decontaminate_semantic" -> ((s, d) => {
      val e = embeddings(s, d)
      val eval0 = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.api.Similarity
        .decontaminateByEmbedding(
          e.filter(col("vec_id") % 10 =!= 0), col("vec_id"),
          col("embedding"), eval0, tau = SemTau)
        .select(col("id").as("vec_id"), col("n_hits"), col("eval_id"),
          col("sim_r"))
        .orderBy("vec_id")
    }),

    // MEASURED decontamination recall (TextQuality.decontamRecallAudit):
    // plant a 10-token span from each eval doc into the train doc at
    // eval_id + 2, run the REAL 8-gram screen, report flagged/planted —
    // the llm_ann_recall discipline applied to decontamination; recall
    // below 1.0 means the screen is wired wrong. n_other_flagged prices
    // the corpus's natural 8-gram overlap background (exact duplicate
    // docs straddling the eval split land here — real, not noise).
    "llm_decontam_recall" -> ((s, d) => {
      val docs = documents(s, d)
      graft.api.TextQuality.decontamRecallAudit(
        docs.filter(not(expr("doc_id % 100 < 2"))),
        docs.filter(expr("doc_id % 100 < 2")),
        col("doc_id"), col("text"))
    }),

    // Zipf rank–frequency fit (graft.api.TextQuality.zipfFit): ln-ln
    // OLS per source — slope ≈ −1 is natural text; templated slices
    // drift flat. Exact integer ranks/freqs, micro-rounded lns,
    // DECIMAL(38,0)/HUGEINT moment sums, one fixed IEEE formula.
    "llm_zipf_fit" -> ((s, d) =>
      graft.api.TextQuality
        .zipfFit(documents(s, d), col("source"), col("text"))
        .withColumnRenamed("group", "source")
        .orderBy("source")),

    // Flesch/FK readability (graft.api.TextQuality.readability): the
    // classic surface-form scores from three exact counts (words,
    // [.!?]+ sentence runs floor 1, vowel-group syllables floor 1).
    // Pure map-side; raw IEEE doubles from identical literals.
    "llm_readability" -> ((s, d) =>
      graft.api.TextQuality
        .readability(documents(s, d), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    // Cluster-count elbow sweep (graft.api.Similarity.kSweepObjective):
    // the spherical-k-means objective for k ∈ {2,4,8,16} seed centroid
    // sets in ONE corpus scan — all sets ride one tagged broadcast
    // (30 rows), per-(k, vec) argmax via partial-aggregable min-struct,
    // micro-exact sums. The curve a SemDeDup/IVF deployment reads
    // before fixing k.
    "llm_cluster_k_sweep" -> ((s, d) => {
      val e = embeddings(s, d)
      val cents = Seq(2, 4, 8, 16).map(k =>
          e.filter(col("vec_id") < k)
            .select(lit(k).as("k"), col("vec_id").as("cid"),
              col("embedding").as("ce")))
        .reduce(_ unionByName _)
      graft.api.Similarity
        .kSweepObjective(e, col("vec_id"), col("embedding"), cents)
        .orderBy("k")
    })
  )

  /** Shared by llm_bm25_topk and llm_bm25_index: the index is a pure
    * materialization of the same postings, so ONE oracle definition
    * hash-checks both paths (the jaccard-pairs-oracle precedent). */
  private val Bm25OracleSql: String =
      s"""WITH q(query_id, qtext) AS (VALUES
         |  ${Bm25Queries.map { case (i, t) => s"($i, '$t')" }
             .mkString(", ")}),
         |qt AS (SELECT DISTINCT query_id,
         |    unnest(string_split_regex(qtext, ' ')) AS term FROM q),
         |ts AS (SELECT DISTINCT term FROM qt),
         |d AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
         |  FROM documents),
         |stats AS (SELECT COUNT(*) AS n_docs,
         |    SUM(len(tk)) AS total_tokens FROM d),
         |dt AS (SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM d),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf,
         |    ANY_VALUE(dl) AS dl FROM dt
         |  WHERE term IN (SELECT term FROM ts) GROUP BY doc_id, term),
         |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
         |scored AS (SELECT qt.query_id, tf.doc_id,
         |    CAST(ROUND(
         |      CAST(ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
         |        * 1000000.0) AS BIGINT)
         |      * ((CAST(tf AS DOUBLE) * $K1p1)
         |        / (CAST(tf AS DOUBLE) + $K1 * ($OneMinusB
         |          + $B * (CAST(dl AS DOUBLE)
         |            / (CAST(total_tokens AS DOUBLE)
         |              / CAST(n_docs AS DOUBLE))))))) AS BIGINT) AS s_u
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN stats
         |  JOIN qt USING (term)),
         |totals AS (SELECT query_id, doc_id,
         |    CAST(SUM(s_u) AS BIGINT) AS score_micro FROM scored
         |  GROUP BY query_id, doc_id)
         |SELECT query_id, rk, doc_id, score_micro FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY score_micro DESC, doc_id) AS INTEGER) AS rk
         |  FROM totals) t
         |WHERE rk <= 10 ORDER BY query_id, rk""".stripMargin

  val oracles: Map[String, String] = Map(

    "llm_bm25_topk" -> Bm25OracleSql,
    "llm_bm25_index" -> Bm25OracleSql,
    "llm_bm25_grow" -> Bm25OracleSql,

    "llm_filter_funnel" ->
      s"""WITH tk AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
         |  FROM documents),
         |base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
         |    1.0 - CAST(len(list_distinct(tk)) AS DOUBLE)
         |      / CAST(len(tk) AS DOUBLE) AS dup_raw,
         |    CAST(len(list_filter(tk, x -> length(x) <= 2)) AS DOUBLE)
         |      / CAST(len(tk) AS DOUBLE) AS short_raw
         |  FROM tk),
         |dom AS (SELECT doc_id,
         |    CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dom_raw
         |  FROM (SELECT doc_id, token, COUNT(*) AS c FROM (
         |    SELECT doc_id, unnest(string_split_regex(text, ' ')) AS token
         |    FROM documents) GROUP BY doc_id, token) GROUP BY doc_id),
         |attr AS (SELECT b.doc_id,
         |    CASE WHEN n_words < $MinWords THEN 1
         |         WHEN dup_raw > $MaxDupFrac THEN 2
         |         WHEN dom_raw > $MaxDominance THEN 3
         |         WHEN short_raw > $MaxShortFrac THEN 4
         |         ELSE 5 END AS stage_idx,
         |    CASE WHEN n_words < $MinWords THEN 'too_short'
         |         WHEN dup_raw > $MaxDupFrac THEN 'repetitive'
         |         WHEN dom_raw > $MaxDominance THEN 'dominated'
         |         WHEN short_raw > $MaxShortFrac THEN 'short_tokens'
         |         ELSE 'kept' END AS stage
         |  FROM base b JOIN dom USING (doc_id)),
         |t AS (SELECT COUNT(*) AS total FROM documents)
         |SELECT stage_idx, stage, COUNT(*) AS n_docs,
         |  CAST(COUNT(*) AS DOUBLE) / CAST(ANY_VALUE(total) AS DOUBLE)
         |    AS frac
         |FROM attr CROSS JOIN t GROUP BY stage_idx, stage
         |ORDER BY stage_idx""".stripMargin,

    "llm_filter_funnel_sweep" ->
      s"""WITH tk AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
         |  FROM documents),
         |base AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_words,
         |    1.0 - CAST(len(list_distinct(tk)) AS DOUBLE)
         |      / CAST(len(tk) AS DOUBLE) AS dup_raw,
         |    CAST(len(list_filter(tk, x -> length(x) <= 2)) AS DOUBLE)
         |      / CAST(len(tk) AS DOUBLE) AS short_raw
         |  FROM tk),
         |dom AS (SELECT doc_id,
         |    CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dom_raw
         |  FROM (SELECT doc_id, token, COUNT(*) AS c FROM (
         |    SELECT doc_id, unnest(string_split_regex(text, ' ')) AS token
         |    FROM documents) GROUP BY doc_id, token) GROUP BY doc_id),
         |st AS (SELECT b.doc_id, n_words,
         |    (dup_raw <= $MaxDupFrac AND dom_raw <= $MaxDominance
         |      AND short_raw <= $MaxShortFrac) AS pass_rest
         |  FROM base b JOIN dom USING (doc_id)),
         |g AS (SELECT unnest([10, 20, 30, 40, 50]) AS min_words)
         |SELECT min_words, CAST(SUM(CASE WHEN pass_rest
         |    AND n_words >= min_words THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(SUM(CASE WHEN pass_rest AND n_words >= min_words
         |    THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
         |    AS kept_frac
         |FROM st CROSS JOIN g GROUP BY min_words
         |ORDER BY min_words""".stripMargin,

    "llm_diversity_ngrams" ->
      """WITH tok AS (SELECT source,
        |    unnest(string_split_regex(text, ' ')) AS g FROM documents),
        |uni AS (SELECT source, COUNT(*) AS n_tokens,
        |    COUNT(DISTINCT g) AS n_distinct_tokens FROM tok
        |  GROUP BY source),
        |bt AS (SELECT source, string_split_regex(text, ' ') AS tk
        |  FROM documents),
        |bg AS (SELECT source, unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i + 1])) AS g
        |  FROM bt WHERE len(tk) > 1),
        |bi AS (SELECT source, COUNT(*) AS n_bigrams,
        |    COUNT(DISTINCT g) AS n_distinct_bigrams FROM bg
        |  GROUP BY source)
        |SELECT source, n_tokens, n_distinct_tokens,
        |  ROUND(CAST(n_distinct_tokens AS DOUBLE)
        |    / CAST(n_tokens AS DOUBLE), 6) AS distinct1,
        |  n_bigrams, n_distinct_bigrams,
        |  ROUND(CAST(n_distinct_bigrams AS DOUBLE)
        |    / CAST(n_bigrams AS DOUBLE), 6) AS distinct2
        |FROM uni JOIN bi USING (source) ORDER BY source""".stripMargin,

    "llm_ngram_lm_kn" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
        |  FROM documents),
        |bi AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1,
        |    unnest(tk[2:len(tk)]) AS w2
        |  FROM tk WHERE len(tk) >= 2),
        |cb AS (SELECT w1, w2, COUNT(*) AS c_bi FROM bi GROUP BY 1, 2),
        |fw AS (SELECT w1, CAST(SUM(c_bi) AS BIGINT) AS c_w1,
        |    COUNT(*) AS n_fw FROM cb GROUP BY w1),
        |bw AS (SELECT w2, COUNT(*) AS n_bw FROM cb GROUP BY w2),
        |b AS (SELECT COUNT(*) AS b_types FROM cb)
        |SELECT cb.w1, cb.w2, c_bi,
        |  ROUND(GREATEST(CAST(c_bi AS DOUBLE) - 0.75, 0.0) / c_w1
        |    + ((0.75 * n_fw) / c_w1)
        |      * (CAST(n_bw AS DOUBLE) / b_types), 6) AS p_kn_r
        |FROM cb JOIN fw USING (w1) JOIN bw USING (w2) CROSS JOIN b
        |ORDER BY w1, w2""".stripMargin,

    "llm_ngram_lm_kn3" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
        |  FROM documents),
        |tri AS (SELECT doc_id, unnest(tk[1:len(tk)-2]) AS w1,
        |    unnest(tk[2:len(tk)-1]) AS w2, unnest(tk[3:len(tk)]) AS w3
        |  FROM tk WHERE len(tk) >= 3),
        |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c_tri FROM tri
        |  GROUP BY 1, 2, 3),
        |c12 AS (SELECT w1, w2, CAST(SUM(c_tri) AS BIGINT) AS c_12,
        |    COUNT(*) AS n_fw12 FROM c3 GROUP BY w1, w2),
        |pre23 AS (SELECT w2, w3, COUNT(*) AS n_pre23 FROM c3
        |  GROUP BY w2, w3),
        |mid2 AS (SELECT w2, CAST(SUM(n_pre23) AS BIGINT) AS n_pre2dot,
        |    COUNT(*) AS n_fw2 FROM pre23 GROUP BY w2),
        |w3c AS (SELECT w3, COUNT(*) AS n_pre3 FROM pre23 GROUP BY w3),
        |b2 AS (SELECT COUNT(*) AS b2_types FROM pre23)
        |SELECT c3.w1, c3.w2, c3.w3, c_tri,
        |  ROUND(GREATEST(CAST(c_tri AS DOUBLE) - 0.75, 0.0) / c_12
        |    + ((0.75 * n_fw12) / c_12)
        |      * (GREATEST(CAST(n_pre23 AS DOUBLE) - 0.75, 0.0)
        |          / n_pre2dot
        |        + ((0.75 * n_fw2) / n_pre2dot)
        |          * (CAST(n_pre3 AS DOUBLE) / b2_types)), 6) AS p_kn3_r
        |FROM c3 JOIN c12 USING (w1, w2) JOIN pre23 USING (w2, w3)
        |JOIN mid2 USING (w2) JOIN w3c USING (w3) CROSS JOIN b2
        |ORDER BY w1, w2, w3""".stripMargin,

    "llm_perplexity_kn" ->
      """WITH tr AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
        |  FROM documents WHERE source = 'src0'),
        |tbi AS (SELECT unnest(tk[1:len(tk)-1]) AS w1,
        |    unnest(tk[2:len(tk)]) AS w2 FROM tr WHERE len(tk) >= 2),
        |cb AS (SELECT w1, w2, COUNT(*) AS c_bi FROM tbi GROUP BY 1, 2),
        |fw AS (SELECT w1, CAST(SUM(c_bi) AS BIGINT) AS c_w1,
        |    COUNT(*) AS n_fw FROM cb GROUP BY w1),
        |bw AS (SELECT w2, COUNT(*) AS n_bw FROM cb GROUP BY w2),
        |b AS (SELECT COUNT(*) AS b_types FROM cb),
        |seen AS (SELECT w1, w2, CAST(ROUND(
        |    -ln(GREATEST(CAST(c_bi AS DOUBLE) - 0.75, 0.0) / c_w1
        |      + ((0.75 * n_fw) / c_w1)
        |        * (CAST(n_bw AS DOUBLE) / b_types)) * 1000000.0)
        |    AS BIGINT) AS c_seen
        |  FROM cb JOIN fw USING (w1) JOIN bw USING (w2) CROSS JOIN b),
        |lam AS (SELECT w1, CAST(ROUND(-ln((0.75 * n_fw) / c_w1)
        |    * 1000000.0) AS BIGINT) AS c_lam FROM fw),
        |cont AS (SELECT w2, CAST(ROUND(-ln(CAST(n_bw AS DOUBLE) / b_types)
        |    * 1000000.0) AS BIGINT) AS c_cont FROM bw CROSS JOIN b),
        |oov AS (SELECT CAST(ROUND(-ln(1.0 / b_types) * 1000000.0)
        |    AS BIGINT) AS c_oov FROM b),
        |tk AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
        |  FROM documents),
        |bi AS (SELECT doc_id, unnest(tk[1:len(tk)-1]) AS w1,
        |    unnest(tk[2:len(tk)]) AS w2 FROM tk WHERE len(tk) >= 2),
        |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |    CAST(SUM(COALESCE(c_seen,
        |      COALESCE(c_lam, c_oov) + COALESCE(c_cont, c_oov)))
        |      AS BIGINT) AS total
        |  FROM bi LEFT JOIN seen USING (w1, w2)
        |  LEFT JOIN lam USING (w1) LEFT JOIN cont USING (w2)
        |  CROSS JOIN oov GROUP BY doc_id)
        |SELECT doc_id, n_bigrams, total AS total_cost_micro,
        |  CAST(total AS DOUBLE) / CAST(n_bigrams AS DOUBLE)
        |    AS avg_cost_micro
        |FROM sc ORDER BY doc_id""".stripMargin,

    "llm_fingerprint_winnow" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
        |  FROM documents),
        |g AS (SELECT doc_id, CASE WHEN len(tk) >= 4 THEN
        |    list_transform(range(1, len(tk) - 2), i ->
        |      tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])
        |    ELSE [] END AS grams FROM tk),
        |h AS (SELECT doc_id, list_transform(grams, x ->
        |    CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs FROM g)
        |SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
        |  CAST(GREATEST(len(hs) - 3, 0) AS BIGINT) AS n_windows,
        |  array_to_string(list_sort(list_distinct(
        |    CASE WHEN len(hs) >= 4 THEN list_transform(
        |      range(1, len(hs) - 2), q -> list_min(hs[q:q+3]))
        |    ELSE [] END)), '|') AS fingerprints
        |FROM h ORDER BY doc_id""".stripMargin,

    "llm_perplexity_kn3" ->
      """WITH tr AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
        |  FROM documents WHERE source = 'src0'),
        |ttri AS (SELECT unnest(tk[1:len(tk)-2]) AS w1,
        |    unnest(tk[2:len(tk)-1]) AS w2, unnest(tk[3:len(tk)]) AS w3
        |  FROM tr WHERE len(tk) >= 3),
        |c3 AS (SELECT w1, w2, w3, COUNT(*) AS c_tri FROM ttri
        |  GROUP BY 1, 2, 3),
        |c12 AS (SELECT w1, w2, CAST(SUM(c_tri) AS BIGINT) AS c_12,
        |    COUNT(*) AS n_fw12 FROM c3 GROUP BY w1, w2),
        |pre23 AS (SELECT w2, w3, COUNT(*) AS n_pre23 FROM c3
        |  GROUP BY w2, w3),
        |mid2 AS (SELECT w2, CAST(SUM(n_pre23) AS BIGINT) AS n_pre2dot,
        |    COUNT(*) AS n_fw2 FROM pre23 GROUP BY w2),
        |w3c AS (SELECT w3, COUNT(*) AS n_pre3 FROM pre23 GROUP BY w3),
        |b2 AS (SELECT COUNT(*) AS b2_types FROM pre23),
        |cp3 AS (SELECT c3.w1, c3.w2, c3.w3, CAST(ROUND(
        |    -ln(GREATEST(CAST(c_tri AS DOUBLE) - 0.75, 0.0) / c_12
        |      + ((0.75 * n_fw12) / c_12)
        |        * (GREATEST(CAST(n_pre23 AS DOUBLE) - 0.75, 0.0)
        |            / n_pre2dot
        |          + ((0.75 * n_fw2) / n_pre2dot)
        |            * (CAST(n_pre3 AS DOUBLE) / b2_types)))
        |    * 1000000.0) AS BIGINT) AS c3c
        |  FROM c3 JOIN c12 USING (w1, w2) JOIN pre23 USING (w2, w3)
        |  JOIN mid2 USING (w2) JOIN w3c USING (w3) CROSS JOIN b2),
        |cl12 AS (SELECT w1, w2, CAST(ROUND(-ln((0.75 * n_fw12) / c_12)
        |    * 1000000.0) AS BIGINT) AS l12 FROM c12),
        |cp2 AS (SELECT pre23.w2, pre23.w3, CAST(ROUND(
        |    -ln(GREATEST(CAST(n_pre23 AS DOUBLE) - 0.75, 0.0) / n_pre2dot
        |      + ((0.75 * n_fw2) / n_pre2dot)
        |        * (CAST(n_pre3 AS DOUBLE) / b2_types)) * 1000000.0)
        |    AS BIGINT) AS c2c
        |  FROM pre23 JOIN mid2 USING (w2) JOIN w3c USING (w3)
        |  CROSS JOIN b2),
        |cl2 AS (SELECT w2, CAST(ROUND(-ln((0.75 * n_fw2) / n_pre2dot)
        |    * 1000000.0) AS BIGINT) AS l2 FROM mid2),
        |cc AS (SELECT w3, CAST(ROUND(-ln(CAST(n_pre3 AS DOUBLE)
        |    / b2_types) * 1000000.0) AS BIGINT) AS ccost
        |  FROM w3c CROSS JOIN b2),
        |co AS (SELECT CAST(ROUND(-ln(1.0 / b2_types) * 1000000.0)
        |    AS BIGINT) AS oo FROM b2),
        |atk AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
        |  FROM documents),
        |atri AS (SELECT doc_id, unnest(tk[1:len(tk)-2]) AS w1,
        |    unnest(tk[2:len(tk)-1]) AS w2, unnest(tk[3:len(tk)]) AS w3
        |  FROM atk WHERE len(tk) >= 3),
        |sc AS (SELECT doc_id, COUNT(*) AS n_trigrams,
        |    CAST(SUM(COALESCE(c3c, COALESCE(l12, oo)
        |      + COALESCE(c2c, COALESCE(l2, oo) + COALESCE(ccost, oo))))
        |      AS BIGINT) AS total
        |  FROM atri LEFT JOIN cp3 USING (w1, w2, w3)
        |  LEFT JOIN cl12 USING (w1, w2) LEFT JOIN cp2 USING (w2, w3)
        |  LEFT JOIN cl2 USING (w2) LEFT JOIN cc USING (w3)
        |  CROSS JOIN co GROUP BY doc_id)
        |SELECT doc_id, n_trigrams, total AS total_cost_micro,
        |  CAST(total AS DOUBLE) / CAST(n_trigrams AS DOUBLE)
        |    AS avg_cost_micro
        |FROM sc ORDER BY doc_id""".stripMargin,

    "llm_dedup_winnow" ->
      """WITH tk AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
        |  FROM documents),
        |g AS (SELECT doc_id, list_transform(range(1, len(tk) - 2), i ->
        |    tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])
        |    AS grams FROM tk WHERE len(tk) >= 4),
        |h AS (SELECT doc_id, list_transform(grams, x ->
        |    CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)) AS hs FROM g),
        |f AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(hs) - 2), q -> list_min(hs[q:q+3])))) AS fp
        |  FROM h WHERE len(hs) >= 4)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  COUNT(*) AS n_shared_fp
        |FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY a.doc_id, b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,

    "llm_decontaminate_semantic" ->
      s"""WITH ev AS (SELECT vec_id AS eid, embedding AS ee
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |tr AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 10 <> 0),
         |s AS (SELECT vec_id, eid,
         |    ROUND(${dotSql("embedding", "ee")}, 6) AS sim_r
         |  FROM tr CROSS JOIN ev),
         |f AS (SELECT * FROM s WHERE sim_r >= $SemTau),
         |n AS (SELECT vec_id, COUNT(*) AS n_hits FROM f GROUP BY vec_id),
         |best AS (SELECT vec_id, eid, sim_r,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY sim_r DESC, eid) AS rk FROM f)
         |SELECT best.vec_id, n_hits, eid AS eval_id, sim_r
         |FROM best JOIN n USING (vec_id) WHERE rk = 1
         |ORDER BY vec_id""".stripMargin,

    "llm_decontam_recall" ->
      """WITH ev AS (SELECT doc_id, text FROM documents
        |  WHERE doc_id % 100 < 2),
        |tr AS (SELECT doc_id, text FROM documents
        |  WHERE NOT (doc_id % 100 < 2)),
        |sp AS (SELECT doc_id + 2 AS tid,
        |    array_to_string(string_split_regex(text, ' ')[1:10], ' ')
        |      AS span
        |  FROM ev WHERE len(string_split_regex(text, ' ')) >= 10),
        |pl AS (SELECT tr.doc_id,
        |    CASE WHEN sp.span IS NOT NULL THEN tr.text || ' ' || sp.span
        |      ELSE tr.text END AS text,
        |    sp.span IS NOT NULL AS target
        |  FROM tr LEFT JOIN sp ON sp.tid = tr.doc_id),
        |tg AS (SELECT DISTINCT doc_id, g FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(tk) - 6),
        |      i -> array_to_string(tk[i:i+7], ' '))) AS g
        |    FROM (SELECT doc_id, string_split_regex(text, ' ') AS tk
        |          FROM pl) t
        |    WHERE len(tk) >= 8) x),
        |eg AS (SELECT DISTINCT g FROM (
        |    SELECT unnest(list_transform(range(1, len(tk) - 6),
        |      i -> array_to_string(tk[i:i+7], ' '))) AS g
        |    FROM (SELECT string_split_regex(text, ' ') AS tk FROM ev) e
        |    WHERE len(tk) >= 8) y),
        |fl AS (SELECT DISTINCT doc_id FROM tg JOIN eg USING (g)),
        |j AS (SELECT pl.doc_id, target, fl.doc_id IS NOT NULL AS f
        |  FROM pl LEFT JOIN fl USING (doc_id))
        |SELECT
        |  CAST(SUM(CASE WHEN target THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_planted,
        |  CAST(SUM(CASE WHEN target AND f THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_planted_flagged,
        |  CAST(SUM(CASE WHEN NOT target AND f THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_other_flagged,
        |  CAST(SUM(CASE WHEN target AND f THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(SUM(CASE WHEN target THEN 1 ELSE 0 END) AS DOUBLE)
        |    AS recall
        |FROM j""".stripMargin,

    // ln-ln OLS over micro-rounded points; DuckDB's SUM(BIGINT) widens
    // to HUGEINT — the exact accumulator twin of Spark's DECIMAL(38,0).
    "llm_zipf_fit" ->
      """WITH f AS (SELECT source, t, COUNT(*) AS f FROM (
        |    SELECT source, unnest(string_split_regex(text, ' ')) AS t
        |    FROM documents) w GROUP BY source, t),
        |p AS (SELECT source,
        |    CAST(ROUND(ln(CAST(ROW_NUMBER() OVER (PARTITION BY source
        |        ORDER BY f DESC, t) AS DOUBLE)) * 1000000.0) AS BIGINT)
        |      AS x,
        |    CAST(ROUND(ln(CAST(f AS DOUBLE)) * 1000000.0) AS BIGINT)
        |      AS y
        |  FROM f),
        |m AS (SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |    SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM p GROUP BY source)
        |SELECT source, CAST(n AS BIGINT) AS n_types,
        |  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |  / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope,
        |  ((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
        |    - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
        |      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 1000000.0)
        |    AS intercept,
        |  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |   * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        |  / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
        |FROM m ORDER BY source""".stripMargin,

    "llm_readability" ->
      """WITH d AS (SELECT doc_id, text,
        |    string_split_regex(text, ' ') AS tk FROM documents),
        |c AS (SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS n_words,
        |    CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
        |      AS BIGINT) AS n_sentences,
        |    CAST(list_sum(list_transform(tk, t ->
        |      GREATEST(len(regexp_extract_all(t, '[aeiouy]+')), 1)))
        |      AS BIGINT) AS n_syllables
        |  FROM d)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE)
        |      / CAST(n_sentences AS DOUBLE))
        |    - 84.6 * (CAST(n_syllables AS DOUBLE)
        |      / CAST(n_words AS DOUBLE)) AS flesch_ease,
        |  0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    + 11.8 * (CAST(n_syllables AS DOUBLE)
        |      / CAST(n_words AS DOUBLE))
        |    - 15.59 AS fk_grade
        |FROM c ORDER BY doc_id""".stripMargin,

    "llm_cluster_k_sweep" ->
      s"""WITH ks(k) AS (VALUES (2), (4), (8), (16)),
         |c AS (SELECT k, vec_id AS cid, embedding AS ce
         |  FROM embeddings, ks WHERE vec_id < k),
         |s AS (SELECT c.k, e.vec_id,
         |    ROUND(${dotSql("ce", "embedding")}, 6) AS sim_r
         |  FROM embeddings e CROSS JOIN c),
         |b AS (SELECT k, vec_id, MAX(sim_r) AS best FROM s
         |  GROUP BY k, vec_id),
         |o AS (SELECT k, COUNT(*) AS n_vec,
         |    CAST(SUM(CAST(ROUND(best * 1000000.0) AS BIGINT))
         |      AS BIGINT) AS obj_micro
         |  FROM b GROUP BY k)
         |SELECT CAST(k AS INT) AS k, n_vec, obj_micro,
         |  CAST(obj_micro AS DOUBLE) / 1000000.0
         |    / CAST(n_vec AS DOUBLE) AS avg_sim
         |FROM o ORDER BY k""".stripMargin
  )
}
