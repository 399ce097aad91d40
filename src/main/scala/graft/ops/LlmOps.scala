package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Tables._
import graft.util.Det._

/** SURVEY.md §2.J — LLM-training-data pipeline operators (driver-mandated
  * north star: dedup, similarity search, text analysis).
  *
  * Scale design (the whole point of this module):
  *  - exact/norm dedup: one hash-groupBy shuffle on md5(text) — embarrassingly
  *    parallel at any scale; the hash key is tiny regardless of doc size.
  *  - near-dup: MinHash-LSH — shingle → k minhashes → band signatures →
  *    bucket self-join. Pair generation is bounded by LSH bucket size; there
  *    is NO O(n²) all-pairs step anywhere. This is the standard web-scale
  *    dedup plan (the same shape Spark's ml.MinHashLSH uses), built here from
  *    codegen-friendly HOF expressions (no UDF, no mllib vector boxing).
  *  - jaccard verification: only on candidate pairs already bounded by an
  *    equi-key (`source` bucket / LSH bucket) — the join is a plain shuffle
  *    equi-join, never a cross join.
  *  - similarity search: brute-force cosine only against a FIXED bounded
  *    query set (broadcast), ranked per query — the scale path is the LSH
  *    variant above; an unbounded all-pairs crossJoin would be wrong and is
  *    deliberately absent. Vectors are unit-norm (FIXTURES.md) so cosine ≡
  *    dot product, computed as a sequential double fold (zip_with +
  *    aggregate, whole-stage codegen'd).
  *
  * Determinism (SURVEY §7.2): token split is a single-space regex in both
  * dialects (`split(text,' ')` ≡ `string_split_regex(text,' ')`); every
  * float product is cast to double BEFORE multiplying on both sides; scores
  * are rounded 6 dp (4 dp for integer-ratio jaccard) and ranked on the
  * ROUNDED value with a unique tie-break so ranks can never diverge.
  */
object LlmOps {

  /** sequential-fold dot product of two float vectors, in double — the
    * custom codegen'd expression (graft.functions.DotProductFloat), bit-
    * identical to the zip_with+aggregate fold it replaces and to the
    * oracle's double fold, but a single JIT'd loop per row. */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExprs.dotf(a, b)

  /** DuckDB twin of `dot` — identical double sequential fold. */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  private val MinhashK = 16 // 4 bands × 4 rows
  private val Bands = 4
  private val RowsPerBand = MinhashK / Bands

  /** Shared DuckDB CTEs (`t`→`d`→`sig`→`band`) reproducing
    * TextDedup.md5Sigs: 3-gram distinct shingles, 16 md5 minhashes,
    * md5 band-bucket keys. Shared with Curation's
    * llm_dedup_incremental oracle (same signature scheme — that is the
    * point of the md5 family: one portable definition). */
  private[ops] val md5MinhashCte: String =
    """t AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
      |  FROM documents),
      |d AS (SELECT doc_id, list_distinct(list_transform(
      |    range(1, len(tk) - 1),
      |    i -> array_to_string(tk[i : i + 2], ' '))) AS sh
      |  FROM t WHERE len(tk) >= 3),
      |sig AS (SELECT doc_id, i,
      |    MIN(md5(CAST(i AS VARCHAR) || ':' || s)) AS m
      |  FROM d, unnest(d.sh) AS u(s), unnest(range(0, 16)) AS v(i)
      |  GROUP BY doc_id, i),
      |band AS (SELECT doc_id, i // 4 AS band,
      |    md5(string_agg(m, '|' ORDER BY i)) AS sig
      |  FROM sig GROUP BY doc_id, i // 4)""".stripMargin

  /** MinHash-LSH candidate pairs verified by true shingle jaccard ≥ 0.8
    * (3-word shingles: unigrams are useless on this 31-word-vocabulary
    * corpus). Fixture wiring over the generic library API
    * (graft.api.TextDedup.nearMinhash): one-pass shingle hashing + minhash
    * signatures, streaming band-bucket self-join, merge-pass jaccard
    * verify. No oracle (xxhash64 is engine-specific); correctness is
    * pinned by the planted sf0.1 duplicates test (LlmOpsSpec). */
  private def nearDupMinhash(s: SparkSession, d: String): DataFrame =
    graft.api.TextDedup
      .nearMinhash(documents(s, d), col("doc_id"), col("text"),
        shingleWidth = 3, bands = Bands, rowsPerBand = RowsPerBand,
        minJaccard = 0.8)
      .orderBy("doc_a", "doc_b")

  /** Fixed bounded query set (vec_id < 10), top-k by rounded dot product.
    * Carries the query's true label and the neighbor's label through the
    * ONE corpus scan, so consumers (kNN vote) never re-join the corpus. */
  private def simTopkLabeled(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("true_label"))
    val scored = emb.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("true_label"), col("vec_id"), col("label"),
        round(dot(col("qe"), col("embedding")), 6).as("sim_r"))
    val w = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
  }

  private def simTopk(s: SparkSession, d: String): DataFrame =
    simTopkLabeled(s, d)
      .select("qid", "rk", "vec_id", "sim_r")
      .orderBy("qid", "rk")

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact-dup groups: one hash-groupBy, keep-min policy (graft.api)
    "llm_dedup_exact" -> ((s, d) =>
      graft.api.TextDedup.exact(documents(s, d), col("text"), col("doc_id"))
        .orderBy("h")),

    // LSH parameter planner (graft.api.TextDedup.lshPlan): the analytic
    // band/row S-curve table for this module's own k=16 signature budget
    // — collision probability 1−(1−s^r)^b per (b,r) factorization at
    // five jaccard grid points, as fixed-point 9-dp decimal chains so
    // the recursive-CTE oracle is bit-identical. Zero data touched: the
    // one planner op that runs BEFORE the corpus pass it prices.
    "llm_lsh_plan" -> ((s, _) =>
      graft.api.TextDedup.lshPlan(s, MinhashK,
        Seq(BigDecimal("0.3"), BigDecimal("0.4"), BigDecimal("0.5"),
          BigDecimal("0.6"), BigDecimal("0.7")))),

    // MEASURED LSH audit (graft.api.TextDedup.lshAudit): the S-curve
    // VERIFIED on real data — for each (bands, rows) factorization of
    // the same k=16 budget, the md5 band screen's actual candidates /
    // hits / recall / precision against exact shingle-jaccard ≥ 0.8
    // ground truth (size-ratio-bounded, never all-pairs). llm_lsh_plan
    // prices the settings a priori; this key measures them — the pair
    // every production dedup tuning loop reads together.
    "llm_lsh_audit" -> ((s, d) =>
      graft.api.TextDedup
        .lshAudit(documents(s, d), col("doc_id"), col("text"))
        .orderBy("bands")),

    // dedup after normalization: lower + collapse whitespace + trim
    "llm_dedup_norm" -> ((s, d) =>
      graft.api.TextDedup
        .normalized(documents(s, d), col("text"), col("doc_id"))
        .orderBy("h")),

    "llm_dedup_near_minhash" -> ((s, d) => nearDupMinhash(s, d)),

    // MinHash-LSH near-dup with ENGINE-PORTABLE md5 hashing
    // (graft.api.TextDedup.nearMinhashMd5): unlike llm_dedup_near_minhash
    // (xxhash64, sanctioned no-oracle) every hash here reproduces in
    // DuckDB, so the whole LSH pipeline — shingle → k-minhash → band
    // bucket → jaccard verify — is hash-checked end to end. Same
    // LSH-bounded candidate generation; see the API scaladoc for when to
    // pay md5's ~4× per-call cost.
    "llm_dedup_minhash_md5" -> ((s, d) =>
      graft.api.TextDedup
        .nearMinhashMd5(documents(s, d), col("doc_id"), col("text"),
          minJaccard = 0.8)
        .orderBy("doc_a", "doc_b")),

    // Kirsch–Mitzenmacher variant (TextDedup.nearMinhashKM, the `Km`
    // MinhashSpec over the shared signShard lattice): ONE md5 per
    // shingle, k hashes derived as h1 + i·h2 from the digest's two
    // 32-bit halves — the standard "less hashing, same performance"
    // trick, still engine-portable (exact 64-bit integer arithmetic,
    // reproduced verbatim in the oracle) at ~1/k of the md5 work the
    // 16-digest scheme pays. Same planted pairs found; the scheme to
    // prefer for NEW cross-engine signature exchanges.
    "llm_dedup_minhash_km" -> ((s, d) =>
      graft.api.TextDedup
        .nearMinhashKM(documents(s, d), col("doc_id"), col("text"),
          minJaccard = 0.8)
        .orderBy("doc_a", "doc_b")),

    // FUZZY decontamination (TextDedup.nearMinhashMd5Between): training
    // docs (doc_id ≥ 100 here) near-duplicate to a benchmark set
    // (doc_id < 100) — the cross-corpus LSH screen that catches the
    // paraphrased/partial leakage llm_decontaminate's exact n-gram match
    // misses. Candidates from a band-bucket equi-join of the two
    // signature sets, never |train|×|bench|; output columns renamed to
    // the decontamination roles.
    "llm_decontaminate_fuzzy" -> ((s, d) => {
      val docs = documents(s, d)
      graft.api.TextDedup.nearMinhashMd5Between(
          docs.filter(col("doc_id") >= 100), col("doc_id"), col("text"),
          docs.filter(col("doc_id") < 100), col("doc_id"), col("text"),
          minJaccard = 0.8)
        .select(col("doc_a").as("train_doc"), col("doc_b").as("bench_doc"),
          col("jaccard"))
        .orderBy("train_doc", "bench_doc")
    }),

    // near-dup verification on candidate pairs bounded by `source` bucket —
    // a plain equi-join, never O(n²) over the corpus (graft.api: hashed
    // pre-sorted token sets, merge-pass intersection, rounding-aware
    // size-ratio prefilter)
    "llm_dedup_jaccard" -> ((s, d) =>
      graft.api.TextDedup
        .jaccardWithinBucket(documents(s, d), col("doc_id"), col("source"),
          col("text"), minJaccard = 0.95)
        .withColumnRenamed("bucket", "source")
        .orderBy("doc_a", "doc_b")),

    // CONTAINMENT near-dups (TextDedup.containmentWithinBucket): the
    // asymmetric case jaccard misses — a short doc embedded in a long
    // one scores jaccard ≈ |A|/|B| but containment |A∩B|/|A| ≈ 1. The
    // small side's prefix shingles probe the big side's full shingle
    // inventory on (bucket, shingle) — pair space bounded by per-shingle
    // document frequency, 100% recall at the gate by the prefix bound.
    "llm_dedup_containment" -> ((s, d) =>
      graft.api.TextDedup
        .containmentWithinBucket(documents(s, d), col("doc_id"),
          col("source"), col("text"), minContainment = 0.9)
        .withColumnRenamed("bucket", "source")
        .orderBy("doc_small", "doc_big")),

    // the SAME pair contract through the PREFIX-FILTER candidate engine
    // (TextDedup.jaccardPrefixFiltered): output identical to
    // llm_dedup_jaccard by construction, so hash-matching the same
    // oracle proves the All-Pairs prefix filter end to end — while the
    // plan swaps the size-band join for the skew-proof
    // (bucket, prefix-token) equi-join (candidate keys are the
    // ~(1-r)·n smallest token hashes, a uniform vocabulary sample a
    // dominant source cannot collapse onto one key)
    "llm_dedup_jaccard_prefix" -> ((s, d) =>
      graft.api.TextDedup
        .jaccardPrefixFiltered(documents(s, d), col("doc_id"),
          col("source"), col("text"), minJaccard = 0.95)
        .withColumnRenamed("bucket", "source")
        .orderBy("doc_a", "doc_b")),

    // pairs → clusters: connected components over the jaccard-verified
    // edge list (graft.api.TextDedup.clusters — min-label propagation to a
    // fixpoint). The step every real dedup pipeline needs after pairwise
    // candidates: "keep one doc per duplicate CLUSTER", transitivity
    // included. Oracle = DuckDB recursive CTE over the identical edges.
    "llm_dedup_clusters" -> ((s, d) => {
      val pairs = graft.api.TextDedup
        .jaccardWithinBucket(documents(s, d), col("doc_id"), col("source"),
          col("text"), minJaccard = 0.95)
      graft.api.TextDedup.clusters(pairs, col("doc_a"), col("doc_b"))
        .select(col("node").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),

    // the SAME pairs through the large-star/small-star engine
    // (TextDedup.clustersStar): identical fixpoint labeling, O(log²)
    // rounds instead of O(diameter) — hash-matching the clusters oracle
    // proves the star algorithm end-to-end
    "llm_dedup_clusters_star" -> ((s, d) => {
      val pairs = graft.api.TextDedup
        .jaccardWithinBucket(documents(s, d), col("doc_id"), col("source"),
          col("text"), minJaccard = 0.95)
      graft.api.TextDedup.clustersStar(pairs, col("doc_a"), col("doc_b"))
        .select(col("node").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),

    "llm_sim_topk" -> ((s, d) => simTopk(s, d)),

    // k-means assignment step / IVF coarse quantization (the SemDeDup /
    // cluster-then-curate primitive): every vector goes to its most-
    // similar of k fixed centroids (seeds vec_id < 8 here; fitted means
    // in production — the assignment plan is identical). Centroids are
    // broadcast, so the cost is n·k codegen'd dot products map-side plus
    // one window per vec for the argmax — no shuffle of the corpus, k
    // stays bounded at any corpus size. Ties broken on the ROUNDED sim
    // then centroid id, so ranks can never diverge between engines.
    "llm_cluster_assign" -> ((s, d) => {
      val e = embeddings(s, d)
      val c = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      graft.api.Similarity
        .assignClusters(e, col("vec_id"), col("embedding"), c)
        .orderBy("vec_id")
    }),

    // all pairs with cosine ≥ τ WITHIN a label partition (equi-key bounds
    // the pair space; at 100 TB the label/bucket key is what keeps this
    // sane) — graft.api.Similarity.thresholdJoin
    "llm_sim_threshold_join" -> ((s, d) =>
      graft.api.Similarity
        .thresholdJoin(embeddings(s, d), col("vec_id"), col("embedding"),
          col("label"), minSim = 0.25)
        .withColumnRenamed("key", "label")
        .orderBy("vec_a", "vec_b")),

    // kNN label vote: majority label of the top-5 neighbors of each query —
    // one corpus scan total (labels ride along with the top-k computation)
    "llm_knn_label_vote" -> ((s, d) => {
      val votes = simTopkLabeled(s, d)
        .groupBy("qid", "true_label", "label")
        .agg(count(lit(1)).as("n_votes"))
      val w = Window.partitionBy("qid")
        .orderBy(col("n_votes").desc, col("label").asc)
      votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("qid"), col("true_label"),
          col("label").as("pred_label"), col("n_votes"))
        .orderBy("qid")
    }),

    // per-doc token statistics; exact integer arithmetic + IEEE division
    "llm_text_stats" -> ((s, d) => {
      val toks = split(col("text"), " ")
      documents(s, d).select(
          col("doc_id"), col("n_chars"),
          length(col("text")).as("len_text"),
          size(toks).as("n_tokens"),
          size(array_distinct(toks)).as("n_distinct"),
          (aggregate(transform(toks, t => length(t)), lit(0), (a, x) => a + x)
            .cast("double") / size(toks)).as("avg_tok_len"))
        .orderBy("doc_id")
    }),

    // language profile: counts, mean tokens, char-length percentiles
    "llm_lang_profile" -> ((s, d) =>
      documents(s, d)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          (sum(size(split(col("text"), " "))).cast("double") / count(lit(1)))
            .as("avg_tokens"),
          r6(percentile(col("n_chars"), lit(0.5))).as("p50_chars"),
          r6(percentile(col("n_chars"), lit(0.9))).as("p90_chars"))
        .orderBy("lang")),

    // TF-IDF top-10 terms per source; ranked on the ROUNDED score so the
    // two engines' ln() ulp differences cannot reorder ranks
    "llm_tfidf_topterms" -> ((s, d) => {
      val docs = documents(s, d)
      val toks = docs.select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("term"))
      // pre-aggregate once per (doc, term): tf and df both derive from it,
      // so the explode+shuffle subtree is shared (ReuseExchange) instead of
      // the corpus being scanned per aggregate
      val docTerm = toks.groupBy("doc_id", "source", "term")
        .agg(count(lit(1)).as("tf_doc"))
      val tf = docTerm.groupBy("source", "term")
        .agg(sum(col("tf_doc")).as("tf"))
      // the always-true filter makes this branch consume tf_doc, so both
      // branches canonicalize to the SAME docTerm exchange and AQE reuses
      // the shuffle stage (otherwise the optimizer prunes the count from
      // this branch and the subtrees diverge → two corpus passes)
      val df_ = docTerm.filter(col("tf_doc") > 0)
        .groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val scored = tf.join(df_, "term").crossJoin(broadcast(n))
        .select(col("source"), col("term"),
          round(col("tf") *
            log(col("n_docs").cast("double") / col("df")), 6).as("score_r"))
      val w = Window.partitionBy("source")
        .orderBy(col("score_r").desc, col("term").asc)
      scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= 10)
        .select("source", "rk", "term", "score_r")
        .orderBy("source", "rk")
    })
  )

  /** Exact all-pairs same-source jaccard ≥ 0.95 — the shared contract of
    * llm_dedup_jaccard (size-band candidates) and
    * llm_dedup_jaccard_prefix (prefix-filter candidates): both plans
    * must hash-match this one definition. */
  private val JaccardPairsOracle: String =
    """WITH t AS (SELECT doc_id, source,
      |  list_distinct(string_split_regex(text, ' ')) AS tk FROM documents)
      |SELECT a.source AS source, a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) /
      |    (CAST(len(a.tk) + len(b.tk) AS DOUBLE)
      |      - len(list_intersect(a.tk, b.tk))), 4) AS jac
      |FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
      |WHERE ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) /
      |    (CAST(len(a.tk) + len(b.tk) AS DOUBLE)
      |      - len(list_intersect(a.tk, b.tk))), 4) >= 0.95
      |ORDER BY doc_a, doc_b""".stripMargin

  val oracles: Map[String, String] = Map(
    "llm_dedup_exact" ->
      """SELECT md5(text) AS h, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    // the fixed-point power chains re-derived by recursive CTE: pr walks
    // s^r one rounded multiply at a time, qb walks (1-s^r)^b — identical
    // HALF-UP 9-dp decimal arithmetic to Spark's unrolled chain
    "llm_lsh_plan" ->
      """WITH RECURSIVE grid AS (
        |  SELECT b, r, CAST(sv AS DECIMAL(12,9)) AS sv
        |  FROM (VALUES (1,16),(2,8),(4,4),(8,2),(16,1)) t(b, r),
        |       (VALUES (0.3),(0.4),(0.5),(0.6),(0.7)) s(sv)),
        |pr(b, r, sv, i, acc) AS (
        |  SELECT b, r, sv, 1, sv FROM grid
        |  UNION ALL
        |  SELECT b, r, sv, i + 1, CAST(ROUND(acc * sv, 9) AS DECIMAL(12,9))
        |  FROM pr WHERE i < r),
        |qb(b, r, sv, q, i, acc) AS (
        |  SELECT b, r, sv, CAST(1 - acc AS DECIMAL(12,9)), 1,
        |    CAST(1 - acc AS DECIMAL(12,9))
        |  FROM pr WHERE i = r
        |  UNION ALL
        |  SELECT b, r, sv, q, i + 1, CAST(ROUND(acc * q, 9) AS DECIMAL(12,9))
        |  FROM qb WHERE i < b)
        |SELECT b, r,
        |  MAX(CASE WHEN sv = CAST(0.3 AS DECIMAL(12,9))
        |    THEN CAST(1 - acc AS DOUBLE) END) AS p30,
        |  MAX(CASE WHEN sv = CAST(0.4 AS DECIMAL(12,9))
        |    THEN CAST(1 - acc AS DOUBLE) END) AS p40,
        |  MAX(CASE WHEN sv = CAST(0.5 AS DECIMAL(12,9))
        |    THEN CAST(1 - acc AS DOUBLE) END) AS p50,
        |  MAX(CASE WHEN sv = CAST(0.6 AS DECIMAL(12,9))
        |    THEN CAST(1 - acc AS DOUBLE) END) AS p60,
        |  MAX(CASE WHEN sv = CAST(0.7 AS DECIMAL(12,9))
        |    THEN CAST(1 - acc AS DOUBLE) END) AS p70
        |FROM qb WHERE i = b GROUP BY b, r ORDER BY b""".stripMargin,
    // measured LSH audit: ground truth = exact shingle jaccard >= 0.8
    // (with the provable size-ratio prefilter riding the pair join —
    // same bound the Spark side uses); screen = the md5MinhashCte sig
    // chain re-banded per factorization (aligned i // r grouping)
    "llm_lsh_audit" ->
      s"""WITH $md5MinhashCte,
         |truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM d a JOIN d b ON a.doc_id < b.doc_id
         |    AND least(len(a.sh), len(b.sh)) >=
         |      greatest(len(a.sh), len(b.sh)) * 0.7999
         |  WHERE ROUND(
         |    CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x)))
         |      AS DOUBLE)
         |    / (len(a.sh) + len(b.sh)
         |       - len(list_filter(a.sh, x -> list_contains(b.sh, x)))),
         |    4) >= 0.8),
         |bnd AS (SELECT bo.bands, s.doc_id, s.i // (16 // bo.bands) AS bd,
         |    md5(string_agg(s.m, '|' ORDER BY s.i)) AS bsig
         |  FROM sig s CROSS JOIN (VALUES (2),(4),(8)) bo(bands)
         |  GROUP BY bo.bands, s.doc_id, s.i // (16 // bo.bands)),
         |cand AS (SELECT DISTINCT a.bands, a.doc_id AS doc_a,
         |    b.doc_id AS doc_b
         |  FROM bnd a JOIN bnd b ON a.bands = b.bands AND a.bd = b.bd
         |    AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
         |tc AS (SELECT COUNT(*) AS n_truth FROM truth),
         |cc AS (SELECT bands, COUNT(*) AS candidates FROM cand
         |  GROUP BY bands),
         |h AS (SELECT bands, COUNT(*) AS hits FROM cand
         |  JOIN truth USING (doc_a, doc_b) GROUP BY bands)
         |SELECT bo.bands, CAST(16 // bo.bands AS INTEGER) AS rows_per_band,
         |  tc.n_truth,
         |  COALESCE(cc.candidates, 0) AS candidates,
         |  COALESCE(h.hits, 0) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(tc.n_truth AS DOUBLE)
         |    AS recall,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE)
         |    / CAST(COALESCE(cc.candidates, 0) AS DOUBLE) AS precision
         |FROM (VALUES (2),(4),(8)) bo(bands) CROSS JOIN tc
         |LEFT JOIN cc ON cc.bands = bo.bands
         |LEFT JOIN h ON h.bands = bo.bands
         |ORDER BY bo.bands""".stripMargin,
    // full DuckDB twin of the md5 MinHash-LSH pipeline: 3-gram shingles →
    // 16 md5 minhashes → 4 bands of 4 → band-bucket self-join → exact
    // jaccard on distinct shingle sets
    "llm_dedup_minhash_md5" ->
      s"""WITH $md5MinhashCte,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |jac AS (SELECT doc_a, doc_b,
         |    ROUND(
         |      CAST(len(list_filter(da.sh, x -> list_contains(db.sh, x)))
         |        AS DOUBLE)
         |      / (len(da.sh) + len(db.sh)
         |         - len(list_filter(da.sh, x -> list_contains(db.sh, x)))),
         |      4) AS jaccard
         |  FROM cand
         |  JOIN d da ON da.doc_id = doc_a
         |  JOIN d db ON db.doc_id = doc_b)
         |SELECT doc_a, doc_b, jaccard FROM jac
         |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    // K-M twin: one digest per shingle, h_i = h1 + i·h2 over the two
    // leading 32-bit halves — values < 2^36 so DuckDB's strict BIGINT
    // arithmetic cannot overflow
    "llm_dedup_minhash_km" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
        |  FROM documents),
        |d AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(tk) - 1),
        |    i -> array_to_string(tk[i : i + 2], ' '))) AS sh
        |  FROM t WHERE len(tk) >= 3),
        |sig AS (SELECT doc_id, i,
        |    MIN(CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)
        |      + i * CAST('0x' || substr(md5(s), 9, 8) AS BIGINT)) AS m
        |  FROM d, unnest(d.sh) AS u(s), unnest(range(0, 16)) AS v(i)
        |  GROUP BY doc_id, i),
        |band AS (SELECT doc_id, i // 4 AS band,
        |    md5(string_agg(CAST(m AS VARCHAR), '|' ORDER BY i)) AS sig
        |  FROM sig GROUP BY doc_id, i // 4),
        |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM band a JOIN band b
        |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id),
        |jac AS (SELECT doc_a, doc_b,
        |    ROUND(
        |      CAST(len(list_filter(da.sh, x -> list_contains(db.sh, x)))
        |        AS DOUBLE)
        |      / (len(da.sh) + len(db.sh)
        |         - len(list_filter(da.sh, x -> list_contains(db.sh, x)))),
        |      4) AS jaccard
        |  FROM cand
        |  JOIN d da ON da.doc_id = doc_a
        |  JOIN d db ON db.doc_id = doc_b)
        |SELECT doc_a, doc_b, jaccard FROM jac
        |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin,
    // cross-corpus variant: signatures are per-doc (independent of the
    // frame split), so the twin computes them once and applies the
    // train/bench id-range roles at the candidate join
    "llm_decontaminate_fuzzy" ->
      s"""WITH $md5MinhashCte,
         |cand AS (SELECT DISTINCT a.doc_id AS train_doc,
         |    b.doc_id AS bench_doc
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.sig = b.sig
         |  WHERE a.doc_id >= 100 AND b.doc_id < 100),
         |jac AS (SELECT train_doc, bench_doc,
         |    ROUND(
         |      CAST(len(list_filter(da.sh, x -> list_contains(db.sh, x)))
         |        AS DOUBLE)
         |      / (len(da.sh) + len(db.sh)
         |         - len(list_filter(da.sh, x -> list_contains(db.sh, x)))),
         |      4) AS jaccard
         |  FROM cand
         |  JOIN d da ON da.doc_id = train_doc
         |  JOIN d db ON db.doc_id = bench_doc)
         |SELECT train_doc, bench_doc, jaccard FROM jac
         |WHERE jaccard >= 0.8 ORDER BY train_doc, bench_doc""".stripMargin,
    "llm_dedup_norm" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS h,
        |MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY h""".stripMargin,
    // llm_dedup_near_minhash: omitted (engine-specific hashing); pinned by
    // the planted-duplicates unit test instead
    "llm_dedup_jaccard" -> JaccardPairsOracle,
    // the contract is EXACT (every qualifying pair), so the oracle is
    // the direct all-pairs definition — DuckDB affords O(bucket²) at
    // fixture scale; the Spark side must find the same set through the
    // df-bounded prefix probe
    "llm_dedup_containment" ->
      """WITH t AS (SELECT doc_id, source,
        |    list_sort(list_distinct(list_transform(
        |      range(1, len(string_split_regex(text, ' ')) - 1),
        |      i -> array_to_string(
        |        string_split_regex(text, ' ')[i:i+2], ' ')))) AS sh
        |  FROM documents
        |  WHERE len(string_split_regex(text, ' ')) >= 3)
        |SELECT a.source, a.doc_id AS doc_small, b.doc_id AS doc_big,
        |  ROUND(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x)))
        |      AS DOUBLE) / len(a.sh), 4) AS containment
        |FROM t a JOIN t b ON a.source = b.source
        |  AND (len(a.sh) < len(b.sh)
        |       OR (len(a.sh) = len(b.sh) AND a.doc_id < b.doc_id))
        |WHERE ROUND(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x)))
        |    AS DOUBLE) / len(a.sh), 4) >= 0.9
        |ORDER BY doc_small, doc_big""".stripMargin,
    // identical contract, different candidate engine — one oracle
    // definition proves both plans (size-band and prefix-filter)
    "llm_dedup_jaccard_prefix" -> JaccardPairsOracle,
    "llm_dedup_clusters" ->
      """WITH RECURSIVE t AS (SELECT doc_id, source,
        |  list_distinct(string_split_regex(text, ' ')) AS tk FROM documents),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) /
        |    (CAST(len(a.tk) + len(b.tk) AS DOUBLE)
        |      - len(list_intersect(a.tk, b.tk))), 4) >= 0.95),
        |e AS (SELECT doc_a AS x, doc_b AS y FROM p
        |      UNION ALL SELECT doc_b, doc_a FROM p),
        |walk AS (SELECT x AS node, y AS label FROM e
        |         UNION
        |         SELECT e.x, w.label FROM e JOIN walk w ON e.y = w.node)
        |SELECT node AS doc_id, LEAST(node, MIN(label)) AS cluster_id
        |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin,
    "llm_dedup_clusters_star" ->
      """WITH RECURSIVE t AS (SELECT doc_id, source,
        |  list_distinct(string_split_regex(text, ' ')) AS tk FROM documents),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM t a JOIN t b ON a.source = b.source AND a.doc_id < b.doc_id
        |  WHERE ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) /
        |    (CAST(len(a.tk) + len(b.tk) AS DOUBLE)
        |      - len(list_intersect(a.tk, b.tk))), 4) >= 0.95),
        |e AS (SELECT doc_a AS x, doc_b AS y FROM p
        |      UNION ALL SELECT doc_b, doc_a FROM p),
        |walk AS (SELECT x AS node, y AS label FROM e
        |         UNION
        |         SELECT e.x, w.label FROM e JOIN walk w ON e.y = w.node)
        |SELECT node AS doc_id, LEAST(node, MIN(label)) AS cluster_id
        |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin,
    "llm_sim_topk" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id < 10),
         |s AS (SELECT qid, vec_id,
         |  ROUND(${dotSql("qe", "embedding")}, 6) AS sim_r
         |  FROM q, embeddings WHERE vec_id != qid)
         |SELECT qid, rk, vec_id, sim_r FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY sim_r DESC, vec_id) AS INTEGER) AS rk FROM s) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "llm_cluster_assign" ->
      s"""WITH c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
         |  WHERE vec_id < 8),
         |s AS (SELECT vec_id, cid,
         |  ROUND(${dotSql("ce", "embedding")}, 6) AS sim_r
         |  FROM embeddings CROSS JOIN c)
         |SELECT vec_id, cid AS cluster_id, sim_r FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY sim_r DESC, cid) AS rk FROM s) t
         |WHERE rk = 1 ORDER BY vec_id""".stripMargin,
    "llm_sim_threshold_join" ->
      s"""SELECT a.label AS label, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ROUND(${dotSql("a.embedding", "b.embedding")}, 6) AS sim_r
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ROUND(${dotSql("a.embedding", "b.embedding")}, 6) >= 0.25
         |ORDER BY vec_a, vec_b""".stripMargin,
    "llm_knn_label_vote" ->
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id < 10),
         |s AS (SELECT qid, vec_id,
         |  ROUND(${dotSql("qe", "embedding")}, 6) AS sim_r
         |  FROM q, embeddings WHERE vec_id != qid),
         |topk AS (SELECT qid, vec_id FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY sim_r DESC, vec_id) AS rk FROM s) t WHERE rk <= 5),
         |votes AS (SELECT qid, e.label, COUNT(*) AS n_votes
         |  FROM topk JOIN embeddings e ON topk.vec_id = e.vec_id
         |  GROUP BY qid, e.label)
         |SELECT v.qid, e2.label AS true_label, v.label AS pred_label,
         |  v.n_votes
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY n_votes DESC, label ASC) AS rk FROM votes) v
         |JOIN embeddings e2 ON v.qid = e2.vec_id
         |WHERE v.rk = 1 ORDER BY v.qid""".stripMargin,
    "llm_text_stats" ->
      """SELECT doc_id, n_chars, length(text) AS len_text,
        |CAST(len(string_split_regex(text, ' ')) AS INTEGER) AS n_tokens,
        |CAST(len(list_distinct(string_split_regex(text, ' '))) AS INTEGER)
        |  AS n_distinct,
        |CAST(list_sum(list_transform(string_split_regex(text, ' '),
        |    t -> length(t))) AS DOUBLE)
        |  / len(string_split_regex(text, ' ')) AS avg_tok_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_lang_profile" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |CAST(SUM(len(string_split_regex(text, ' '))) AS DOUBLE) / COUNT(*)
        |  AS avg_tokens,
        |ROUND(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
        |ROUND(quantile_cont(n_chars, 0.9), 6) AS p90_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "llm_tfidf_topterms" ->
      """WITH toks AS (SELECT doc_id, source,
        |    unnest(string_split_regex(text, ' ')) AS term FROM documents),
        |tf AS (SELECT source, term, COUNT(*) AS tf FROM toks
        |  GROUP BY source, term),
        |df AS (SELECT term, COUNT(*) AS df FROM
        |  (SELECT DISTINCT doc_id, term FROM toks) t GROUP BY term),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (SELECT source, tf.term AS term,
        |  ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS score_r
        |  FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
        |SELECT source, rk, term, score_r FROM (
        |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY score_r DESC, term ASC) AS INTEGER) AS rk
        |  FROM scored) t
        |WHERE rk <= 10 ORDER BY source, rk""".stripMargin
  )
}
