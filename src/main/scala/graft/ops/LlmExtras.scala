package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.util.Pin
import graft.util.Tables._

/** Beyond-§2 training-data operators (the north star's full list: SimHash,
  * embedding-cosine near-dup, language-ID, quality scoring, BPE-ish token
  * counting, document fingerprinting). Each is a first-class `queries` key.
  *
  * Scale notes:
  *  - simhash / fingerprint are pure map-side HOF expressions — zero
  *    shuffles, embarrassingly parallel, codegen'd;
  *  - embedding near-dup uses sign-bit LSH buckets (random-hyperplane LSH
  *    specialized to axis planes): candidate pairs are bounded per bucket,
  *    never all-pairs;
  *  - language-ID is fit/transform: the per-(lang, token) log-odds table
  *    joins back to the token stream as a plain shuffle equi-join (the
  *    table is vocabulary-sized, so never hint-broadcast; AQE may still
  *    broadcast when it genuinely fits); scores are summed as fixed-point
  *    DECIMAL so the sum is order-free (SURVEY §7.2.2 applied to
  *    log-probs).
  */
object LlmExtras {

  /** DuckDB twin of graft.api.Similarity.signBucket (MSB = dim 1). */
  private def signBucketSql(e: String, bits: Int = 8): String =
    (0 until bits).map(i =>
      s"(CASE WHEN $e[${i + 1}] >= 0 THEN ${1 << (bits - 1 - i)} ELSE 0 END)")
      .mkString(" + ")

  /** Bucket width of the PERSISTED IVF index keys (llm_sim_index/_grow)
    * — one constant for the Spark writes and the generated oracle. 6
    * bits = 64 inverted lists: at the fixture's 500 vectors that is
    * ~8 vectors/list (a real probe exercise), while 8 bits would mean
    * ~256 near-empty partition DIRECTORIES whose per-file commit cost
    * dominates the key (measured 6.1/7.9 s at bits=8 vs the ~3 s write
    * the data warrants). Production grows bits with the corpus so lists
    * stay bounded — the [[graft.api.Similarity.topKIvfTrained]] note. */
  private val IvfIndexBits = 6

  /** DuckDB twin of the codegen'd sequential double dot-product fold */
  private def dotSql(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), " +
      "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"

  /** Shared chunk geometry for llm_chunk_tokens / llm_pack_sequences (the
    * packing stage must see EXACTLY what the chunking stage emits — one
    * definition, two consumers; `chunkCte` is the DuckDB twin). 16-token
    * chunks on a 12-token stride. */
  private val ChunkWidth = 16
  private val ChunkStep = 12

  /** Merge-count for the llm_bpe_train / llm_bpe_encode keys — one
    * definition feeding the Spark loop AND the generated N-step oracle
    * CTE, so the two engines replay the identical training run. */
  private val BpeTrainMerges = 8

  /** Merge-count for llm_wordpiece_train — the same shared-constant rule
    * as [[BpeTrainMerges]] (and the same value: the tokenizer families
    * train symmetric-depth runs so their keys price comparable work). */
  private val WpTrainMerges = 8

  /** md5 digests per synthesized WAV payload (16 bytes each) for
    * llm_multimodal_audio_features — one constant feeding the Spark
    * synthesis AND the generated oracle so the sample streams can never
    * drift. 4 × 16 = 64 samples: enough for non-trivial rms/zcr, small
    * enough that Σ amp² stays exactly representable in double. */
  private val AudioDigests = 4

  /** NFC composition (JDK Normalizer) — the one text-cleaning step with
    * no Spark built-in; NULL-safe. */
  private val nfcUdf = udf((t: String) =>
    if (t == null) null
    else java.text.Normalizer.normalize(t, java.text.Normalizer.Form.NFC))

  private def chunked(docs: DataFrame, withText: Boolean = false): DataFrame = {
    val base = docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), col("source"), col("tk"),
        explode(sequence(lit(1), size(col("tk")), lit(ChunkStep)))
          .as("start"))
    val core = Seq(col("doc_id"), col("source"),
      ((col("start") - 1) / ChunkStep).cast("int").as("chunk_id"),
      least(lit(ChunkWidth), size(col("tk")) - col("start") + 1)
        .as("n_tokens"))
    val cols = if (withText)
      core :+ concat_ws(" ", slice(col("tk"), col("start"), lit(ChunkWidth)))
        .as("chunk_text")
    else core
    base.select(cols: _*)
  }

  /** DuckDB CTE producing the identical chunk set (named `c`). */
  private val chunkCte: String =
    s"""t AS (SELECT doc_id, source,
       |    string_split_regex(text, ' ') AS tk FROM documents),
       |c AS (SELECT doc_id, source,
       |    CAST((start - 1) // $ChunkStep AS INTEGER) AS chunk_id,
       |    array_to_string(tk[start:start + ${ChunkWidth - 1}], ' ')
       |      AS chunk_text,
       |    CAST(least($ChunkWidth, len(tk) - start + 1) AS INTEGER)
       |      AS n_tokens
       |  FROM t, unnest(generate_series(1, len(tk), $ChunkStep))
       |    AS u(start))""".stripMargin

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SimHash document signatures — map-side only, no shuffle (graft.api)
    "llm_simhash" -> ((s, d) =>
      graft.api.TextDedup.simhash(documents(s, d), col("doc_id"), col("text"))
        .orderBy("doc_id")),

    // ENGINE-PORTABLE fingerprint twin (r5): bottom-16 md5 digests of
    // the distinct 3-gram shingles (a KMV / mod-p winnowing sketch —
    // same containment-estimation role as llm_fingerprint's min-k
    // xxhash form, which stays the fast in-engine path). Completes the
    // md5-twin family: every signature scheme now has an oracle-checked
    // variant.
    "llm_fingerprint_md5" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) >= 3)
        .withColumn("sh", array_distinct(transform(
          sequence(lit(1), size(col("tk")) - 2),
          i => concat_ws(" ", slice(col("tk"), i, lit(3))))))
        .select(col("doc_id"),
          concat_ws("|", slice(array_sort(transform(col("sh"),
            s => md5(s))), 1, 16)).as("fingerprint"))
        .orderBy("doc_id")),

    // ENGINE-PORTABLE SimHash twin (r5): the 60-bit signature built from
    // md5 token hashes — like llm_dedup_minhash_md5 this closes the
    // oracle gap the xxhash64 llm_simhash is sanctioned for. Per doc:
    // distinct tokens → 60-bit hash (first 15 md5 hex chars, parsed
    // identically by Spark conv(…,16,10) and DuckDB CAST('0x…')) →
    // per-bit ±1 vote → bit b set iff the vote is positive. The
    // explode-by-bit groupBy is the oracle-mirrorable spelling; the
    // production one-pass form is the native SimHash64 expression behind
    // llm_simhash.
    "llm_simhash_md5" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          explode(array_distinct(split(col("text"), " "))).as("tok"))
        .withColumn("hv",
          conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long"))
        .select(col("doc_id"), col("hv"),
          explode(sequence(lit(0), lit(59))).as("b"))
        .groupBy("doc_id", "b")
        .agg(sum(when(expr("(shiftright(hv, b) & 1)") === 1, 1L)
          .otherwise(-1L)).as("sgn"))
        .groupBy("doc_id")
        .agg(sum(when(col("sgn") > 0,
            expr("shiftleft(cast(1 as bigint), b)")).otherwise(0L))
          .as("simhash_md5"))
        .orderBy("doc_id")),

    // SimHash near-dup pairing (the classic web-dedup method) — thin
    // delegate to graft.api.TextDedup.nearSimhash: banded equi-join
    // candidates, map-side hamming verify BEFORE the pair-dedup shuffle.
    // No oracle (engine-specific xxhash64 inside the signature, same
    // sanction as llm_simhash); planted-duplicate + synthetic-band specs
    // pin recall and exclusion.
    "llm_dedup_simhash" -> ((s, d) =>
      graft.api.TextDedup
        .nearSimhash(documents(s, d), col("doc_id"), col("text"))
        .orderBy("doc_a", "doc_b")),

    // ENGINE-PORTABLE SimHash near-dup PAIRING (r10) — what
    // llm_simhash_md5 (the per-doc signature) is to llm_simhash, this is
    // to llm_dedup_simhash: the whole dedup operator hash-checked end to
    // end. graft.api.TextDedup.nearSimhashMd5: md5-bit ±1 balances ride
    // ONE 64-sum partial aggregation (the shuffle carries 64 ints + id
    // per doc, never tokens), sign bits pack as FOUR 16-bit bands (the
    // dHash geometry — 16-bit ints sidestep 64-bit overflow divergence),
    // candidates from the collapse-guarded band equi-join, verify =
    // exact Σ bit_count(xor) hamming ≤ 3 with the pigeonhole recall
    // guarantee. DuckDB oracle mirrors every step from the same
    // generated constants.
    "llm_dedup_simhash_md5" -> ((s, d) =>
      graft.api.TextDedup
        .nearSimhashMd5(documents(s, d), col("doc_id"), col("text"))
        .orderBy("doc_a", "doc_b")),

    // the APPLY side of md5-SimHash dedup — the row-level output a
    // training run consumes: pairs → connected components
    // (TextDedup.clusters, pointer-jumping over 8-byte node ids) →
    // min-id representative kept; the llm_dedup_apply /
    // llm_multimodal_phash_apply rule on token space, hash-checked
    "llm_dedup_simhash_apply" -> ((s, d) => {
      val pairs = graft.api.TextDedup
        .nearSimhashMd5(documents(s, d), col("doc_id"), col("text"))
        .select(col("doc_a"), col("doc_b"))
      val drop = graft.api.TextDedup
        .clusters(pairs, col("doc_a"), col("doc_b"))
        .filter(col("node") =!= col("cluster_id"))
        .select(col("node").as("doc_id"))
      documents(s, d).join(drop, Seq("doc_id"), "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // the NIGHTLY form of SimHash dedup (r10) — the last dedup family
    // to gain a persisted-index incremental shape, and hash-checked
    // because the md5 band signature is engine-portable: corpus bands
    // persist once via writeSimhashMd5Index (4 ints/doc, ~20 bytes —
    // corpus text never re-tokenized at screen time), the day's delta
    // (doc_id % 10 = 0, the fixture role split every *_delta key uses)
    // screens against the index AND itself with keep-min
    // (TextDedup.bandDrops, the rule simhashMd5DedupShardAgainstIndex
    // applies); probes are band equi-joins against the 4-int rows
    "llm_dedup_simhash_delta" -> ((s, d) => {
      val docs = documents(s, d)
      val delta = docs.filter(col("doc_id") % 10 === 0)
      val idx = graft.util.Staging.dir("simhash_band_index", d)
      // the delta's band pin is independent of the index write —
      // overlap the two chains from two driver threads (guide §2.6,
      // the llm_dedup_forget spelling)
      val (_, bd) = graft.util.Par.both(
        graft.api.TextDedup.writeSimhashMd5Index(
          docs.filter(col("doc_id") % 10 =!= 0), col("doc_id"),
          col("text"), idx),
        Pin(graft.api.TextDedup.simhashMd5Bands(delta, col("doc_id"),
          col("text"))))
      delta
        .join(graft.api.TextDedup.bandDrops(bd, idx),
          col("doc_id") === col("__drop_id"), "left_anti")
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")
    }),

    // min-k shingle-hash fingerprint (winnowing-style, graft.api). The
    // declared output flattens ARRAY<BIGINT> → '|'-joined string: the
    // driver's pandas comparator cannot sort raw array columns
    // (CORRECTNESS_r02); API users get the raw array from
    // TextDedup.fingerprint.
    "llm_fingerprint" -> ((s, d) =>
      graft.api.TextDedup
        .fingerprint(documents(s, d), col("doc_id"), col("text"))
        .select(col("doc_id"),
          concat_ws("|", col("fingerprint")).as("fingerprint"))
        .orderBy("doc_id")),

    // Gopher/C4-style quality gates (graft.api.TextQuality): word count,
    // mean word length, short-word fraction, single-token dominance;
    // `keep` ANDs the gates ON THE RAW doubles (the declared output
    // rounds only the displayed ratio columns). Scale shape: map-side HOF
    // arithmetic plus ONE explode → partial-agg groupBy for dominance.
    "llm_gopher_filters" -> ((s, d) =>
      graft.api.TextQuality
        .gopherFilter(documents(s, d), col("doc_id"), col("text"))
        .select(col("id").as("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("short_frac"), 6).as("short_frac"),
          round(col("top_word_ratio"), 6).as("top_word_ratio"),
          col("keep"))
        .orderBy("doc_id")),

    // PII-style scrub (graft.api.TextQuality.scrub): redact digit runs in
    // the events payload and count the redactions. Pure map-side regexp —
    // the shape of every pipeline-side PII pass (emails/phones/ids swap
    // in bigger patterns without changing the plan).
    "llm_pii_scrub" -> ((s, d) =>
      graft.api.TextQuality
        .scrub(events(s, d), col("event_id"), col("props"))
        .select(col("id").as("event_id"), col("scrubbed"), col("n_redacted"))
        .orderBy("event_id")),

    // context-window packing: fixed 16-token chunks on a 12-token stride
    // (4-token overlap) — the chunking op every LLM training pipeline runs
    // before tokenizer/packing stages. Pure map-side: one split, one
    // arithmetic sequence, one posexplode; output rows ≈ tokens/stride.
    "llm_chunk_tokens" -> ((s, d) =>
      chunked(documents(s, d), withText = true)
        .select("doc_id", "chunk_id", "chunk_text", "n_tokens")
        .orderBy("doc_id", "chunk_id")),

    // sequence packing (the stage after chunking): chunks are packed into
    // fixed 512-token training sequences by a running token cumsum —
    // pack_id = (cumsum - n) div budget, the standard streaming packing.
    // Packing is PER SOURCE (the shard key): each partition packs
    // independently in one window pass — a single global ordering would
    // serialize the corpus through one partition, the classic scale trap.
    "llm_pack_sequences" -> ((s, d) => {
      val budget = 512
      val w = Window.partitionBy("source").orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      chunked(documents(s, d))
        .withColumn("pack_id",
          ((sum(col("n_tokens")).over(w) - col("n_tokens")) / budget)
            .cast("int"))
        .groupBy("source", "pack_id")
        .agg(count(lit(1)).as("n_chunks"), sum(col("n_tokens")).as("n_tokens"))
        .orderBy("source", "pack_id")
    }),

    // deterministic source-mixture sampling (dataset mixing): even-numbered
    // sources keep 100%, odd-numbered 50% via the md5 hash band —
    // reproducible run-over-run, engine-identical, zero shuffle before the
    // audit aggregation (same idiom as sample_hash_split)
    "llm_sample_by_source" -> ((s, d) =>
      documents(s, d)
        .filter(substring(col("source"), 4, 10).cast("int") % 2 === 0 ||
          substring(md5(col("doc_id").cast("string")), 1, 1) < "8")
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .orderBy("source")),

    // corpus-wide top-100 bigram counts (n-gram profile): in-row bigram
    // construction (transform over an index sequence — no self-join),
    // explode → partial-agg count → TakeOrderedAndProject top-k.
    // The token array MUST be materialized as a column before the lambda:
    // element_at(split(text),i) inside transform re-runs the O(n) split per
    // element — O(n²) per row, measured 4× slower on the sf0.1 corpus.
    "llm_ngram_counts" -> ((s, d) =>
      documents(s, d)
        .select(split(col("text"), " ").as("tk"))
        .filter(size(col("tk")) > 1)
        .select(explode(transform(sequence(lit(1), size(col("tk")) - 1),
          i => concat_ws(" ",
            element_at(col("tk"), i), element_at(col("tk"), i + 1))))
          .as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(100)),

    // whitespace tokens vs BPE-ish regex tokens per doc
    "llm_token_count_bpe" -> ((s, d) =>
      documents(s, d).select(
          col("doc_id"),
          size(split(col("text"), "\\s+")).as("n_ws_tokens"),
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
            .as("n_bpe_tokens"))
        .orderBy("doc_id")),

    // quality score from length / diversity / stopword ratios — exact
    // integer inputs, IEEE arithmetic, rounded once at the end
    "llm_quality_score" -> ((s, d) => {
      val toks = split(col("text"), " ")
      val nTok = size(toks).cast("double")
      val ttr = size(array_distinct(toks)) / nTok
      val stopRatio = size(filter(toks,
        t => t === "a" || t === "the")) / nTok
      documents(s, d).select(
          col("doc_id"),
          round(ttr, 6).as("ttr"),
          round(stopRatio, 6).as("stop_ratio"),
          round(ttr * 0.4 + (lit(1.0) - stopRatio) * 0.3 +
            least(nTok / 100.0, lit(1.0)) * 0.3, 6).as("quality"))
        .orderBy("doc_id")
    }),

    // fitted naive-Bayes language-ID: per-(lang, token) Laplace-smoothed
    // log-odds, doc score = order-free DECIMAL sum of rounded log-probs,
    // output = confusion matrix of true vs predicted lang. Plan shape,
    // pins, and the no-broadcast scoring-join rule live in
    // TextQuality.langIdConfusion's scaladoc; whether its pins survive
    // executor loss is graft.util.Pin's policy (a deployment sets
    // spark.checkpoint.dir; the harness sets none).
    "llm_lang_id" -> ((s, d) =>
      graft.api.TextQuality
        .langIdConfusion(documents(s, d), col("doc_id"), col("lang"),
          col("text"))
        .select(col("label").as("lang"), col("pred_label").as("pred_lang"),
          col("n"))
        .orderBy("lang", "pred_lang")),

    // IVF-style ANN: the sign-bucket is the coarse quantizer (an inverted
    // list per bucket); a query probes ONLY its own list. At 100 TB this is
    // the similarity-search scale path — probe cost is |list|, not |corpus|;
    // recall-vs-cost tunes via nprobe (here 1) and bucket bits (graft.api).
    "llm_sim_topk_ivf" -> ((s, d) => {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.api.Similarity
        .topKIvf(emb, col("vec_id"), col("embedding"), q, k = 5)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // multi-probe IVF: same inverted lists, but each query also probes
    // its 3 nearest one-bit-flip buckets (nprobe=4) — recall climbs while
    // probe cost stays |list|-bounded × nprobe. The recall-vs-cost knob
    // of every production ANN index, exercised end-to-end.
    "llm_sim_topk_ivf_probe" -> ((s, d) => {
      val emb = embeddings(s, d)
      val q = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.api.Similarity
        .topKIvf(emb, col("vec_id"), col("embedding"), q, k = 5, nprobe = 4)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // PERSISTED IVF index (r13 verdict #1) — the similarity family's
    // nightly form, closing the one family without one: the corpus
    // (vec_id % 10 != 0) is sign-bucketed + int8-quantized ONCE into
    // bucket-partitioned parquet inverted lists (writeIvfIndex — an
    // inverted list IS a partition directory, so a probe reads only the
    // probed files); the day's query shard (% 10 == 0) then probes the
    // STORED index with nprobe=2 multi-probe and exact-integer
    // quantizedDot scoring. Raw corpus vectors are never re-read at
    // query time — at 10⁹ vectors the probe scans only compressed codes
    // of the probed lists. The write is timed in-key (the honesty rule).
    "llm_sim_index" -> ((s, d) => {
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      val q = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val idx = graft.util.Staging.dir("ivf_index", d)
      graft.api.Similarity.writeIvfIndex(corpus, col("vec_id"),
        col("embedding"), idx, bits = IvfIndexBits)
      graft.api.Similarity.topKAgainstIvfIndex(s, idx, q, k = 5, nprobe = 2)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // the GROW step of the persisted IVF index, oracle-checked: day-0
    // corpus indexed once, day-1 shard ACCEPTED via appendToIvfIndex
    // (bucketed + quantized rows appended — the corpus never re-buckets),
    // then the query shard probes the grown index. The oracle is the
    // rebuilt-index definition over day0 ∪ day1 — grown ≡ rebuilt is
    // exactly the append step's contract (bucket and codes are
    // deterministic per vector), so the DuckDB hash gate certifies the
    // append path end to end (the llm_dedup_substring_grow shape).
    "llm_sim_index_grow" -> ((s, d) => {
      val emb = embeddings(s, d)
      val day0 = emb.filter(col("vec_id") % 10 =!= 0 &&
        col("vec_id") % 10 =!= 3)
      val day1 = emb.filter(col("vec_id") % 10 === 3)
      val q = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val idx = graft.util.Staging.dir("ivf_grow", d)
      graft.api.Similarity.writeIvfIndex(day0, col("vec_id"),
        col("embedding"), idx, bits = IvfIndexBits)
      graft.api.Similarity.appendToIvfIndex(day1, col("vec_id"),
        col("embedding"), idx)
      graft.api.Similarity.topKAgainstIvfIndex(s, idx, q, k = 5, nprobe = 2)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // the COMPACT step of the persisted IVF index, oracle-checked (r14
    // verdict #3 — the one lifecycle step without a hash-checked key):
    // day-0 corpus indexed once, day-1 shard ACCEPTED via append (each
    // append lands one extra small file per touched list directory —
    // probe cost is paid per FILE open), then compactIvfIndex rewrites
    // the lists back to the one-file-per-list layout through the staged
    // rename swap, and the query shard probes the compacted index. Rows
    // are per-vector and unique, so compaction is pure file
    // consolidation: the oracle is the same rebuilt-over-everything
    // definition as _grow — compacted ≡ grown ≡ rebuilt, certified by
    // the hash gate. Write + append + compact all timed in-key (the
    // honesty rule; in-key-write tier). The index family is now
    // write/grow/forget/compact complete under the oracle gate.
    "llm_sim_index_compact" -> ((s, d) => {
      val emb = embeddings(s, d)
      val day0 = emb.filter(col("vec_id") % 10 =!= 0 &&
        col("vec_id") % 10 =!= 3)
      val day1 = emb.filter(col("vec_id") % 10 === 3)
      val q = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val idx = graft.util.Staging.dir("ivf_compact", d)
      graft.api.Similarity.writeIvfIndex(day0, col("vec_id"),
        col("embedding"), idx, bits = IvfIndexBits)
      graft.api.Similarity.appendToIvfIndex(day1, col("vec_id"),
        col("embedding"), idx)
      graft.api.Similarity.compactIvfIndex(s, idx)
      graft.api.Similarity.topKAgainstIvfIndex(s, idx, q, k = 5, nprobe = 2)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // the PRODUCT-QUANTIZED persisted index (r15 — the FAISS IVFPQ
    // shape, completing the persisted-ANN family): corpus sign-bucketed
    // and PQ-encoded ONCE against the deterministic seed codebook
    // (16 codes × 8 subspaces — 8 BYTES per stored vector, 8× past the
    // int8 lists' 4×), codebook persisted AS index state; the query
    // shard probes with nprobe=2 multi-probe and TRUE ADC scoring —
    // each query precomputes its 128-entry LUT of sub-dot-products
    // once and scores a stored row as m table lookups over the 1-byte
    // codes, never touching a reconstructed vector. Every stage is
    // fixed-fold-order deterministic, so the full lifecycle is
    // hash-checked end to end (write timed in-key; in-key-write tier).
    "llm_sim_index_pq" -> ((s, d) => {
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      val q = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val cb = graft.api.Similarity.pqSeedCodebook(corpus,
        col("vec_id"), col("embedding"), m = 8, subDim = 8, k = 16)
      val idx = graft.util.Staging.dir("ivf_pq", d)
      graft.api.Similarity.writeIvfPqIndex(corpus, col("vec_id"),
        col("embedding"), cb, idx, bits = IvfIndexBits, m = 8, subDim = 8)
      graft.api.Similarity.topKAgainstIvfPqIndex(s, idx, q, k = 5,
        nprobe = 2)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // the TRAINED-coarse-quantizer persisted IVF (the production
    // generalization of llm_sim_index's sign buckets — verdict r13 #1's
    // optional half): centroids here are the DETERMINISTIC seed frame
    // (the 16 lowest-id corpus vectors, the pqSeedCodebook convention),
    // so the full lifecycle — centroids persisted AS index state,
    // argmax-centroid cell assignment, quantized lists, probe = rank
    // stored centroids then scan nprobe cells — is oracle-checkable end
    // to end; a kMeansFit-trained centroid frame drops in with zero plan
    // change (float training ⇒ that path stays test-pinned, the
    // topKIvfTrained rule). Write timed in-key (honesty rule).
    "llm_sim_index_trained" -> ((s, d) => {
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      val cents = corpus.orderBy("vec_id").limit(16)
        .withColumn("cid",
          (row_number().over(Window.orderBy("vec_id")) - 1).cast("int"))
        .select(col("cid"), col("embedding").as("ce"))
      val q = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val idx = graft.util.Staging.dir("ivf_trained", d)
      graft.api.Similarity.writeIvfIndexTrained(corpus, col("vec_id"),
        col("embedding"), cents, idx)
      graft.api.Similarity
        .topKAgainstIvfIndexTrained(s, idx, q, k = 5, nprobe = 2)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // the FORGET step of the persisted IVF index, oracle-checked (the
    // llm_dedup_forget shape applied to ANN — the right-to-be-forgotten
    // cycle every production embedding store needs): corpus indexed
    // once, the purge set (vec_id % 10 == 6) REMOVED via
    // removeFromIvfIndex (anti-join + rename-swap rewrite of the
    // compressed-code lists — raw embeddings never re-read), then the
    // query shard probes the purged index. The oracle is the
    // rebuilt-without definition over the surviving corpus — purged ≡
    // rebuilt is exactly the removal contract (rows are per-vector and
    // independent), so the hash gate certifies the rewrite + swap end
    // to end. The index write AND the removal rewrite are timed in-key
    // (the honesty rule; in-key-write tier in BENCH_TIERS.json).
    "llm_sim_index_forget" -> ((s, d) => {
      import s.implicits._
      val emb = embeddings(s, d)
      val corpus = emb.filter(col("vec_id") % 10 =!= 0)
      val q = emb.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val idx = graft.util.Staging.dir("ivf_forget", d)
      graft.api.Similarity.writeIvfIndex(corpus, col("vec_id"),
        col("embedding"), idx, bits = IvfIndexBits)
      graft.api.Similarity.removeFromIvfIndex(s, idx,
        corpus.filter(col("vec_id") % 10 === 6).select(col("vec_id")))
      graft.api.Similarity.topKAgainstIvfIndex(s, idx, q, k = 5, nprobe = 2)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // Unicode canonicalization — the cleaning step BEFORE any text dedup
    // hashes bytes (é as one codepoint vs e+combining-acute must dedup
    // together): NFC composition via a minimal UDF (the JDK Normalizer —
    // Spark has no built-in NFC; this is the sanctioned UDF escape hatch,
    // kept to the one non-expressible step), then codegen'd
    // lower/whitespace-collapse/trim. Map-side only, no shuffle. The
    // fixture corpus is ASCII-only, so the query unions three
    // NFC-divergent probe rows (negative doc_ids, mirrored in the oracle
    // SQL via chr()) — decomposed vs precomposed accents and the U+212B
    // angstrom compatibility mapping — so the DuckDB hash gate genuinely
    // exercises the composition path instead of collapsing to a
    // byte-identical twin of udf_scalar. Exotic case foldings (U+0130
    // etc.) stay pinned by the unit test.
    "llm_text_normalize" -> ((s, d) => {
      import s.implicits._
      val probes = Seq(
        // decomposed (combining marks), run-on whitespace
        (-3L, "Cafe\u0301  de\u0301ja\u0300 vu"),
        // precomposed twin of -3 — must normalize byte-identically
        (-2L, "Caf\u00e9 d\u00e9j\u00e0 vu"),
        // U+212B ANGSTROM SIGN: NFC maps to U+00C5, lower to U+00E5
        (-1L, "\u212Bngstr\u00f6m UNITS"))
        .toDF("doc_id", "text")
      documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(probes)
        .select(col("doc_id"),
          trim(regexp_replace(lower(nfcUdf(col("text"))), "\\s+", " "))
            .as("norm_text"))
        .withColumn("n_chars_norm", length(col("norm_text")))
        .orderBy("doc_id")
    }),

    // embedding near-dup: sign-bit LSH bucket join + cosine verify —
    // bounded candidate generation, the ANN scale path for dedup
    "llm_dedup_embedding" -> ((s, d) =>
      graft.api.Similarity
        .nearDupLsh(embeddings(s, d), col("vec_id"), col("embedding"),
          minSim = 0.2)
        .orderBy("vec_a", "vec_b")),

    // the pairs→clusters step over EMBEDDING near-dups — the same
    // TextDedup.clusters components engine the text path uses, proving
    // the clustering layer is modality-independent
    "llm_dedup_embedding_clusters" -> ((s, d) => {
      val pairs = graft.api.Similarity
        .nearDupLsh(embeddings(s, d), col("vec_id"), col("embedding"),
          minSim = 0.2)
      graft.api.TextDedup.clusters(pairs, col("vec_a"), col("vec_b"))
        .select(col("node").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    }),

    // SemDeDup, end to end in ONE plan: coarse k-means assignment
    // (broadcast centroids, map-side) → similarity pairs WITHIN each
    // cluster (the cluster key bounds the pair space — that is the whole
    // point of clustering first) → connected components → keep the
    // lowest id per duplicate group, every other member marked dropped.
    // At 100 TB: k grows with the corpus (10⁴–10⁵ centroids) so
    // per-cluster candidate sets stay bounded; the fixture uses the 8
    // seed centroids of llm_cluster_assign.
    "llm_semdedup" -> ((s, d) => {
      val e = embeddings(s, d)
      val cents = e.filter(col("vec_id") < 8)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val assigned = graft.api.Similarity
        .assignClusters(e, col("vec_id"), col("embedding"), cents)
        .select(col("vec_id"), col("cluster_id"))
      val withCluster = e.join(assigned, "vec_id")
      val pairs = graft.api.Similarity.thresholdJoin(withCluster,
        col("vec_id"), col("embedding"), col("cluster_id"), minSim = 0.2)
      val comps = graft.api.TextDedup
        .clusters(pairs, col("vec_a"), col("vec_b"))
        .select(col("node").as("vec_id"), col("cluster_id").as("dup_group"))
      withCluster.select("vec_id", "cluster_id")
        .join(comps, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster_id"),
          (col("dup_group").isNull || col("dup_group") === col("vec_id"))
            .as("keep"))
        .orderBy("vec_id")
    }),

    // int8 embedding quantization (graft.api.Similarity.quantizeInt8):
    // the 4× storage/shuffle cut that makes 100 TB ANN affordable —
    // float32 embedding bytes, not doc text, dominate at that scale.
    // Map-side HOFs only. qvec flattens ARRAY<TINYINT> → '|' string for
    // the comparator; API users get the raw array.
    "llm_embed_quantize" -> ((s, d) =>
      graft.api.Similarity
        .quantizeInt8(embeddings(s, d), col("vec_id"), col("embedding"))
        .select(col("vec_id"), col("scale"),
          concat_ws("|", transform(col("qvec"), v => v.cast("string")))
            .as("qvec"))
        .orderBy("vec_id")),

    // brute-force top-k over the QUANTIZED vectors — the memory-bound
    // sibling of llm_sim_topk (integer dot exact in a long accumulator,
    // scales multiplied back in double, spelled identically in the
    // oracle); recall vs the exact ranking is pinned in SimilaritySpec
    "llm_sim_topk_quantized" -> ((s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.api.Similarity
        .topKQuantized(e, col("vec_id"), col("embedding"), q, k = 5)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // Product quantization encode (graft.api.Similarity.pqEncode): 64-dim
    // float32 → 8 one-byte sub-codes against a deterministic 8×16 seed
    // codebook — the 32× compression step past int8's 4×; argmin
    // assignment on 6-dp-rounded L2 with code tie-break, broadcast
    // codebook, map-side distances. codes flatten to '|' string for the
    // comparator; API users get the raw ARRAY<TINYINT>.
    "llm_pq_encode" -> ((s, d) => {
      val e = embeddings(s, d)
      val cb = graft.api.Similarity
        .pqSeedCodebook(e, col("vec_id"), col("embedding"), m = 8,
          subDim = 8, k = 16)
      graft.api.Similarity
        .pqEncode(e, col("vec_id"), col("embedding"), cb, m = 8, subDim = 8)
        .select(col("vec_id"),
          concat_ws("|", transform(col("codes"), c => c.cast("string")))
            .as("codes"))
        .orderBy("vec_id")
    }),

    // IVF+PQ (graft.api.Similarity.topKIvfPq): the composition of the
    // coarse sign-bucket probe (llm_sim_topk_ivf_probe) with ADC over
    // PQ codes (llm_sim_topk_pq) — the architecture a 10⁹-vector ANN
    // index actually runs: nprobe bounded inverted lists scanned over
    // the 32×-compressed corpus. nprobe=4 multi-probe; recall vs the
    // single-stage paths pinned in ApiSpec.
    "llm_sim_topk_ivfpq" -> ((s, d) => {
      val e = embeddings(s, d)
      val cb = graft.api.Similarity
        .pqSeedCodebook(e, col("vec_id"), col("embedding"), m = 8,
          subDim = 8, k = 16)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.api.Similarity
        .topKIvfPq(e, col("vec_id"), col("embedding"), cb, q, k = 5,
          m = 8, subDim = 8, nprobe = 4)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // ADC top-k over PQ-reconstructed vectors (queries full-precision) —
    // the end-to-end search path over the 32×-compressed corpus; recall
    // vs the exact ranking pinned in ApiSpec
    "llm_sim_topk_pq" -> ((s, d) => {
      val e = embeddings(s, d)
      val cb = graft.api.Similarity
        .pqSeedCodebook(e, col("vec_id"), col("embedding"), m = 8,
          subDim = 8, k = 16)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.api.Similarity
        .topKPq(e, col("vec_id"), col("embedding"), cb, q, k = 5, m = 8,
          subDim = 8)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // JL random projection 64 → 8 (graft.api.Similarity.randomProjection):
    // the deterministic dimensionality-reduction twin — ±1 sign rows
    // derived from md5 driver-side and inlined as literals into BOTH
    // plans, so the projection is oracle-checked value-for-value. Map-
    // side only: 8 codegen'd dots per row, no shuffle, no fitted state.
    "llm_embed_random_projection" -> ((s, d) => {
      val p = graft.api.Similarity.randomProjection(embeddings(s, d),
        col("vec_id"), col("embedding"), inDim = RpInDim, outDim = 8,
        seed = RpSeed)
      p.select(col("vec_id") +:
          (0 until 8).map(j => element_at(col("rp"), j + 1).as(s"rp_$j")): _*)
        .orderBy("vec_id")
    }),

    // brute-force top-k in 16-dim random-projection space — the reduced-
    // width ANN scan (4× fewer multiplies/bytes than the 64-dim exact
    // path); recall vs exact pinned in ApiSpec, and unlike PCA/trained
    // codebooks the whole pipeline is engine-reproducible, so this is
    // the family's oracle-checked search key.
    "llm_sim_topk_rp" -> ((s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.api.Similarity
        .topKRandomProjection(e, col("vec_id"), col("embedding"), q,
          k = 5, inDim = RpInDim, outDim = 16, seed = RpSeed)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // sample covariance matrix of the first 8 embedding dims (long form,
    // diagonal = variances): the profiling step before PCA/whitening.
    // agg_corr_matrix's one-scan discipline with a FIXED-POINT twist —
    // float values floor to exact micro-unit longs, so every sum is an
    // order-free integer (≤7e14 here: exact even through the double
    // finish) and the covariance is engine-stable to the last digit.
    // ONE partial-agg row (8 sums + 36 products), `inline` fans out.
    "llm_embed_cov_matrix" -> ((s, d) => {
      val dims = 0 until 8
      val prs = for { i <- dims; j <- dims if j >= i } yield (i, j)
      val base = embeddings(s, d).select(dims.map(i =>
        floor(element_at(col("embedding"), i + 1).cast("double")
          * lit(1000000.0)).as(s"u_$i")): _*)
      val moments = Seq(count(lit(1)).cast("double").as("n")) ++
        dims.map(i => sum(col(s"u_$i")).cast("double").as(s"s_$i")) ++
        prs.map { case (i, j) =>
          sum(col(s"u_$i") * col(s"u_$j")).cast("double").as(s"p_${i}_$j") }
      def covOf(i: Int, j: Int) =
        round((col(s"p_${i}_$j") - col(s"s_$i") * col(s"s_$j") / col("n"))
          / (col("n") - 1) / lit(1.0e12), 9)
      base.agg(moments.head, moments.tail: _*)
        .select(inline(array(prs.map { case (i, j) =>
          struct(lit(i).as("dim_a"), lit(j).as("dim_b"),
            covOf(i, j).as("cov_r")) }: _*)))
        .orderBy("dim_a", "dim_b")
    }),

    // brute-force top-k in 16-component PCA space
    // (graft.api.Similarity.pcaFit/topKPca): the data-trained sibling of
    // llm_sim_topk_rp — same reduced-width scan, components chase
    // variance instead of random signs. Fit is one treeAggregate corpus
    // pass + driver-side Jacobi eigen; float-order-dependent like
    // kMeansFit, so the key is test-pinned (ApiSpec: orthonormality,
    // eigenvalue order, variance capture, recall ≥ the RP path) with
    // llm_sim_topk_rp as its oracle-checked twin.
    "llm_sim_topk_pca" -> ((s, d) => {
      val e = embeddings(s, d)
      val model = graft.api.Similarity
        .pcaFit(e, col("embedding"), inDim = RpInDim, k = 16)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.api.Similarity
        .topKPca(e, col("vec_id"), col("embedding"), q, k = 5, model)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // ENGINE-REPRODUCIBLE PCA ANN (graft.api.Similarity
    // .pcaFitExactPower) — the ORACLE-CHECKED member of the PCA family:
    // exact micro-unit moments (one bounded model-sized collect, the
    // centroid-fetch class), 9-dp covariance with the cov-matrix
    // formula spelling, 20 fixed power-method iterations + rank-1
    // deflation in pure left-to-right IEEE double (the oracle's
    // recursive CTE computes the identical doubles), then top-k over
    // the 4-component projection of the first 8 dims. Converts "PCA
    // fit is float-order-dependent ⇒ no-oracle" from a family property
    // into a property of the full-width Jacobi path only.
    "llm_sim_topk_pca_exact" -> ((s, d) => {
      val sliced = embeddings(s, d)
        .select(col("vec_id"), slice(col("embedding"), 1, 8).as("emb8"))
      val model = graft.api.Similarity
        .pcaFitExactPower(sliced, col("emb8"), inDim = 8, k = 4)
      val q = sliced.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("emb8").as("qe"))
      graft.api.Similarity
        .topKPca(sliced, col("vec_id"), col("emb8"), q, k = 5, model)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // BPE tokenizer-training pair counts (graft.api.Bpe): the corpus
    // collapses to its word-frequency vocabulary (the ONE corpus-sized
    // shuffle), then adjacent-symbol pairs are counted weighted by word
    // frequency — the quantity a BPE merge maximizes. Paren-wrapped
    // symbol encoding; top 50 pairs, count-then-pair total order.
    "llm_bpe_pair_counts" -> ((s, d) => {
      val vocab = graft.api.Bpe.wordFreq(documents(s, d), col("text"))
        .select(graft.api.Bpe.wrapChars(col("word")).as("sym"), col("w_n"))
      graft.api.Bpe.pairCounts(vocab, col("sym"), col("w_n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(50)
    }),

    // one full BPE train round as ONE declarative plan: pair counts →
    // argmax merge (1-row broadcast, the deterministic n-then-pair rule)
    // → literal replace over the vocab segmentation → recount. The
    // iterative graft.api.Bpe.train loop is this round repeated, pinned
    // against a pure-Scala reference in ApiSpec; this key is its
    // oracle-checked single step.
    "llm_bpe_merge_step" -> ((s, d) => {
      // pinned for the same reason as llm_wordpiece_merge_step: the
      // segmentation feeds pair counts + the merge rewrite + the final
      // counts — unpinned, each reference re-ran the corpus aggregate
      val vocab = Pin(graft.api.Bpe.wordFreq(documents(s, d), col("text"))
        .select(graft.api.Bpe.wrapChars(col("word")).as("sym"), col("w_n")))
      val pc = graft.api.Bpe.pairCounts(vocab, col("sym"), col("w_n"))
      val top1 = pc.orderBy(col("n").desc, col("pair")).limit(1)
        .select(split(col("pair"), " ").getItem(0).as("__a"),
          split(col("pair"), " ").getItem(1).as("__b"))
      val merged = vocab.crossJoin(broadcast(top1))
        .select(replace(col("sym"),
            concat(lit("("), col("__a"), lit(")("), col("__b"), lit(")")),
            concat(lit("("), col("__a"), col("__b"), lit(")"))).as("sym"),
          col("w_n"))
      graft.api.Bpe.pairCounts(merged, col("sym"), col("w_n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    }),

    // the FULL bounded-iteration BPE train loop as a declared key (r11):
    // graft.api.Bpe.train driver-loops the oracle-checked single step —
    // per round ONE vocab-sized pairCounts job, a 1-row argmax collect
    // (the deterministic n-then-pair rule), a literal-replace rewrite,
    // generation-release checkpointing. Output = the learned merge TABLE
    // in training order, which IS a BPE tokenizer's entire semantics;
    // the DuckDB oracle replays the identical 8 merges as a chained CTE.
    // Scale shape: the corpus collapses to its word-frequency vocabulary
    // before round 1 (the one corpus-sized shuffle — Heaps-bounded), so
    // the loop runs on a broadcastable frame at any corpus size.
    "llm_bpe_train" -> ((s, d) => {
      import s.implicits._
      graft.api.Bpe.train(documents(s, d), col("text"), BpeTrainMerges)
        .zipWithIndex
        .map { case ((a, b), i) => (i, a, b) }
        .toDF("rank", "a", "b")
    }),

    // the ENCODE side under the trained model (r11): the word vocabulary
    // re-segmented by the 8 learned merges applied in training order —
    // train→encode as one declarative chain. Segmentation runs per
    // DISTINCT word (Heaps-bounded, map-side literal replaces); the
    // corpus never re-enters after the one wordFreq shuffle, which is
    // pinned because it feeds BOTH the train loop and the encode walk.
    "llm_bpe_encode" -> ((s, d) => {
      val wf = Pin(graft.api.Bpe.wordFreq(documents(s, d), col("text")))
      val vocab = wf.select(
        graft.api.Bpe.wrapChars(col("word")).as("sym"), col("w_n"))
      val merges = graft.api.Bpe.trainFromVocab(vocab, BpeTrainMerges)
      graft.api.Bpe.segment(wf, col("word"), merges)
        .select(col("word"), col("w_n"),
          size(col("tokens")).cast("int").as("n_tokens"),
          concat_ws("|", col("tokens")).as("seg"))
        .orderBy("word")
    }),

    // FERTILITY under the trained BPE (r11) — the chain's end cap
    // (train → encode → fertility): pieces per word instance per source,
    // the number that prices a tokenizer refit against each slice. The
    // unigram twin (llm_tokenizer_fertility) audits the seed model; this
    // audits the FITTED one. Segmentation stays per DISTINCT word; the
    // per-(source, word) instance counts are the only corpus-sized
    // aggregate; fertility is one IEEE divide of exact longs.
    "llm_bpe_fertility" -> ((s, d) => {
      val docs = documents(s, d)
      val wf = Pin(graft.api.Bpe.wordFreq(docs, col("text")))
      val vocab = wf.select(
        graft.api.Bpe.wrapChars(col("word")).as("sym"), col("w_n"))
      val merges = graft.api.Bpe.trainFromVocab(vocab, BpeTrainMerges)
      val bySource = docs
        .select(col("source"), explode(split(col("text"), " ")).as("word"))
        .filter(col("word").rlike("^[A-Za-z]+$"))
        .groupBy("source", "word").agg(count(lit(1)).as("__n"))
      val pieces = graft.api.Bpe.segment(wf.select("word"), col("word"),
          merges)
        .select(col("word"), size(col("tokens")).cast("long").as("__np"))
      bySource.join(pieces, "word")
        .groupBy("source")
        .agg(sum(col("__n")).as("n_words"),
          sum(col("__n") * col("__np")).as("n_pieces"))
        .withColumn("fertility",
          col("n_pieces").cast("double") / col("n_words"))
        .orderBy("source")
    }),

    // one full unigram-LM EM round as ONE declarative plan (graft.api.
    // Unigram — the SentencePiece-style tokenizer next to BPE): seed
    // piece inventory = all ≤4-char substrings of the vocabulary with
    // integer micro-log costs, E-step = per-word Viterbi fold with the
    // packed cost×100+split tie-break, M-step = renormalized usage
    // counts. The corpus collapses to its word-frequency vocabulary
    // first (the one corpus-sized shuffle — the Bpe scale contract);
    // the iterative Unigram.train loop is this round repeated, pinned
    // against a pure-Scala reference in ApiSpec.
    "llm_unigram_em_step" -> ((s, d) => {
      val wf = graft.api.Bpe.wordFreq(documents(s, d), col("text"))
      graft.api.Unigram.emStep(wf, graft.api.Unigram.seedPieces(wf))
        .orderBy("piece")
    }),

    // the encode side as a declared key: per-word Viterbi segmentation
    // under the seed model (start-order pieces joined with '|' — the
    // comparator-safe flattening of the tokens array)
    "llm_unigram_segment" -> ((s, d) => {
      val wf = graft.api.Bpe.wordFreq(documents(s, d), col("text"))
      graft.api.Unigram
        .viterbiSegment(wf, graft.api.Unigram.seedPieces(wf))
        .select(col("word"), col("w_n"),
          size(col("pieces")).as("n_pieces"),
          concat_ws("|", col("pieces")).as("seg"))
        .orderBy("word")
    }),

    // WordPiece merge step (graft.api.Wordpiece — the BERT vocabulary
    // builder next to BPE/unigram): merges ranked by the LIKELIHOOD
    // score n/(c_a·c_b) instead of the raw count, spelled (n/c_a)/c_b —
    // two chained IEEE divisions of exact BIGINT counts, bit-identical
    // cross-engine and overflow-free at any corpus size. TWO chained
    // merges as one declarative plan (the second re-scores under the
    // first's rewritten counts), then the top-20 scored pairs. The
    // iterative Wordpiece.train loop is this step repeated, pinned
    // against a pure-Scala reference in ApiSpec.
    "llm_wordpiece_merge_step" -> ((s, d) => {
      // each scoring pass references the segmentation ~3x (pair counts
      // + two symbol-count sides), and two merges chain three passes —
      // unpinned, the corpus-sized wordFreq aggregate re-ran per
      // reference (measured 5.1 s at sf0.1). The pins are VOCAB-sized
      // (Heaps-bounded) and eagerly timed in-key.
      val v0 = Pin(graft.api.Bpe.wordFreq(documents(s, d), col("text"))
        .select(graft.api.Bpe.wrapChars(col("word")).as("sym"), col("w_n")))
      val v1 = Pin(graft.api.Wordpiece.mergeOnce(v0))
      val v2 = Pin(graft.api.Wordpiece.mergeOnce(v1))
      graft.api.Wordpiece.pairScores(v2)
        .orderBy(col("score").desc, col("pair"))
        .limit(20)
    }),

    // the FULL bounded-iteration WordPiece train loop as a declared key
    // (r13 verdict #3 — the one tokenizer-family asymmetry left: BPE and
    // Unigram both declare their complete train loops, WordPiece
    // declared only the 2-merge step): graft.api.Wordpiece.train
    // driver-loops the oracle-checked step — per round one vocab-sized
    // pairScores job (pair counts + the two symbol-count sides), a 1-row
    // argmax collect under the deterministic score-DESC-then-pair rule
    // (score = (n/c_a)/c_b, two chained IEEE divisions of exact BIGINTs
    // — bit-identical cross-engine), a literal-replace rewrite,
    // generation-release checkpointing. Output = the learned merge TABLE
    // in training order — a WordPiece vocabulary builder's entire
    // semantics; the DuckDB oracle replays the identical 8 merges as a
    // chained CTE. Scale shape: the corpus collapses to its Heaps-
    // bounded word-frequency vocabulary before round 1 (the one
    // corpus-sized shuffle), so every round runs on a broadcastable
    // frame at any corpus size. trainFromVocab ≡ train is ApiSpec-pinned.
    "llm_wordpiece_train" -> ((s, d) => {
      import s.implicits._
      graft.api.Wordpiece
        .train(documents(s, d), col("text"), WpTrainMerges)
        .zipWithIndex
        .map { case ((a, b), i) => (i, a, b) }
        .toDF("rank", "a", "b")
    }),

    // WordPiece piece vocabulary: position-0 pieces bare, interior
    // pieces '##'-prefixed (lengths ≤ 4), kept iff occurrence mass
    // clears a RELATIVE 3-permille bar (exact integer comparison,
    // scale-invariant). No single-character exception — a word touching
    // a pruned char becomes [UNK] under the encode key, exactly how a
    // BERT vocab yields [UNK] at serving time.
    "llm_wordpiece_vocab" -> ((s, d) => {
      val wf = graft.api.Bpe.wordFreq(documents(s, d), col("text"))
      graft.api.Wordpiece.vocabPieces(wf).orderBy("piece")
    }),

    // the encode side: greedy longest-match-first walk per vocab word
    // (one edge join + one per-word fold — the corpus never re-enters),
    // whole-word [UNK] on any unmatchable position.
    "llm_wordpiece_encode" -> ((s, d) => {
      // wf feeds both the vocabulary and the encode walk — pinned
      // (vocab-sized) so the corpus aggregate runs once
      val wf = Pin(graft.api.Bpe.wordFreq(documents(s, d), col("text")))
      graft.api.Wordpiece
        .encode(wf, graft.api.Wordpiece.vocabPieces(wf))
        .orderBy("word")
    }),

    // tokenizer FERTILITY audit (graft.api.Unigram.fertilityByGroup):
    // per source, word instances / emitted pieces / chars under the
    // seed unigram model, fertility = pieces per word — which slice
    // pays the most sequence length for its text, the number that
    // prices a tokenizer refit. Segmentation per distinct WORD
    // (Heaps-bounded), engine-reproducible Viterbi => oracle-checked.
    "llm_tokenizer_fertility" -> ((s, d) => {
      val docs = documents(s, d)
      val wf = graft.api.Bpe.wordFreq(docs, col("text"))
      graft.api.Unigram
        .fertilityByGroup(docs, col("text"), col("source"),
          graft.api.Unigram.seedPieces(wf))
        .withColumnRenamed("group", "source")
        .orderBy("source")
    }),

    // CROSS-FAMILY tokenizer comparison (r12, the eval-symmetry end
    // cap): the same corpus priced under all THREE trained/fitted
    // families — BPE (the 8 trained merges), WordPiece (3-permille
    // vocabulary, greedy longest-match encode), Unigram (seed-model
    // Viterbi) — per source in ONE frame: which tokenizer pays the
    // least sequence length for each slice, the table a refit decision
    // reads. One pinned word-frequency vocabulary feeds every family
    // (the corpus-sized shuffle happens once); each family's per-word
    // piece counts are Heaps-bounded map-side walks; the per-(source,
    // word) instance counts are the only corpus-sized aggregate, shared
    // across families through the one join. Fertility = one IEEE divide
    // of exact longs; the oracle replays all three training chains in
    // one WITH RECURSIVE (the wf lattice renamed per family to
    // coexist), hash-checked end to end.
    "llm_tokenizer_compare" -> ((s, d) => {
      val tf = tokenizerFamilies(s, d)
      tf.bySource
        .join(tf.famNp.drop("__cov"), "word")
        .groupBy("family", "source")
        .agg(sum(col("__n")).as("n_words"),
          sum(col("__n") * col("__np")).as("n_pieces"))
        .withColumn("fertility",
          col("n_pieces").cast("double") / col("n_words").cast("double"))
        .orderBy("family", "source")
    }),

    // the DATASET-CARD TOKENIZER end cap (r12 verdict #7): ONE frame =
    // the full corpus+tokenizer profile a training run publishes —
    // per-source card totals (docs, tokens) beside every family's
    // fertility, trained-inventory size and word-instance coverage.
    // Same one-pinned-wf discipline as llm_tokenizer_compare (the
    // corpus-sized shuffle happens once, every family prices the
    // identical word domain); the family inventories are model-sized
    // 1-row aggregates joined by broadcast; coverage weights each
    // word's tokenizability flag by its instance count (WordPiece [UNK]
    // fallback is the one family that can fail a word — BPE and the
    // seed-Unigram Viterbi cover every wf word by construction, and
    // the constant-true flags flow through the same weighted formula
    // rather than being asserted). Oracle replays all three training
    // chains in one WITH RECURSIVE and re-derives the inventories and
    // the card from the same lattices, hash-checked end to end.
    "llm_dataset_card_tokenizer" -> ((s, d) => {
      val tf = tokenizerFamilies(s, d)
      // trained-inventory sizes: BPE = distinct symbols of the final
      // segmentation (alphabet + surviving merge products), WordPiece =
      // the permille vocabulary, Unigram = the seed model — each a
      // model-sized scalar, unioned into a 3-row broadcast frame
      val vs = tf.bpeSeg.select(explode(col("tokens")).as("__s"))
        .agg(count_distinct(col("__s")).as("vocab_size"))
        .select(lit("bpe").as("family"), col("vocab_size"))
        .unionByName(tf.wpVoc.agg(count(lit(1)).as("vocab_size"))
          .select(lit("wordpiece").as("family"), col("vocab_size")))
        .unionByName(tf.ugModel.agg(count(lit(1)).as("vocab_size"))
          .select(lit("unigram").as("family"), col("vocab_size")))
      // card totals WITHOUT a second regex-split pass (r15: isolated
      // REPEATS=3 pinned the key 1.4 s over its compare twin, and the
      // only corpus-scan delta was this split): size(split(s, " "))
      // equals the space count + 1 for ANY string — split keeps empty
      // fields — so n_tokens is a char-count projection over the corpus
      // bytes instead of materializing every token array a second time.
      // The oracle's len(string_split(text, ' ')) definition is
      // unchanged; the identity is pinned in LlmExtrasSpec.
      val card = tf.docs.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        (sum((length(col("text")) -
          length(translate(col("text"), " ", ""))).cast("long")) +
          count(lit(1))).as("n_tokens"))
      tf.bySource
        .join(tf.famNp, "word")
        .groupBy("family", "source")
        .agg(sum(col("__n")).as("n_words"),
          sum(col("__n") * col("__np")).as("n_pieces"),
          sum(when(col("__cov"), col("__n")).otherwise(0L)).as("__covn"))
        .withColumn("fertility",
          col("n_pieces").cast("double") / col("n_words").cast("double"))
        .withColumn("covered_frac",
          col("__covn").cast("double") / col("n_words").cast("double"))
        .join(broadcast(vs), "family")
        .join(broadcast(card), "source")
        .select(col("family"), col("source"), col("n_docs"),
          col("n_tokens"), col("n_words"), col("n_pieces"),
          col("fertility"), col("vocab_size"), col("covered_frac"))
        .orderBy("family", "source")
    }),

    // the multimodal COLUMN MODEL exercised as a declared, oracle-checked
    // key: no binary fixture exists, so deterministic 16-byte payloads
    // derive from the text fixture (unhex(md5)) and flow through the
    // exact struct shape sources/Multimodal ships — (mime, bytes BINARY,
    // meta MAP) — into binary-typed aggregation (byte lengths, distinct
    // payloads, first-byte spread via hex round-trip). Proves the
    // engine's binary-column plumbing end to end where the decode step
    // itself remains the documented codec splice point.
    "llm_multimodal_binary" -> ((s, d) => {
      val media = documents(s, d).select(col("doc_id"),
        struct(
          when(col("doc_id") % 3 === 0, "image/png")
            .when(col("doc_id") % 3 === 1, "audio/wav")
            .otherwise("text/plain").as("mime"),
          unhex(md5(col("text"))).as("bytes"),
          map(lit("n_chars"), col("n_chars").cast("string")).as("meta"))
          .as("media"))
      media.groupBy(col("media.mime").as("mime"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("media.bytes"))).as("total_bytes"),
          countDistinct(col("media.bytes")).as("n_distinct_payloads"),
          countDistinct(upper(substring(hex(col("media.bytes")), 1, 2)))
            .as("n_first_bytes"))
        .orderBy("mime")
    }),

    // REAL audio-feature extraction as a declared key (r13 verdict #4 —
    // the image path had real-decode keys, audio had only spec pins):
    // each doc synthesizes a deterministic 8-bit UNSIGNED mono PCM WAV
    // IN-PLAN — a constant 44-byte RIFF header literal
    // (Multimodal.wavPcm8Header; the data length is fixed at 64 samples,
    // so the header is a plan constant) + 4 chained md5 digests of the
    // text as sample bytes (the md5-derived-bytes convention) — then
    // decodes through the REAL javax.sound streamed-PCM pass
    // (audioFeatures' PCM_UNSIGNED branch). The features are
    // oracle-EXACT: the 64 amplitudes are dyadic rationals (v/128, v =
    // byte − 128), so Σ amp² accumulates exactly in double (20 mantissa
    // bits needed) and rms is one correctly-rounded sqrt of an identical
    // double; peak is a dyadic max; zcr one IEEE division of exact
    // integer crossing counts — raw doubles, no rounding step needed.
    // dominant_hz (transcendental DFT probes) stays API-only. Scale
    // shape: map-side synthesis + one mapPartitions decode pass, no
    // payload shuffle, no corpus re-read.
    "llm_multimodal_audio_features" -> ((s, d) => {
      val data = concat((0 until AudioDigests).map(k =>
        unhex(md5(concat(col("text"), lit(s":aud$k"))))): _*)
      val media = documents(s, d).select(
        col("doc_id").cast("string").as("path"),
        struct(lit("audio/wav").as("mime"),
          concat(
            lit(graft.sources.Multimodal.wavPcm8Header(16 * AudioDigests)),
            data).as("bytes"),
          map(lit("synth"), lit("pcm8")).as("meta")).as("media"))
      graft.sources.Multimodal.audioFeatures(media)
        .select(col("path").cast("bigint").as("doc_id"), col("n_samples"),
          col("rms"), col("peak"), col("zcr"))
        .orderBy("doc_id")
    }),

    // two-stage retrieval (graft.api.Similarity.topKRerank) — the
    // production ANN deployment pattern: the 16-dim RP scan over-fetches
    // 20 candidates per query (4× fewer corpus bytes/multiplies), then
    // the exact 64-dim dot re-scores ONLY the bounded candidate frame.
    // coarseK is the recall-vs-cost knob priced in rerank work, never in
    // corpus scan. Both stages engine-reproducible ⇒ oracle-checked.
    "llm_sim_topk_rerank" -> ((s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.api.Similarity
        .topKRerank(e, col("vec_id"), col("embedding"), q,
          k = 5, coarseK = 20, inDim = RpInDim, outDim = 16, seed = RpSeed)
        .select("qid", "rk", "vec_id", "sim_r")
        .orderBy("qid", "rk")
    }),

    // MEASURED ANN audit (graft.api.Similarity.recallAudit): recall@5 of
    // the IVF sign-bucket index vs exact brute force at nprobe = 1/2/4,
    // each setting priced in candidates actually scored (Σ probe-list
    // sizes, self excluded) — the table a deployment reads before
    // committing to a probe width; the llm_sim_topk_ivf* keys exercise
    // the index, this key MEASURES it. Hit/candidate counts are exact
    // integers over the house round-6dp + id-tie-break ranking, recall
    // one IEEE division ⇒ the full audit is oracle-checked.
    "llm_ann_recall" -> ((s, d) => {
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      graft.api.Similarity
        .recallAudit(e, col("vec_id"), col("embedding"), q, k = 5)
        .select("nprobe", "n_exact", "candidates", "hits", "recall")
        .orderBy("nprobe")
    }),

    // the PACKED multimodal layout as a declared key: fixture-derived
    // payloads land in packToParquet's flat (path, mime, meta, bytes)
    // parquet layout, are read back through readPacked's struct view,
    // and a METADATA-ONLY aggregate runs over it — the timed query
    // includes the packing write (honest, the substring_delta rule).
    // The MULTIMODAL.md claim this key exists to keep honest — that
    // metadata queries over the packed layout never read payload column
    // chunks, even through the struct view (nested-schema pruning) —
    // is plan-asserted on THIS key's frame in MultimodalSpec.
    "llm_multimodal_packed" -> ((s, d) => {
      val dest = graft.util.Staging.dir("multimodal_packed", d)
      documents(s, d).select(
          concat(lit("doc_"), col("doc_id"), lit(".bin")).as("path"),
          when(col("doc_id") % 3 === 0, "image/png")
            .when(col("doc_id") % 3 === 1, "audio/wav")
            .otherwise("text/plain").as("mime"),
          map(lit("n_chars"), col("n_chars").cast("string")).as("meta"),
          unhex(md5(col("text"))).as("bytes"))
        .repartition(1)
        .write.mode("overwrite").parquet(dest)
      graft.sources.Multimodal.readPacked(s, dest)
        .groupBy(col("media.mime").as("mime"))
        .agg(count(lit(1)).as("n_docs"),
          sum(element_at(col("media.meta"), "n_chars").cast("long"))
            .as("total_chars"),
          min(col("path")).as("first_path"))
        .orderBy("mime")
    }),

    // PAYLOAD-CONTENT near-dup (graft.sources.Multimodal
    // .payloadNearDups): the first operator that reads INSIDE the
    // BINARY payload — 8-byte shingles over the byte stream, md5
    // MinHash, band-bucket candidates, exact byte-shingle jaccard —
    // the TextDedup band/bucket engine applied to bytes, so the pair
    // space stays LSH-bounded. Fixture payloads are the first-24-token
    // md5 chunk stream (deterministic, and the planted TEXT near-dups
    // surface as payload near-dups), plus two PROBE payloads differing
    // in exactly ONE 16-byte chunk — the byte-patched copy exact-hash
    // dedup misses, mirrored in the oracle (the pii_audit probe-row
    // precedent). md5 family ⇒ the full pipeline is oracle-checked;
    // the byte-flip recall pin lives in MultimodalSpec.
    "llm_multimodal_payload_dedup" -> ((s, d) => {
      // no key-side pin needed: the engine pins its shingle frame,
      // which sits above this derivation in the plan
      val pay = documents(s, d).select(col("doc_id"),
        unhex(concat_ws("", transform(
          slice(split(col("text"), " "), 1, PayloadChunks),
          t => md5(t)))).as("bytes"))
      val base = (1 to PayloadChunks).map(i => md5(lit(s"probe:$i")))
      val patched = base.updated(PayloadPatchPos - 1, md5(lit("probe:alt")))
      val probes = s.range(1).select(lit(-1L).as("doc_id"),
          unhex(concat(base: _*)).as("bytes"))
        .unionByName(s.range(1).select(lit(-2L).as("doc_id"),
          unhex(concat(patched: _*)).as("bytes")))
      graft.sources.Multimodal
        .payloadNearDups(pay.unionByName(probes), col("doc_id"),
          col("bytes"))
        .orderBy("doc_a", "doc_b")
    }),

    // the NIGHTLY form of payload dedup — every dedup family in this
    // repo has a persisted-index incremental shape (signatures r6,
    // substrings r7/r8, lines r8), and the multimodal family now does
    // too: the corpus's payload BLOCK-token signatures persist once
    // (writeSignatureIndex — the text machinery verbatim, block tokens
    // in the text seat, width-2 shingles), the day's delta shard
    // screens against the index AND itself (dedupShardAgainstIndex's
    // keep-min rule), survivors are what the training set accepts.
    // Payload bytes never re-read at screen time; the probe is a
    // 32-byte-hash equi-join. Same md5 signature family ⇒ the whole
    // lifecycle is oracle-checked (the llm_dedup_incremental twin over
    // payload-derived tokens).
    "llm_multimodal_payload_delta" -> ((s, d) => {
      // fixture-derivation pin: the block-token frame feeds the index
      // write (corpus role) AND the two-sided delta screen — the 24-
      // md5s/doc chain would otherwise re-run per consumer (a real
      // media corpus starts from stored bytes and has no such chain)
      val bt = Pin(documents(s, d).select(col("doc_id"), col("source"),
        graft.sources.Multimodal.payloadBlockTokens(
          unhex(concat_ws("", transform(
            slice(split(col("text"), " "), 1, PayloadChunks),
            t => md5(t))))).as("bt")))
      val corpus = bt.filter(col("doc_id") % 10 =!= 0)
      val delta = bt.filter(col("doc_id") % 10 === 0)
      val idx = graft.util.Staging.dir("payload_sig_index", d)
      // both sides read the PINNED bt frame, so the delta's signing
      // pins are independent of the corpus index write — overlap the
      // two chains from two driver threads (guide §2.6, the
      // llm_dedup_forget spelling)
      val (_, signed) = graft.util.Par.both(
        graft.api.TextDedup.writeSignatureIndex(corpus, col("doc_id"),
          col("bt"), idx, shingleWidth = 2),
        graft.api.TextDedup.signShard(delta, col("doc_id"), col("bt"),
          shingleWidth = 2))
      graft.api.TextDedup
        .dedupSignedShardAgainstIndex(delta, col("doc_id"), signed, idx)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // MEDIA DECONTAMINATION (graft.sources.Multimodal
    // .payloadNearDupsBetween): training payloads whose byte stream
    // near-dups an EVAL-set payload — the llm_decontaminate_fuzzy
    // primitive over bytes (exact payload hashing misses re-muxed or
    // byte-patched leaks). Same id-range roles as the text key
    // (doc_id < 100 = benchmark side); candidates from a band-bucket
    // equi-join of the two signature sets, never |train|×|eval|; the
    // eval side's SIGNATURE frame, not its bytes, is the broadcast.
    "llm_multimodal_payload_decontam" -> ((s, d) => {
      val pay = documents(s, d).select(col("doc_id"),
        unhex(concat_ws("", transform(
          slice(split(col("text"), " "), 1, PayloadChunks),
          t => md5(t)))).as("bytes"))
      graft.sources.Multimodal.payloadNearDupsBetween(
          pay.filter(col("doc_id") >= 100), col("doc_id"), col("bytes"),
          pay.filter(col("doc_id") < 100), col("doc_id"), col("bytes"))
        .select(col("doc_a").as("train_doc"),
          col("doc_b").as("bench_doc"), col("jaccard"))
        .orderBy("train_doc", "bench_doc")
    }),

    // PERCEPTUAL near-dup (graft.sources.Multimodal.phashNearDups):
    // dHash over a 9×8 pixel matrix — 64 gradient-sign bits packed as
    // FOUR 16-bit bands, band equi-join candidates, exact hamming ≤ 3
    // verify, with the PIGEONHOLE guarantee (≤3 differing bits can
    // touch at most 3 of 4 bands ⇒ candidate recall is deterministically
    // 1.0 — no MinHash S-curve). Fixture pixel matrices derive from the
    // first-9-token md5 lattice (so exact/near text dups land at
    // hamming 0), plus two PROBE matrices differing in exactly ONE
    // pixel — ≤2 dHash bits, both inside one band, so the pair is
    // GUARANTEED caught. Real-image decode (javax.imageio thumbnail →
    // BT.601 luma → the same dhashBands) is pinned in MultimodalSpec;
    // this key oracle-checks everything downstream of the pixel matrix.
    "llm_multimodal_phash_dedup" -> ((s, d) =>
      graft.sources.Multimodal
        .phashNearDups(phashPixelFrame(s, d), col("doc_id"), col("px"))
        .orderBy("doc_a", "doc_b")),

    // the APPLY side of perceptual dedup — the row-level output a
    // training run consumes (the llm_dedup_apply shape over pixel
    // space): phash pairs → connected components (clusters) → keep the
    // representative (min id), survivors = corpus minus non-
    // representative members. Pairs are hamming ≤ 3 with the
    // pigeonhole-complete screen, components ride 8-byte node ids —
    // media bytes appear nowhere past the map-side thumbnail.
    "llm_multimodal_phash_apply" -> ((s, d) => {
      val pairs = graft.sources.Multimodal
        .phashNearDups(phashPixelFrame(s, d), col("doc_id"), col("px"))
        .select(col("doc_a"), col("doc_b"))
      val drop = graft.api.TextDedup
        .clusters(pairs, col("doc_a"), col("doc_b"))
        .filter(col("node") =!= col("cluster_id"))
        .select(col("node").as("doc_id"))
      documents(s, d).join(drop, Seq("doc_id"), "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // the NIGHTLY form of perceptual dedup (Multimodal.writePhashIndex
    // + phashDedupShardAgainstIndex): the corpus's dHash bands persist
    // once as a 4-int-per-doc parquet table (~20 bytes/doc regardless
    // of media size — the 100 TB point), the day's delta screens
    // against the index AND itself with the pigeonhole-complete band
    // join; corpus payloads/pixels are never re-touched. Completes the
    // incremental-index story for the perceptual family (signatures
    // r6, substrings r7/r8, lines r8, payload blocks r9).
    "llm_multimodal_phash_delta" -> ((s, d) => {
      // probe rows have negative ids → % 10 != 0 → corpus role (both
      // engines agree: Spark and DuckDB % keep the dividend's sign).
      // ONE pinned BAND frame (4 ints/doc) feeds the corpus index
      // write, the delta's index screen and its intra-shard screen
      // (r16): the previous spelling pinned the 72-int pixel frame AND
      // re-pinned the delta's bands inside the screen — two extra full
      // jobs over the same tiny rows, with the px matrices re-riding
      // every consumer plan. Pixels are consumed in the pin pass and
      // never appear downstream.
      val bands = Pin(phashPixelFrame(s, d)
        .select(col("doc_id").as("__id"),
          graft.sources.Multimodal.dhashBands(col("px")).as("__bd")))
      val idx = graft.util.Staging.dir("phash_band_index", d)
      graft.api.TextDedup.writeBandIndex(
        bands.filter(col("__id") % 10 =!= 0), idx)
      val deltaBd = bands.filter(col("__id") % 10 === 0)
      deltaBd
        .join(graft.api.TextDedup.bandDrops(deltaBd, idx),
          col("__id") === col("__drop_id"), "left_anti")
        .select(col("__id").as("doc_id"))
        .join(documents(s, d).select(col("doc_id"), col("source")),
          Seq("doc_id"))
        .orderBy("doc_id")
    }),

    // the MULTIMODAL training-export composite — the end-to-end job a
    // vision-language corpus ships through, and the media twin of
    // llm_training_export: a byte-level payload screen (md5-MinHash
    // over block tokens — catches re-muxed / byte-patched copies) and a
    // perceptual dHash screen (catches re-encoded / re-rendered copies)
    // each drop every doc that near-dups an EARLIER one (keep-first, the
    // shard-screen discipline); survivors emit ONE media-ref
    // pseudo-chunk (a fixed vision-token budget + the payload digest
    // the trainer resolves against the packed store — bytes themselves
    // never ride the plan) ahead of their 16-token text chunks, and the
    // interleaved stream packs per source into 128-token sequences via
    // the running-cumsum window (no global sort — the llm_pack_sequences
    // scale rule). Output is ROW-LEVEL pack membership so the DuckDB
    // gate certifies packing AND media-ref integrity; the 1:1
    // refs-resolve-to-surviving-payloads pin lives in MultimodalSpec.
    "llm_multimodal_training_export" -> ((s, d) => {
      val docs = documents(s, d)
      val ph = concat_ws("", transform(
        slice(split(col("text"), " "), 1, PayloadChunks), t => md5(t)))
      // the two screens are INDEPENDENT until the drop-set union, but
      // each builder runs eager localCheckpoint pins (payload: shingle
      // + signature frames; phash: band frame) that serialized them —
      // build both from two driver threads so the pin jobs back-fill
      // each other's task tails (guide §2.6, the r15 forget-rewrite
      // pattern; measured 4.1-4.9 -> 3.0-3.2 s warm at sf0.1, output
      // verified identical)
      val (payDrop, pxDrop) = graft.util.Par.both(
        graft.sources.Multimodal
          .payloadNearDups(
            docs.select(col("doc_id"), unhex(ph).as("bytes")),
            col("doc_id"), col("bytes"))
          .select(col("doc_b").as("doc_id")),
        graft.sources.Multimodal
          .phashNearDups(phashPixelFrame(s, d), col("doc_id"), col("px"))
          .select(col("doc_b").as("doc_id")))
      // drop-id set deliberately NOT pinned — RE-measured at the r14
      // HEAD (after the screens started sharing bandedHammingPairs, the
      // condition the r13 verdict asked to re-test): pinned 4.63 s on a
      // FAIRER host vs 4.07 s unpinned, REPEATS=3 (r13 pair: 5.04 vs
      // 4.93) — ReuseExchange already unifies the two surv consumers'
      // screen subtrees, so the pin only adds an eager materialization
      // barrier; the SCALE.md "consumers above a shuffle" row
      val surv = docs.join(payDrop.unionByName(pxDrop).distinct(),
        Seq("doc_id"), "left_anti")
      // ...but a NARROW post-anti-join pin is a different trade (r16):
      // the media and text branches project DIFFERENT columns of surv,
      // so the whole drop-set + anti-join subtree (~200 physical nodes
      // incl. both screens' expand/verify joins) replayed under EACH
      // union branch of the initial plan (418 nodes, 112 pinned-RDD
      // scans) — AQE stage reuse dedupes the runtime work, but planning
      // + codegen paid the doubled tree every run. Pinning the 4-column
      // (doc_id, source, ref, __n) projection (~50 bytes/doc; corpus
      // text consumed AT the pin, never downstream) halves the plan;
      // paired same-session A/B (OPTIMIZATION_r16.md §10): the slim
      // arm won every rep pair, medians 2.77 -> 2.62 s. Expressions are
      // identical to the inline forms — output bit-identical (oracle
      // re-gated).
      val survSlim = Pin(surv.select(col("doc_id"), col("source"),
          md5(ph).as("ref"), size(split(col("text"), " ")).as("__n")))
      val media = survSlim.select(col("doc_id"), lit(0).as("chunk_id"),
        col("source"), lit("media").as("kind"),
        lit(MediaTokens).as("n_tokens"), col("ref"))
      val text = survSlim
        .select(col("doc_id"), col("source"), col("__n"),
          explode(sequence(lit(1), col("__n"), lit(16))).as("__st"))
        .select(col("doc_id"),
          (((col("__st") - 1) / 16).cast("int") + 1).as("chunk_id"),
          col("source"), lit("text").as("kind"),
          least(lit(16), col("__n") - col("__st") + 1).as("n_tokens"),
          lit("").as("ref"))
      val w = Window.partitionBy("source").orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      media.unionByName(text)
        .withColumn("pack_id",
          ((sum(col("n_tokens")).over(w) - col("n_tokens")) / 128)
            .cast("int"))
        .select(col("doc_id"), col("chunk_id"), col("source"),
          col("pack_id"), col("kind"), col("n_tokens"), col("ref"))
        .orderBy("doc_id", "chunk_id")
    })
  )

  /** The shared three-family tokenizer lattice behind
    * llm_tokenizer_compare and llm_dataset_card_tokenizer — factored so
    * the twin definitions cannot drift (r13 review): ONE pinned
    * word-frequency vocabulary feeds every family, `famNp` is the
    * unioned per-word piece-count frame (family, word, __np, __cov —
    * compare drops __cov), `bySource` the per-(source, word) instance
    * counts (the only corpus-sized aggregate). The trained artifacts
    * (bpeSeg / wpVoc / ugModel) are exposed for the card key's
    * inventory-size aggregates; all frames are lazy, so compare never
    * evaluates the extra consumers. */
  private final case class TokenizerFamilies(docs: DataFrame,
      wf: DataFrame, bpeSeg: DataFrame, wpVoc: DataFrame,
      ugModel: DataFrame, famNp: DataFrame, bySource: DataFrame)

  private def tokenizerFamilies(s: SparkSession,
      d: String): TokenizerFamilies = {
    val docs = documents(s, d)
    // bySource (the one corpus-sized per-(source, word) aggregate) is
    // independent of the whole BPE chain, and the merge loop is
    // driver-sequential (a 1-row collect per round — cores mostly
    // idle): pin it from a second driver thread while the wf pin +
    // merge loop run (guide §2.6, the keep_best carrier pattern). The
    // pinned frame is |sources × vocabulary| — Heaps-bounded, the
    // safe-to-pin class — and both consumer keys join it twice-removed
    // from corpus text. Same aggregate, same values, outputs unchanged
    // (oracle re-gated on both consumer keys).
    val ((wf, merges), bySource) = graft.util.Par.both(
      {
        val wf0 = Pin(graft.api.Bpe.wordFreq(docs, col("text")))
        val m = graft.api.Bpe.trainFromVocab(
          wf0.select(graft.api.Bpe.wrapChars(col("word")).as("sym"),
            col("w_n")),
          BpeTrainMerges)
        (wf0, m)
      },
      Pin(docs
        .select(col("source"),
          explode(split(col("text"), " ")).as("word"))
        .filter(col("word").rlike("^[A-Za-z]+$"))
        .groupBy("source", "word").agg(count(lit(1)).as("__n"))))
    // the family artifacts stay unpinned: pinning them measured SLOWER
    // (r13, REPEATS=3 fair host: card key 3.28 s pinned vs 2.40 s
    // unpinned) — wpVoc/ugModel sit above exchanges ReuseExchange
    // already dedupes, and bpeSeg's merge-apply chain is a map-side walk
    // over the PINNED vocab-sized wf, cheaper to re-run than to
    // materialize (the SCALE.md "consumers above a shuffle" row)
    val bpeSeg = graft.api.Bpe.segment(wf, col("word"), merges)
    val wpVoc = graft.api.Wordpiece.vocabPieces(wf)
    val ugModel = graft.api.Unigram.seedPieces(wf)
    val bpeNp = bpeSeg.select(lit("bpe").as("family"), col("word"),
      size(col("tokens")).cast("long").as("__np"), lit(true).as("__cov"))
    val wpNp = graft.api.Wordpiece.encode(wf, wpVoc)
      .select(lit("wordpiece").as("family"), col("word"),
        col("n_pieces").cast("long").as("__np"),
        (!col("is_unk")).as("__cov"))
    val ugNp = graft.api.Unigram.viterbiSegment(wf, ugModel)
      .select(lit("unigram").as("family"), col("word"),
        size(col("pieces")).cast("long").as("__np"),
        lit(true).as("__cov"))
    TokenizerFamilies(docs, wf, bpeSeg, wpVoc, ugModel,
      bpeNp.unionByName(wpNp).unionByName(ugNp), bySource)
  }

  /** The phash fixture frame shared by the dedup and apply keys:
    * pixel matrices from the first-9-token md5 lattice plus the two
    * probe matrices (one patched pixel — both affected dHash bits in
    * one band, so the pair is pigeonhole-guaranteed caught). A document
    * of fewer than 9 tokens pads column c with `pad:c`, as the oracle's
    * `COALESCE(tk[c+1], 'pad:c')` does. */
  private def phashPixelFrame(s: SparkSession, d: String): DataFrame = {
    val tk = slice(split(col("text"), " "), 1, 9)
    val ts = (0 until 9).map(c =>
      coalesce(try_element_at(tk, lit(c + 1)), lit(s"pad:$c")))
    val px = array((for (r <- 0 until 8; c <- 0 until 9) yield
      conv(substring(md5(ts(c)), 2 * r + 1, 2), 16, 10).cast("int")): _*)
    val docsPx = documents(s, d).select(col("doc_id"), px.as("px"))
    val baseP: Seq[org.apache.spark.sql.Column] = (0 until 72).map(i =>
      conv(substring(md5(lit(s"ppix:$i")), 1, 2), 16, 10).cast("int"))
    val patchedP = baseP.updated(PhashPatchPixel,
      ((baseP(PhashPatchPixel) + lit(128)) % 256).cast("int"))
    val probes = s.range(1).select(lit(-1L).as("doc_id"),
        array(baseP: _*).as("px"))
      .unionByName(s.range(1).select(lit(-2L).as("doc_id"),
        array(patchedP: _*).as("px")))
    docsPx.unionByName(probes)
  }

  /** Payload derivation constants shared by the Spark key and its
    * oracle: chunk count of the fixture payload stream and the 1-based
    * chunk the probe pair differs in. */
  private val PayloadChunks = 24
  private val PayloadPatchPos = 13

  /** 0-based pixel the phash probe pair differs in: row 4, col 4 —
    * both affected dHash bits live in band 2, so the pigeonhole
    * guarantee applies with margin. */
  private val PhashPatchPixel = 40

  /** Fixed vision-token budget a media ref occupies in a packed
    * training sequence (llm_multimodal_training_export) — the
    * placeholder-token count a multimodal trainer reserves per image. */
  private val MediaTokens = 64

  /** Shared DuckDB CTE block (pay → t → d → sig → band) of the payload
    * block-token md5-signature pipeline (no probe rows), interpolated
    * from the same constants as the Spark keys; used by the
    * payload_delta, payload_decontam and training_export oracles. */
  private lazy val payloadSigCteSql: String =
    s"""pay AS (
       |  SELECT doc_id, source, array_to_string(list_transform(
       |      (string_split_regex(text, ' '))[1:$PayloadChunks],
       |      t -> md5(t)), '') AS ph
       |  FROM documents),
       |t AS (SELECT doc_id, string_split_regex(trim(
       |    regexp_replace(ph, '(.{32})', '\\1 ', 'g')), ' ') AS tk
       |  FROM pay),
       |d AS (SELECT doc_id, list_distinct(list_transform(
       |    range(1, len(tk)),
       |    i -> array_to_string(tk[i : i + 1], ' '))) AS sh
       |  FROM t WHERE len(tk) >= 2),
       |sig AS (SELECT doc_id, i,
       |    MIN(md5(CAST(i AS VARCHAR) || ':' || s)) AS m
       |  FROM d, unnest(d.sh) AS u(s), unnest(range(0, 16)) AS v(i)
       |  GROUP BY doc_id, i),
       |band AS (SELECT doc_id, i // 4 AS band,
       |    md5(string_agg(m, '|' ORDER BY i)) AS sig
       |  FROM sig GROUP BY doc_id, i // 4)""".stripMargin

  /** Shared DuckDB CTE block (tk0 → px0 → bw → bl) of the dHash
    * pipeline, interpolated from the same constants/loops as the Spark
    * [[phashPixelFrame]]; used by all three phash oracles. */
  private lazy val phashBaseCteSql: String = {
    val pxDoc = (for (r <- 0 until 8; c <- 0 until 9) yield
      s"CAST('0x' || substr(md5(COALESCE(tk[${c + 1}], 'pad:$c')), " +
        s"${2 * r + 1}, 2) AS INT)").mkString("[\n    ", ",\n    ", "]")
    val basePx = (0 until 72).map(i =>
      s"CAST('0x' || substr(md5('ppix:$i'), 1, 2) AS INT)")
    val patchedPx = basePx.updated(PhashPatchPixel,
      s"(${basePx(PhashPatchPixel)} + 128) % 256")
    def bandSql(k: Int): String =
      (0 until 16).map { j =>
        val r = 2 * k + j / 8
        val c = j % 8
        s"(CASE WHEN px[${r * 9 + c + 1}] > px[${r * 9 + c + 2}] " +
          s"THEN 1 ELSE 0 END) * ${1 << (15 - j)}"
      }.mkString("(", " + ", ")")
    s"""tk0 AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
       |  FROM documents),
       |px0 AS (SELECT doc_id, $pxDoc AS px FROM tk0
       |  UNION ALL SELECT -1, [${basePx.mkString(", ")}]
       |  UNION ALL SELECT -2, [${patchedPx.mkString(", ")}]),
       |bw AS (SELECT doc_id,
       |    ${(0 until 4).map(k => s"${bandSql(k)} AS b$k")
              .mkString(",\n    ")}
       |  FROM px0),
       |bl AS (SELECT doc_id, k,
       |    CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2
       |      ELSE b3 END AS sig
       |  FROM bw, range(0, 4) r(k))""".stripMargin
  }

  /** DuckDB CTE block (tok → th → sums → bw → bl) of the md5-SimHash
    * band pipeline — the same bit convention as
    * `TextDedup.simhashMd5Bands` (bit i = nibble i/4 of the md5 hex,
    * in-nibble bit 3−i%4), generated from the same index loops; `bw`/
    * `bl` are drop-in compatible with the phash candidate/verify tails.
    * Shared by the pairing and delta oracles. */
  private lazy val simhashMd5CteSql: String = {
    def bitSql(i: Int): String =
      s"((CAST('0x' || substr(h, ${i / 4 + 1}, 1) AS INT) " +
        s">> ${3 - i % 4}) & 1)"
    val sums = (0 until 64).map(i =>
      s"SUM(CASE WHEN ${bitSql(i)} = 1 THEN 1 ELSE -1 END) AS s$i")
      .mkString(",\n    ")
    def bandSql(k: Int): String = (0 until 16).map(j =>
      s"(CASE WHEN s${16 * k + j} > 0 THEN 1 ELSE 0 END) " +
        s"* ${1 << (15 - j)}").mkString("(", " + ", ")")
    s"""tok AS (SELECT doc_id,
       |    unnest(list_distinct(string_split_regex(text, ' '))) AS tk
       |  FROM documents),
       |th AS (SELECT doc_id, md5(tk) AS h FROM tok),
       |sums AS (SELECT doc_id,
       |    $sums
       |  FROM th GROUP BY doc_id),
       |bw AS (SELECT doc_id,
       |    ${(0 until 4).map(k => s"${bandSql(k)} AS b$k")
              .mkString(",\n    ")}
       |  FROM sums),
       |bl AS (SELECT doc_id, k,
       |    CASE k WHEN 0 THEN b0 WHEN 1 THEN b1 WHEN 2 THEN b2
       |      ELSE b3 END AS sig
       |  FROM bw, (SELECT unnest([0, 1, 2, 3]) AS k))""".stripMargin
  }

  /** Exact 64-bit hamming between two [[phashBaseCteSql]] `bw` rows. */
  private def phashHamSql(a: String, b: String): String =
    s"""CAST(bit_count(xor($a.b0, $b.b0))
       |      + bit_count(xor($a.b1, $b.b1))
       |      + bit_count(xor($a.b2, $b.b2))
       |      + bit_count(xor($a.b3, $b.b3)) AS INT)""".stripMargin

  /** [[phashBaseCteSql]] + the SELF-join candidate/verify tail (cand,
    * h) — the CTE chain of the phash near-dup oracle. */
  private lazy val phashCteSql: String =
    s"""$phashBaseCteSql,
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bl a JOIN bl b
       |    ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id),
       |h AS (SELECT doc_a, doc_b,
       |    ${phashHamSql("wa", "wb")} AS hamming
       |  FROM cand JOIN bw wa ON wa.doc_id = cand.doc_a
       |  JOIN bw wb ON wb.doc_id = cand.doc_b)""".stripMargin

  /** DuckDB twin of the Bpe vocab → segmentation → pair-count pipeline:
    * CTEs `wf` (word freq, len < 100 = Unigram.MaxWordLen — the shared
    * word-domain bound all three tokenizer families price, mirroring
    * Bpe.wordFreq) → `seg` (paren-wrapped) → `pc` (weighted adjacent
    * pairs). Shared by both BPE oracles. */
  private val bpeCte: String =
    """wf AS (SELECT word, COUNT(*) AS w_n FROM (
      |    SELECT unnest(string_split_regex(text, ' ')) AS word
      |    FROM documents) w
      |  WHERE regexp_full_match(word, '[A-Za-z]+') AND len(word) < 100
      |  GROUP BY word),
      |seg AS (SELECT array_to_string(list_transform(
      |    string_split_regex(word, ''), c -> '(' || c || ')'), '') AS sym,
      |    w_n FROM wf)""".stripMargin

  /** DuckDB twin of the Unigram seed → Viterbi chain (graft.api.Unigram):
    * CTEs `wf` (word freq, len < 100 = Unigram.MaxWordLen) → `sub`
    * (substring lattice) → `seed`/`model` (micro-log costs) → `edges` →
    * `dp` (recursive DP over the packed cost×100+split array) → `bt`
    * (backpointer walk) → `used` (word, w_n, j = piece end, piece).
    * Shared by the em-step and segment oracles. */
  private val unigramCte: String =
    """wf AS (SELECT word, COUNT(*) AS w_n FROM (
      |    SELECT unnest(string_split_regex(text, ' ')) AS word
      |    FROM documents) w
      |  WHERE regexp_full_match(word, '[A-Za-z]+') AND len(word) < 100
      |  GROUP BY word),
      |sub AS (SELECT word, w_n, r1.i AS i, r1.i + r2.l AS j,
      |    substr(word, CAST(r1.i AS INT) + 1, CAST(r2.l AS INT)) AS piece
      |  FROM wf, range(0, 100) r1(i), range(1, 5) r2(l)
      |  WHERE r1.i < len(word) AND r1.i + r2.l <= len(word)),
      |seed AS (SELECT piece, CAST(SUM(w_n) AS BIGINT) AS cnt FROM sub
      |  GROUP BY piece),
      |seedtot AS (SELECT SUM(cnt) AS tot FROM seed),
      |model AS (SELECT piece,
      |    CAST(ROUND(-ln(CAST(cnt AS DOUBLE) / tot) * 1000000) AS BIGINT)
      |      AS cost
      |  FROM seed, seedtot),
      |edges AS (SELECT s.word, s.i, s.j, m.cost
      |  FROM sub s JOIN model m USING (piece)),
      |dp AS (
      |  SELECT word, w_n, CAST(0 AS BIGINT) AS j,
      |    CAST([0] AS BIGINT[]) AS arr FROM wf
      |  UNION ALL
      |  SELECT d.word, d.w_n, d.j + 1 AS j,
      |    array_append(d.arr,
      |      MIN(((d.arr[CAST(e.i AS INT) + 1] // 100) + e.cost) * 100
      |          + e.i)) AS arr
      |  FROM dp d JOIN edges e ON e.word = d.word AND e.j = d.j + 1
      |  WHERE d.j < len(d.word)
      |  GROUP BY d.word, d.w_n, d.j, d.arr),
      |dpf AS (SELECT word, w_n, arr FROM dp WHERE j = len(word)),
      |bt AS (
      |  SELECT word, w_n, arr, CAST(len(word) AS BIGINT) AS j FROM dpf
      |  UNION ALL
      |  SELECT word, w_n, arr, arr[CAST(j AS INT) + 1] % 100 AS j
      |  FROM bt WHERE j > 0),
      |used AS (SELECT word, w_n, j,
      |    substr(word, CAST(arr[CAST(j AS INT) + 1] % 100 AS INT) + 1,
      |      CAST(j - arr[CAST(j AS INT) + 1] % 100 AS INT)) AS piece
      |  FROM bt WHERE j > 0)""".stripMargin

  /** Whole-word rename of a CTE identifier inside a CTE block — lets
    * the per-family tokenizer blocks (each of which owns a `wf` word
    * lattice) coexist in one combined WITH (llm_tokenizer_compare). */
  private def renameCte(block: String, from: String, to: String): String =
    block.replaceAll(s"\\b$from\\b", to)

  /** The shared three-family tokenizer chain (DuckDB twin of the Spark
    * `tokenizerFamilies` helper — factored r13 so the twin CTEs cannot
    * drift between llm_tokenizer_compare and llm_dataset_card_tokenizer):
    * the BPE merge chain owns `wf`, the WordPiece and Unigram blocks get
    * their lattices renamed (wpwf / uwf; the three wf definitions are
    * textually identical including the len < 100 word-domain bound, so
    * the families provably price the same word instances at ANY input).
    * Yields `fam` (family, word, np, cov — WordPiece cov = the greedy
    * walk completed, the other two are total by construction) and `cgw`
    * (per-(source, word) instance counts); consumers also reach the
    * trained artifacts (segw$n / wvoc / model) for inventory sizes. */
  private lazy val tokenizerFamiliesCte: String =
    s"""${bpeTrainCte(BpeTrainMerges)},
       |${renameCte(wordpieceCte, "wf", "wpwf")},
       |wedge AS (SELECT s.word, s.i, s.j FROM wsub s
       |  JOIN wvoc v USING (piece)),
       |wwalk AS (
       |  SELECT word, w_n, 0 AS p, 0 AS np FROM wpwf
       |  UNION ALL
       |  SELECT w.word, w.w_n, CAST(MAX(e.j) AS INT) AS p,
       |    w.np + 1 AS np
       |  FROM wwalk w JOIN wedge e ON e.word = w.word AND e.i = w.p
       |  WHERE w.p < len(w.word)
       |  GROUP BY w.word, w.w_n, w.p, w.np),
       |wdone AS (SELECT word, np FROM wwalk WHERE p = len(word)),
       |wpnp AS (SELECT wpwf.word,
       |    CAST(COALESCE(d.np, 1) AS BIGINT) AS np,
       |    d.word IS NOT NULL AS cov
       |  FROM wpwf LEFT JOIN wdone d USING (word)),
       |${renameCte(unigramCte, "wf", "uwf")},
       |ugnp AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS np FROM used
       |  GROUP BY word),
       |bpenp AS (SELECT word, CAST(len(string_split(
       |    substr(sym, 2, length(sym) - 2), ')(')) AS BIGINT) AS np
       |  FROM segw$BpeTrainMerges),
       |fam AS (
       |  SELECT 'bpe' AS family, word, np, TRUE AS cov FROM bpenp
       |  UNION ALL SELECT 'wordpiece' AS family, word, np, cov FROM wpnp
       |  UNION ALL SELECT 'unigram' AS family, word, np, TRUE AS cov
       |    FROM ugnp),
       |cgw AS (SELECT source, word, COUNT(*) AS g_n FROM (
       |    SELECT source, unnest(string_split_regex(text, ' ')) AS word
       |    FROM documents) w
       |  WHERE regexp_full_match(word, '[A-Za-z]+')
       |  GROUP BY source, word)""".stripMargin

  /** Pair-count CTE body over a given segmentation CTE (sym, w_n). */
  private def bpePcSql(segName: String): String =
    s"""SELECT pair, CAST(SUM(w_n) AS BIGINT) AS n FROM (
       |    SELECT w_n, unnest(list_transform(range(1, len(tk)),
       |      i -> tk[i] || ' ' || tk[i + 1])) AS pair
       |    FROM (SELECT w_n, string_split(
       |        substr(sym, 2, length(sym) - 2), ')(') AS tk
       |      FROM $segName) s0
       |    WHERE len(tk) > 1) p0
       |  GROUP BY pair""".stripMargin

  /** Chained N-merge BPE training CTEs (DuckDB twin of Bpe.train):
    * segw0 = the paren-wrapped vocabulary WITH the word column kept (the
    * encode oracle needs word → final segmentation), then per round k:
    * pc_k = weighted pair counts over segw_{k-1}, t_k = the argmax merge
    * under the n-DESC-then-pair rule (exactly Bpe.train's collect), and
    * segw_k = the literal non-overlapping replace — via LEFT JOIN +
    * COALESCE so an EXHAUSTED vocabulary (t_k empty, Spark stops early
    * with a shorter merge list) carries segw_{k-1} forward unchanged
    * instead of emptying every later CTE; t_k then contributes zero
    * rows to the train UNION, matching Spark's early stop exactly.
    * Callers project the merge picks (train oracle) or the final
    * segmentation (encode oracle) off the same chain. */
  private def bpeTrainCte(n: Int): String = {
    val steps = (1 to n).map { k =>
      s"""pc$k AS (${bpePcSql(s"segw${k - 1}")}),
         |t$k AS (SELECT string_split(pair, ' ')[1] AS a,
         |    string_split(pair, ' ')[2] AS b
         |  FROM pc$k ORDER BY n DESC, pair LIMIT 1),
         |segw$k AS (SELECT word, COALESCE(
         |    replace(sym, '(' || a || ')(' || b || ')',
         |      '(' || a || b || ')'), sym) AS sym, w_n
         |  FROM segw${k - 1} LEFT JOIN t$k ON TRUE)"""
        .stripMargin
    }.mkString(",\n")
    s"""$bpeCte,
       |segw0 AS (SELECT word, array_to_string(list_transform(
       |    string_split_regex(word, ''), c -> '(' || c || ')'), '') AS sym,
       |    w_n FROM wf),
       |$steps""".stripMargin
  }

  /** WordPiece scored-pairs CTE body over a segmentation CTE (sym, w_n):
    * pair counts joined to per-symbol counts, score = (n/c_a)/c_b — the
    * same two chained IEEE divisions the Spark side computes. */
  private def wpScoredSql(segName: String): String =
    s"""SELECT pair, n, ca.c AS c_a, cb.c AS c_b,
       |    CAST(n AS DOUBLE) / ca.c / cb.c AS score
       |  FROM (${bpePcSql(segName)}) pc
       |  JOIN (SELECT s, CAST(SUM(w_n) AS BIGINT) AS c FROM (
       |      SELECT w_n, unnest(string_split(substr(sym, 2,
       |        length(sym) - 2), ')(')) AS s FROM $segName) sa
       |    GROUP BY s) ca ON ca.s = string_split(pair, ' ')[1]
       |  JOIN (SELECT s, CAST(SUM(w_n) AS BIGINT) AS c FROM (
       |      SELECT w_n, unnest(string_split(substr(sym, 2,
       |        length(sym) - 2), ')(')) AS s FROM $segName) sb
       |    GROUP BY s) cb ON cb.s = string_split(pair, ' ')[2]""".stripMargin

  /** The WordPiece n-merge training chain (the [[bpeTrainCte]] shape
    * under the likelihood-score argmax): per step k, scored pairs over
    * the previous segmentation (`wpScoredSql`) → 1-row argmax under the
    * score-DESC-then-pair rule → COALESCE'd literal replace (the
    * exhausted-vocab carry-forward — a LEFT JOIN so a fully-merged vocab
    * carries its segmentation forward instead of nulling out). Step 0 is
    * bpeCte's `seg`; steps are wsc_k / wt_k / wsg_k.
    *
    * Every step CTE is MATERIALIZED (the pcaPowerCte rule): each scoring
    * pass references the previous segmentation FOUR times (pair counts,
    * both symbol-count sides, the rewrite), so DuckDB's default CTE
    * inlining would expand the chain 4^n-fold — at n=8 that is ~65k
    * re-scans of the corpus (observed as a file-handle explosion);
    * materialized, the chain is n linear vocab-sized passes, exactly
    * like the Spark loop's per-round checkpoints. */
  private def wpTrainCte(n: Int): String = {
    val steps = (1 to n).map { k =>
      val prev = if (k == 1) "seg" else s"wsg${k - 1}"
      s"""wsc$k AS MATERIALIZED (${wpScoredSql(prev)}),
         |wt$k AS MATERIALIZED (SELECT string_split(pair, ' ')[1] AS a,
         |    string_split(pair, ' ')[2] AS b
         |  FROM wsc$k ORDER BY score DESC, pair LIMIT 1),
         |wsg$k AS MATERIALIZED (SELECT COALESCE(
         |    replace(sym, '(' || a || ')(' || b || ')',
         |      '(' || a || b || ')'), sym) AS sym, w_n
         |  FROM $prev LEFT JOIN wt$k ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""$bpeCte,
       |$steps""".stripMargin
  }

  /** DuckDB twin of the Wordpiece piece lattice + 3-permille vocabulary
    * (graft.api.Wordpiece.vocabPieces): CTEs `wf` → `wsub` (positional
    * pieces, '##'-marked continuations, len(word) < 100 both sides) →
    * `wcnt`/`wtot` → `wvoc`. */
  private val wordpieceCte: String =
    """wf AS (SELECT word, COUNT(*) AS w_n FROM (
      |    SELECT unnest(string_split_regex(text, ' ')) AS word
      |    FROM documents) w
      |  WHERE regexp_full_match(word, '[A-Za-z]+') AND len(word) < 100
      |  GROUP BY word),
      |wsub AS (SELECT word, w_n, r1.i AS i, r1.i + r2.l AS j,
      |    CASE WHEN r1.i = 0 THEN '' ELSE '##' END ||
      |      substr(word, CAST(r1.i AS INT) + 1, CAST(r2.l AS INT))
      |      AS piece
      |  FROM wf, range(0, 100) r1(i), range(1, 5) r2(l)
      |  WHERE r1.i < len(word) AND r1.i + r2.l <= len(word)),
      |wcnt AS (SELECT piece, CAST(SUM(w_n) AS BIGINT) AS cnt FROM wsub
      |  GROUP BY piece),
      |wtot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS t FROM wcnt),
      |wvoc AS (SELECT piece, cnt FROM wcnt, wtot
      |  WHERE cnt * 1000 >= 3 * t)""".stripMargin

  /** Embedding width of the fixture table + the shared RP seed — ONE
    * definition feeds the Spark entries and the generated oracles so the
    * inlined sign matrices can never drift. */
  private val RpInDim = 64
  private val RpSeed = 7

  /** DuckDB literal for one ±1 sign row (float-exact values). */
  private def rpRowSql(row: Seq[Float]): String =
    row.map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")

  /** DuckDB twin of Similarity.quantizeInt8 (CTE pair `q0`/`qz`): two
    * stages because a lambda cannot reference an alias minted in its own
    * SELECT. floor(x/scale + 0.5), never round(): round-half ties are
    * implementation-defined across engines, floor is correctly rounded
    * IEEE everywhere. */
  private val quantCte: String =
    """q0 AS (SELECT vec_id,
      |  CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
      |    / 127.0 AS scale, embedding FROM embeddings),
      |qz AS (SELECT vec_id, scale,
      |  list_transform(embedding, x -> CAST(CASE WHEN scale = 0 THEN 0
      |    ELSE floor(CAST(x AS DOUBLE) / scale + 0.5) END AS TINYINT))
      |    AS q
      |  FROM q0)""".stripMargin

  /** DuckDB twin of the persisted-IVF row shape (bucket + int8 codes per
    * vector — graft.api.Similarity.ivfRows), shared by the llm_sim_index
    * and llm_sim_index_grow oracles. The grow oracle deliberately uses
    * the SAME rebuilt-over-everything definition: grown ≡ rebuilt IS the
    * append contract being certified. */
  private val ivfCte: String =
    s"""i0 AS (SELECT vec_id,
       |  CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE)
       |    / 127.0 AS scale, embedding,
       |  ${signBucketSql("embedding", IvfIndexBits)} AS bucket
       |  FROM embeddings),
       |iz AS (SELECT vec_id, bucket, scale,
       |  list_transform(embedding, x -> CAST(CASE WHEN scale = 0 THEN 0
       |    ELSE floor(CAST(x AS DOUBLE) / scale + 0.5) END AS TINYINT))
       |    AS q
       |  FROM i0)""".stripMargin

  /** The llm_sim_index / llm_sim_index_grow probe query — one definition
    * for both keys (the grown index must answer EXACTLY as the rebuilt
    * one, so the two oracles are textually identical by design). */
  private val ivfIndexOracle: String =
    s"""WITH $ivfCte,
       |corp AS (SELECT * FROM iz WHERE vec_id % 10 != 0),
       |qs AS (SELECT vec_id AS qid, bucket AS qbucket, scale AS qscale,
       |  q AS qq FROM iz WHERE vec_id % 10 = 0),
       |s AS (SELECT qid, corp.vec_id,
       |  ROUND(qscale * corp.scale * CAST(list_sum(list_transform(
       |    list_zip(qq, corp.q),
       |    p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS DOUBLE),
       |    6) AS sim_r
       |  FROM qs CROSS JOIN (VALUES (0), (1)) m(m)
       |  JOIN corp ON corp.bucket = xor(qbucket, m.m)
       |    AND corp.vec_id != qid)
       |SELECT qid, rk, vec_id, sim_r FROM (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY sim_r DESC, vec_id) AS INTEGER) AS rk FROM s) t
       |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin

  /** DuckDB twin of the PQ pipeline (seed codebook → sub-slices →
    * rounded-L2 argmin), shared by the encode and search oracles.
    * Same sequential-double distance fold as the Spark side. */
  private val pqCte: String =
    """seeds AS (SELECT embedding,
      |    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
      |      AS code
      |  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16) s0),
      |js AS (SELECT unnest(range(0, 8)) AS j),
      |cb AS (SELECT j, code, embedding[j*8+1 : j*8+8] AS cvec
      |  FROM seeds, js),
      |sub AS (SELECT vec_id, j, embedding[j*8+1 : j*8+8] AS sv
      |  FROM embeddings, js),
      |dist AS (SELECT vec_id, j, code,
      |    ROUND(list_sum(list_transform(list_zip(sv, cvec),
      |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
      |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), 6) AS d2
      |  FROM sub JOIN cb USING (j)),
      |best AS (SELECT vec_id, j, code FROM (SELECT *,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, code)
      |      AS rk FROM dist) t
      |  WHERE rk = 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "llm_fingerprint_md5" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, ' ') AS tk
        |  FROM documents),
        |d AS (SELECT doc_id, list_distinct(list_transform(
        |    range(1, len(tk) - 1),
        |    i -> array_to_string(tk[i : i + 2], ' '))) AS sh
        |  FROM t WHERE len(tk) >= 3)
        |SELECT doc_id, array_to_string(
        |    list_sort(list_transform(sh, s -> md5(s)))[1:16], '|')
        |  AS fingerprint
        |FROM d ORDER BY doc_id""".stripMargin,
    "llm_simhash_md5" ->
      """WITH t AS (SELECT doc_id,
        |    unnest(list_distinct(string_split_regex(text, ' '))) AS tok
        |  FROM documents),
        |h AS (SELECT doc_id,
        |    CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS hv
        |  FROM t),
        |bits AS (SELECT doc_id, b,
        |    SUM(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
        |  FROM h, unnest(range(0, 60)) AS u(b)
        |  GROUP BY doc_id, b)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN sgn > 0 THEN (CAST(1 AS BIGINT) << b)
        |    ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash_md5
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // md5-SimHash PAIRING: same lattice → 4×16-bit-band → band-join →
    // exact-hamming chain as the Spark plan, generated from the same
    // index loops (bit i = nibble i/4 of md5 hex, bit 3−i%4)
    "llm_dedup_simhash_md5" ->
      s"""WITH $simhashMd5CteSql,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bl a JOIN bl b
         |    ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |ham AS (SELECT doc_a, doc_b,
         |    ${phashHamSql("wa", "wb")} AS hamming
         |  FROM cand JOIN bw wa ON wa.doc_id = cand.doc_a
         |  JOIN bw wb ON wb.doc_id = cand.doc_b)
         |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // apply twin: the same band CTEs + the recursive component walk
    // (the llm_dedup_apply rule), survivors = min-id per component
    "llm_dedup_simhash_apply" ->
      s"""WITH RECURSIVE $simhashMd5CteSql,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bl a JOIN bl b
         |    ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id),
         |p AS (SELECT doc_a, doc_b FROM cand
         |  JOIN bw wa ON wa.doc_id = cand.doc_a
         |  JOIN bw wb ON wb.doc_id = cand.doc_b
         |  WHERE ${phashHamSql("wa", "wb")} <= 3),
         |e AS (SELECT doc_a AS x, doc_b AS y FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |walk AS (SELECT x AS node, y AS label FROM e
         |         UNION
         |         SELECT e.x, w.label FROM e JOIN walk w ON e.y = w.node),
         |comp AS (SELECT node, LEAST(node, MIN(label)) AS cluster_id
         |  FROM walk GROUP BY node)
         |SELECT doc_id, source FROM documents
         |WHERE doc_id NOT IN
         |    (SELECT node FROM comp WHERE node != cluster_id)
         |ORDER BY doc_id""".stripMargin,
    // nightly twin: cross (delta % 10 = 0 vs corpus index) + intra
    // (keep-min within the delta) screens over the same band CTEs —
    // the phash_delta oracle shape on token space
    "llm_dedup_simhash_delta" ->
      s"""WITH $simhashMd5CteSql,
         |xc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bl a JOIN bl b ON a.k = b.k AND a.sig = b.sig
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 != 0),
         |xdup AS (SELECT DISTINCT doc_a FROM xc
         |  JOIN bw wa ON wa.doc_id = xc.doc_a
         |  JOIN bw wb ON wb.doc_id = xc.doc_b
         |  WHERE ${phashHamSql("wa", "wb")} <= 3),
         |ic AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bl a JOIN bl b
         |    ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 = 0),
         |intra AS (SELECT DISTINCT doc_b FROM ic
         |  JOIN bw wa ON wa.doc_id = ic.doc_a
         |  JOIN bw wb ON wb.doc_id = ic.doc_b
         |  WHERE ${phashHamSql("wa", "wb")} <= 3)
         |SELECT doc_id, source FROM documents
         |WHERE doc_id % 10 = 0
         |  AND doc_id NOT IN (SELECT doc_a FROM xdup)
         |  AND doc_id NOT IN (SELECT doc_b FROM intra)
         |ORDER BY doc_id""".stripMargin,
    "llm_pq_encode" ->
      s"""WITH $pqCte
         |SELECT vec_id,
         |  array_to_string(list(CAST(code AS VARCHAR) ORDER BY j), '|')
         |    AS codes
         |FROM best GROUP BY vec_id ORDER BY vec_id""".stripMargin,
    "llm_sim_topk_pq" ->
      s"""WITH $pqCte,
         |recon AS (SELECT b.vec_id, flatten(list(cb.cvec ORDER BY b.j))
         |    AS rv
         |  FROM best b JOIN cb ON b.j = cb.j AND b.code = cb.code
         |  GROUP BY b.vec_id),
         |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
         |  WHERE vec_id < 10),
         |s AS (SELECT qid, r.vec_id,
         |  ROUND(${dotSql("qe", "rv")}, 6) AS sim_r
         |  FROM q, recon r WHERE r.vec_id != qid)
         |SELECT qid, rk, vec_id, sim_r FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY sim_r DESC, vec_id) AS INTEGER) AS rk FROM s) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "llm_sim_topk_ivfpq" ->
      s"""WITH $pqCte,
         |recon AS (SELECT b.vec_id, flatten(list(cb.cvec ORDER BY b.j))
         |    AS rv
         |  FROM best b JOIN cb ON b.j = cb.j AND b.code = cb.code
         |  GROUP BY b.vec_id),
         |e AS (SELECT vec_id, embedding,
         |  ${signBucketSql("embedding")} AS bucket FROM embeddings),
         |er AS (SELECT e.vec_id, e.bucket, r.rv
         |  FROM e JOIN recon r USING (vec_id)),
         |q AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket
         |  FROM e WHERE vec_id < 10),
         |s AS (SELECT qid, er.vec_id,
         |  ROUND(${dotSql("qe", "er.rv")}, 6) AS sim_r
         |  FROM q CROSS JOIN (VALUES (0), (1), (2), (4)) m(m)
         |  JOIN er ON er.bucket = xor(q.qbucket, m.m)
         |    AND er.vec_id != q.qid)
         |SELECT qid, rk, vec_id, sim_r FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY sim_r DESC, vec_id) AS INTEGER) AS rk FROM s) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "llm_embed_quantize" ->
      s"""WITH $quantCte
         |SELECT vec_id, scale,
         |  array_to_string(list_transform(q, v -> CAST(v AS VARCHAR)), '|')
         |    AS qvec
         |FROM qz ORDER BY vec_id""".stripMargin,
    "llm_sim_topk_quantized" ->
      s"""WITH $quantCte,
         |qs AS (SELECT vec_id AS qid, scale AS qscale, q AS qq FROM qz
         |  WHERE vec_id < 10),
         |s AS (SELECT qid, qz.vec_id,
         |  ROUND(qscale * scale * CAST(list_sum(list_transform(
         |    list_zip(qq, q),
         |    p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT))) AS DOUBLE),
         |    6) AS sim_r
         |  FROM qs, qz WHERE qz.vec_id != qid)
         |SELECT qid, rk, vec_id, sim_r FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY sim_r DESC, vec_id) AS INTEGER) AS rk FROM s) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "llm_sim_index" -> ivfIndexOracle,
    "llm_sim_index_grow" -> ivfIndexOracle,
    // the compact certificate: compaction is pure file consolidation,
    // so the oracle is the SAME rebuilt definition — compacted ≡ grown
    // ≡ rebuilt, textually identical by design (the _grow rule)
    "llm_sim_index_compact" -> ivfIndexOracle,
    // persisted IVFPQ probe: corpus-seeded codebook (16 lowest-id
    // CORPUS vectors), argmin PQ codes (rounded-L2, code tie-break),
    // sign buckets at the index bits, nprobe=2 one-bit-flip probe,
    // TRUE ADC scoring — the per-(query, subspace, code) LUT of
    // sub-dot-products summed in subspace order, the exact SQL
    // spelling of the Spark plan's fixed fold
    "llm_sim_index_pq" ->
      s"""WITH seeds AS (SELECT embedding,
         |    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
         |      AS code
         |  FROM (SELECT * FROM embeddings WHERE vec_id % 10 != 0
         |        ORDER BY vec_id LIMIT 16) s0),
         |js AS (SELECT unnest(range(0, 8)) AS j),
         |cb AS (SELECT j, code, embedding[j*8+1 : j*8+8] AS cvec
         |  FROM seeds, js),
         |corp AS (SELECT vec_id, embedding,
         |    ${signBucketSql("embedding", IvfIndexBits)} AS bucket
         |  FROM embeddings WHERE vec_id % 10 != 0),
         |sub AS (SELECT vec_id, j, embedding[j*8+1 : j*8+8] AS sv
         |  FROM corp, js),
         |dist AS (SELECT vec_id, j, code,
         |    ROUND(list_sum(list_transform(list_zip(sv, cvec),
         |      p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
         |         * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))), 6)
         |      AS d2
         |  FROM sub JOIN cb USING (j)),
         |best AS (SELECT vec_id, j, code FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d2, code)
         |      AS rk FROM dist) t
         |  WHERE rk = 1),
         |q AS (SELECT vec_id AS qid, embedding AS qe,
         |    ${signBucketSql("embedding", IvfIndexBits)} AS qbucket
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |lut AS (SELECT qid, j, code,
         |    list_sum(list_transform(list_zip(qe[j*8+1 : j*8+8], cvec),
         |      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
         |      AS pdot
         |  FROM q, cb),
         |s AS (SELECT q.qid, c.vec_id,
         |    ROUND(list_sum(list(l.pdot ORDER BY l.j)), 6) AS sim_r
         |  FROM q CROSS JOIN (VALUES (0), (1)) mm(m)
         |  JOIN corp c ON c.bucket = xor(q.qbucket, mm.m)
         |    AND c.vec_id != q.qid
         |  JOIN best b ON b.vec_id = c.vec_id
         |  JOIN lut l ON l.qid = q.qid AND l.j = b.j AND l.code = b.code
         |  GROUP BY q.qid, c.vec_id)
         |SELECT qid, rk, vec_id, sim_r FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY sim_r DESC, vec_id) AS INTEGER) AS rk FROM s) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    // the forget certificate: the REBUILT-WITHOUT definition — the same
    // probe with the purge set (% 10 == 6) excluded from the corpus side
    "llm_sim_index_forget" ->
      ivfIndexOracle.replace("WHERE vec_id % 10 != 0",
        "WHERE vec_id % 10 != 0 AND vec_id % 10 != 6"),
    // trained-quantizer probe: seed centroids (16 lowest-id corpus
    // vectors), argmax-centroid cells (rounded dot, cid tie-break),
    // nprobe=2 centroid ranking per query, quantizedDot scoring — every
    // stage the exact SQL spelling of the Spark plan
    "llm_sim_index_trained" ->
      s"""WITH $ivfCte,
         |corp AS (SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 10 != 0),
         |cents AS (SELECT
         |    CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
         |      AS cid, embedding AS ce
         |  FROM (SELECT * FROM corp ORDER BY vec_id LIMIT 16) c0),
         |asn AS (SELECT vec_id, cid AS cluster_id FROM (
         |  SELECT corp.vec_id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY corp.vec_id
         |      ORDER BY ROUND(${dotSql("c.ce", "corp.embedding")}, 6)
         |        DESC, c.cid) AS crk
         |  FROM corp CROSS JOIN cents c) t WHERE crk = 1),
         |qp AS (SELECT qid, cid FROM (
         |  SELECT e.vec_id AS qid, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ROUND(${dotSql("e.embedding", "c.ce")}, 6)
         |        DESC, c.cid) AS prk
         |  FROM embeddings e CROSS JOIN cents c
         |  WHERE e.vec_id % 10 = 0) t
         |  WHERE prk <= 2),
         |s AS (SELECT qp.qid, a.vec_id,
         |  ROUND(qi.scale * ci.scale * CAST(list_sum(list_transform(
         |    list_zip(qi.q, ci.q),
         |    p -> CAST(p[1] AS BIGINT) * CAST(p[2] AS BIGINT)))
         |    AS DOUBLE), 6) AS sim_r
         |  FROM qp JOIN asn a ON a.cluster_id = qp.cid
         |  JOIN iz ci ON ci.vec_id = a.vec_id
         |  JOIN iz qi ON qi.vec_id = qp.qid
         |  WHERE a.vec_id != qp.qid)
         |SELECT qid, rk, vec_id, sim_r FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY sim_r DESC, vec_id) AS INTEGER) AS rk FROM s) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "llm_embed_random_projection" -> {
      // the SAME driver-side sign matrix the Spark plan inlines
      val sm = graft.api.Similarity.rpSignMatrix(RpSeed, 8, RpInDim)
      "SELECT vec_id, " + sm.zipWithIndex.map { case (row, j) =>
        s"ROUND(${dotSql("embedding", rpRowSql(row))} / sqrt(8.0), 6)" +
          s" AS rp_$j" }.mkString(", ") +
        " FROM embeddings ORDER BY vec_id"
    },
    "llm_sim_topk_rp" -> {
      val sm = graft.api.Similarity.rpSignMatrix(RpSeed, 16, RpInDim)
      val rpList = "[" + sm.zipWithIndex.map { case (row, j) =>
        s"ROUND(${dotSql("embedding", rpRowSql(row))} / sqrt(16.0), 6)" }
        .mkString(", ") + "]"
      s"""WITH p AS (SELECT vec_id, $rpList AS rp FROM embeddings),
         |q AS (SELECT vec_id AS qid, rp AS qrp FROM p WHERE vec_id < 10),
         |s AS (SELECT qid, p.vec_id,
         |  ROUND(list_sum(list_transform(list_zip(p.rp, qrp),
         |    z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), 6)
         |    AS sim_r
         |  FROM q, p WHERE p.vec_id != qid)
         |SELECT qid, rk, vec_id, sim_r FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY sim_r DESC, vec_id) AS INTEGER) AS rk FROM s) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
    },
    "llm_multimodal_binary" ->
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'text/plain' END AS mime,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(octet_length(unhex(md5(text)))) AS BIGINT)
        |    AS total_bytes,
        |  COUNT(DISTINCT unhex(md5(text))) AS n_distinct_payloads,
        |  COUNT(DISTINCT upper(substr(hex(unhex(md5(text))), 1, 2)))
        |    AS n_first_bytes
        |FROM documents GROUP BY 1 ORDER BY mime""".stripMargin,
    // audio features recomputed from the SAME md5-derived sample bytes
    // the Spark plan wraps in a WAV header: v = byte − 128 (the 8-bit
    // unsigned PCM centering), rms = sqrt(Σv² / 128² / n) — every
    // division a power of two, so the double is identical to the decode
    // path's sequential accumulation — peak = max|v|/128, zcr = sign
    // changes / (n − 1) via a per-doc lag window
    "llm_multimodal_audio_features" -> {
      val n = 16 * AudioDigests
      s"""WITH sm AS (SELECT doc_id, k.k * 16 + i.i AS pos,
         |    CAST('0x' || substr(md5(text || ':aud' ||
         |        CAST(k.k AS VARCHAR)),
         |      CAST(i.i AS INT) * 2 + 1, 2) AS INTEGER) - 128 AS v
         |  FROM documents, range(0, $AudioDigests) k(k),
         |    range(0, 16) i(i)),
         |st AS (SELECT doc_id, v,
         |    LAG(v) OVER (PARTITION BY doc_id ORDER BY pos) AS pv
         |  FROM sm)
         |SELECT doc_id, CAST($n AS BIGINT) AS n_samples,
         |  sqrt(CAST(SUM(v * v) AS DOUBLE) / 16384.0 / $n.0) AS rms,
         |  CAST(MAX(ABS(v)) AS DOUBLE) / 128.0 AS peak,
         |  CAST(SUM(CASE WHEN pv IS NOT NULL AND ((v < 0) != (pv < 0))
         |    THEN 1 ELSE 0 END) AS DOUBLE) / ${n - 1}.0 AS zcr
         |FROM st GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    // the packed-layout key re-derives the same metadata straight from
    // documents: the pack/readPacked round trip is the Spark side's
    // subject; the oracle checks the metadata math
    "llm_multimodal_packed" ->
      """SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'text/plain' END AS mime,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN('doc_' || CAST(doc_id AS VARCHAR) || '.bin') AS first_path
        |FROM documents GROUP BY 1 ORDER BY mime""".stripMargin,
    // full DuckDB twin of the payload block-shingle MinHash pipeline:
    // payload hex stream (md5 chunk chain + the two probe chains,
    // interpolated from the SAME Scala constants as the Spark key) →
    // 16-byte block tokens → 2-block shingles → 16 md5 minhashes →
    // 4 bands of 4 → band self-join → exact block-shingle jaccard ≥ 0.8
    "llm_multimodal_payload_dedup" -> {
      val base = (1 to PayloadChunks).map(i => s"md5('probe:$i')")
      val patched = base.updated(PayloadPatchPos - 1, "md5('probe:alt')")
      s"""WITH pay AS (
         |  SELECT doc_id, array_to_string(list_transform(
         |      (string_split_regex(text, ' '))[1:$PayloadChunks],
         |      t -> md5(t)), '') AS ph
         |  FROM documents
         |  UNION ALL SELECT -1, ${base.mkString(" || ")}
         |  UNION ALL SELECT -2, ${patched.mkString(" || ")}),
         |t AS (SELECT doc_id, string_split_regex(trim(
         |    regexp_replace(ph, '(.{32})', '\\1 ', 'g')), ' ') AS tk
         |  FROM pay),
         |d AS (SELECT doc_id, list_distinct(list_transform(
         |    range(1, len(tk)),
         |    i -> array_to_string(tk[i : i + 1], ' '))) AS sh
         |  FROM t WHERE len(tk) >= 2),
         |sig AS (SELECT doc_id, i,
         |    MIN(md5(CAST(i AS VARCHAR) || ':' || s)) AS m
         |  FROM d, unnest(d.sh) AS u(s), unnest(range(0, 16)) AS v(i)
         |  GROUP BY doc_id, i),
         |band AS (SELECT doc_id, i // 4 AS band,
         |    md5(string_agg(m, '|' ORDER BY i)) AS sig
         |  FROM sig GROUP BY doc_id, i // 4),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.sig = b.sig
         |      AND a.doc_id < b.doc_id),
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
         |WHERE jaccard >= 0.8 ORDER BY doc_a, doc_b""".stripMargin
    },
    // persisted-index twin over payload block tokens: signatures are
    // per-doc and deterministic, so the oracle computes the same md5
    // scheme for corpus and delta roles directly (the
    // llm_dedup_incremental rule — the parquet round trip changes
    // bytes on disk, not values)
    "llm_multimodal_payload_delta" ->
      s"""WITH $payloadSigCteSql,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.sig = b.sig
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 != 0),
         |dup AS (SELECT DISTINCT doc_a FROM cand
         |  JOIN d da ON da.doc_id = cand.doc_a
         |  JOIN d db ON db.doc_id = cand.doc_b
         |  WHERE ROUND(
         |      CAST(len(list_filter(da.sh, x -> list_contains(db.sh, x)))
         |        AS DOUBLE)
         |      / (len(da.sh) + len(db.sh)
         |         - len(list_filter(da.sh, x -> list_contains(db.sh, x)))),
         |      4) >= 0.8),
         |icand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 = 0),
         |intra AS (SELECT DISTINCT doc_b FROM icand
         |  JOIN d da ON da.doc_id = icand.doc_a
         |  JOIN d db ON db.doc_id = icand.doc_b
         |  WHERE ROUND(
         |      CAST(len(list_filter(da.sh, x -> list_contains(db.sh, x)))
         |        AS DOUBLE)
         |      / (len(da.sh) + len(db.sh)
         |         - len(list_filter(da.sh, x -> list_contains(db.sh, x)))),
         |      4) >= 0.8)
         |SELECT doc_id, source FROM documents
         |WHERE doc_id % 10 = 0
         |  AND doc_id NOT IN (SELECT doc_a FROM dup)
         |  AND doc_id NOT IN (SELECT doc_b FROM intra)
         |ORDER BY doc_id""".stripMargin,
    // full DuckDB twin of the dHash pipeline: pixel lattice (md5 hex
    // pairs over the first-9-token columns + the two probe matrices,
    // all interpolated from the SAME Scala constants/loops as the Spark
    // key) → four 16-bit gradient-sign bands → band self-join → exact
    // hamming (Σ bit_count(xor)) ≤ 3
    "llm_multimodal_phash_dedup" ->
      s"""WITH $phashCteSql
         |SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // cross-corpus twin: signatures are per-doc (independent of the
    // frame split), so the oracle computes them once and applies the
    // train/bench id-range roles at the candidate join — the
    // llm_decontaminate_fuzzy rule over payload tokens
    "llm_multimodal_payload_decontam" ->
      s"""WITH $payloadSigCteSql,
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
         |WHERE jaccard >= 0.8
         |ORDER BY train_doc, bench_doc""".stripMargin,
    // persisted-band-index twin: signatures are per-doc and
    // deterministic, so the oracle computes the same bands for corpus
    // and delta roles directly; cross candidates are delta×corpus, the
    // intra pair keeps the earlier id (keep-min)
    "llm_multimodal_phash_delta" ->
      s"""WITH $phashBaseCteSql,
         |xc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bl a JOIN bl b ON a.k = b.k AND a.sig = b.sig
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 != 0),
         |xdup AS (SELECT DISTINCT doc_a FROM xc
         |  JOIN bw wa ON wa.doc_id = xc.doc_a
         |  JOIN bw wb ON wb.doc_id = xc.doc_b
         |  WHERE ${phashHamSql("wa", "wb")} <= 3),
         |ic AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bl a JOIN bl b
         |    ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id
         |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 = 0),
         |intra AS (SELECT DISTINCT doc_b FROM ic
         |  JOIN bw wa ON wa.doc_id = ic.doc_a
         |  JOIN bw wb ON wb.doc_id = ic.doc_b
         |  WHERE ${phashHamSql("wa", "wb")} <= 3)
         |SELECT doc_id, source FROM documents
         |WHERE doc_id % 10 = 0
         |  AND doc_id NOT IN (SELECT doc_a FROM xdup)
         |  AND doc_id NOT IN (SELECT doc_b FROM intra)
         |ORDER BY doc_id""".stripMargin,
    // apply twin: the same phash pair CTEs + the recursive component
    // walk (the llm_dedup_apply rule), survivors = min-id per component
    "llm_multimodal_phash_apply" ->
      s"""WITH RECURSIVE $phashCteSql,
         |p AS (SELECT doc_a, doc_b FROM h WHERE hamming <= 3),
         |e AS (SELECT doc_a AS x, doc_b AS y FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |walk AS (SELECT x AS node, y AS label FROM e
         |         UNION
         |         SELECT e.x, w.label FROM e JOIN walk w ON e.y = w.node),
         |comp AS (SELECT node, LEAST(node, MIN(label)) AS cluster_id
         |  FROM walk GROUP BY node)
         |SELECT doc_id, source FROM documents
         |WHERE doc_id NOT IN
         |    (SELECT node FROM comp WHERE node != cluster_id)
         |ORDER BY doc_id""".stripMargin,
    // composite twin: payload-screen drops (band candidates + jaccard
    // verify, keep-first) ∪ phash-screen drops (hamming ≤ 3 pairs,
    // keep-first), then the media-ref + 16-token chunk interleave and
    // the same per-source running-cumsum packing as llm_training_export
    "llm_multimodal_training_export" ->
      s"""WITH $payloadSigCteSql,
         |pcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM band a JOIN band b
         |    ON a.band = b.band AND a.sig = b.sig
         |      AND a.doc_id < b.doc_id),
         |pdrop AS (SELECT DISTINCT doc_b FROM pcand
         |  JOIN d da ON da.doc_id = pcand.doc_a
         |  JOIN d db ON db.doc_id = pcand.doc_b
         |  WHERE ROUND(
         |      CAST(len(list_filter(da.sh, x -> list_contains(db.sh, x)))
         |        AS DOUBLE)
         |      / (len(da.sh) + len(db.sh)
         |         - len(list_filter(da.sh, x -> list_contains(db.sh, x)))),
         |      4) >= 0.8),
         |$phashCteSql,
         |xdrop AS (SELECT DISTINCT doc_b FROM h WHERE hamming <= 3),
         |surv AS (SELECT doc_id, source, text FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_b FROM pdrop)
         |    AND doc_id NOT IN (SELECT doc_b FROM xdrop)),
         |media AS (SELECT s.doc_id, CAST(0 AS INTEGER) AS chunk_id,
         |    s.source, 'media' AS kind,
         |    CAST($MediaTokens AS INTEGER) AS n_tokens, md5(p.ph) AS ref
         |  FROM surv s JOIN pay p ON p.doc_id = s.doc_id),
         |txt AS (SELECT doc_id,
         |    CAST((st - 1) // 16 + 1 AS INTEGER) AS chunk_id, source,
         |    'text' AS kind, CAST(LEAST(16, n - st + 1) AS INTEGER)
         |      AS n_tokens, '' AS ref
         |  FROM (SELECT doc_id, source,
         |      len(string_split_regex(text, ' ')) AS n,
         |      unnest(range(1, len(string_split_regex(text, ' ')) + 1,
         |        16)) AS st
         |    FROM surv)),
         |r0 AS (SELECT * FROM media UNION ALL SELECT * FROM txt)
         |SELECT doc_id, chunk_id, source,
         |  CAST((SUM(n_tokens) OVER (PARTITION BY source
         |        ORDER BY doc_id, chunk_id
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      - n_tokens) // 128 AS INTEGER) AS pack_id,
         |  kind, n_tokens, ref
         |FROM r0 ORDER BY doc_id, chunk_id""".stripMargin,
    "llm_sim_topk_rerank" -> {
      val sm = graft.api.Similarity.rpSignMatrix(RpSeed, 16, RpInDim)
      val rpList = "[" + sm.map(row =>
        s"ROUND(${dotSql("embedding", rpRowSql(row))} / sqrt(16.0), 6)")
        .mkString(", ") + "]"
      s"""WITH p AS (SELECT vec_id, embedding, $rpList AS rp
         |  FROM embeddings),
         |q AS (SELECT vec_id AS qid, rp AS qrp, embedding AS qe FROM p
         |  WHERE vec_id < 10),
         |cand AS (SELECT qid, vec_id FROM (
         |  SELECT qid, p.vec_id,
         |    ROUND(list_sum(list_transform(list_zip(p.rp, qrp),
         |      z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), 6)
         |      AS crs
         |  FROM q, p WHERE p.vec_id != qid) t
         |  QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY crs DESC, vec_id) <= 20),
         |sc AS (SELECT cand.qid, cand.vec_id,
         |    ROUND(${dotSql("q.qe", "p.embedding")}, 6) AS sim_r
         |  FROM cand JOIN p ON p.vec_id = cand.vec_id
         |  JOIN q ON q.qid = cand.qid)
         |SELECT qid, rk, vec_id, sim_r FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY sim_r DESC, vec_id) AS INTEGER) AS rk FROM sc) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
    },
    "llm_ann_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |  ${signBucketSql("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket
         |  FROM e WHERE vec_id < 10),
         |np(np, m) AS (VALUES (1,0),(2,0),(2,1),(4,0),(4,1),(4,2),(4,4)),
         |exact AS (SELECT qid, vec_id FROM (
         |  SELECT qid, e.vec_id, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY ROUND(${dotSql("qe", "e.embedding")}, 6) DESC,
         |      e.vec_id) AS rk
         |  FROM q JOIN e ON e.vec_id != q.qid) t WHERE rk <= 5),
         |ec AS (SELECT COUNT(*) AS n_exact FROM exact),
         |nq AS (SELECT COUNT(*) AS n FROM q),
         |appr AS (SELECT np, qid, vec_id FROM (
         |  SELECT np.np, qid, e.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY np.np, qid
         |      ORDER BY ROUND(${dotSql("qe", "e.embedding")}, 6) DESC,
         |        e.vec_id) AS rk
         |  FROM q CROSS JOIN np JOIN e ON e.bucket = xor(q.qbucket, np.m)
         |    AND e.vec_id != q.qid) t WHERE rk <= 5),
         |hits AS (SELECT np, COUNT(*) AS hits FROM appr
         |  JOIN exact USING (qid, vec_id) GROUP BY np),
         |hist AS (SELECT bucket, COUNT(*) AS n FROM e GROUP BY bucket),
         |cand AS (SELECT np.np AS np, SUM(COALESCE(h.n, 0)) AS scanned
         |  FROM q CROSS JOIN np
         |  LEFT JOIN hist h ON h.bucket = xor(q.qbucket, np.m)
         |  GROUP BY np.np)
         |SELECT s.np AS nprobe, ec.n_exact,
         |  CAST(c.scanned - nq.n AS BIGINT) AS candidates,
         |  COALESCE(h.hits, 0) AS hits,
         |  CAST(COALESCE(h.hits, 0) AS DOUBLE) / CAST(ec.n_exact AS DOUBLE)
         |    AS recall
         |FROM (SELECT DISTINCT np FROM np) s
         |LEFT JOIN hits h ON h.np = s.np
         |JOIN cand c ON c.np = s.np
         |CROSS JOIN ec CROSS JOIN nq
         |ORDER BY nprobe""".stripMargin,
    "llm_embed_cov_matrix" -> {
      // generated from the SAME dim list as the Spark side; exact
      // micro-unit integer moments, covariance finished in double
      val dims = 0 until 8
      val prs = for { i <- dims; j <- dims if j >= i } yield (i, j)
      val units = dims.map(i =>
        s"CAST(FLOOR(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000.0) " +
          s"AS BIGINT) AS u_$i")
      val moments = Seq("CAST(COUNT(*) AS DOUBLE) AS n") ++
        dims.map(i => s"CAST(SUM(u_$i) AS DOUBLE) AS s_$i") ++
        prs.map { case (i, j) =>
          s"CAST(SUM(u_$i * u_$j) AS DOUBLE) AS p_${i}_$j" }
      val rows = prs.map { case (i, j) =>
        s"SELECT $i AS dim_a, $j AS dim_b, " +
          s"ROUND((p_${i}_$j - s_$i * s_$j / n) / (n - 1) / 1.0e12, 9) " +
          s"AS cov_r FROM m" }
      s"WITH b AS (SELECT ${units.mkString(", ")} FROM embeddings), " +
        s"m AS (SELECT ${moments.mkString(", ")} FROM b) " +
        rows.mkString(" UNION ALL ") + " ORDER BY dim_a, dim_b"
    },
    "llm_bpe_pair_counts" ->
      s"""WITH $bpeCte,
         |pc AS (${bpePcSql("seg")})
         |SELECT pair, n FROM pc ORDER BY n DESC, pair LIMIT 50""".stripMargin,
    "llm_bpe_merge_step" ->
      s"""WITH $bpeCte,
         |pc AS (${bpePcSql("seg")}),
         |top1 AS (SELECT string_split(pair, ' ')[1] AS a,
         |    string_split(pair, ' ')[2] AS b
         |  FROM pc ORDER BY n DESC, pair LIMIT 1),
         |seg2 AS (SELECT replace(sym, '(' || a || ')(' || b || ')',
         |    '(' || a || b || ')') AS sym, w_n FROM seg, top1),
         |pc2 AS (${bpePcSql("seg2")})
         |SELECT pair, n FROM pc2 ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    // full train loop: the N merge picks in training order — the chained
    // CTE replays Bpe.train's argmax-rewrite rounds exactly
    "llm_bpe_train" ->
      s"""WITH ${bpeTrainCte(BpeTrainMerges)}
         |${(1 to BpeTrainMerges).map(k =>
              s"SELECT CAST(${k - 1} AS INT) AS rank, a, b FROM t$k")
             .mkString("\n UNION ALL ")}
         |ORDER BY rank""".stripMargin,
    // encode side: the vocabulary's final segmentation under the N
    // trained merges (same chain, last segw projected)
    "llm_bpe_encode" ->
      s"""WITH ${bpeTrainCte(BpeTrainMerges)}
         |SELECT word, w_n,
         |  CAST(len(string_split(substr(sym, 2, length(sym) - 2), ')('))
         |    AS INT) AS n_tokens,
         |  array_to_string(string_split(substr(sym, 2, length(sym) - 2),
         |    ')('), '|') AS seg
         |FROM segw$BpeTrainMerges ORDER BY word""".stripMargin,
    // fertility under the trained model: per-(source, word) instance
    // counts joined to the final segmentation's piece counts
    "llm_bpe_fertility" ->
      s"""WITH ${bpeTrainCte(BpeTrainMerges)},
         |bs AS (SELECT source, word, COUNT(*) AS n FROM (
         |    SELECT source, unnest(string_split_regex(text, ' ')) AS word
         |    FROM documents) w
         |  WHERE regexp_full_match(word, '[A-Za-z]+')
         |  GROUP BY source, word),
         |np AS (SELECT word,
         |    CAST(len(string_split(substr(sym, 2, length(sym) - 2),
         |      ')(')) AS BIGINT) AS np
         |  FROM segw$BpeTrainMerges)
         |SELECT source, CAST(SUM(n) AS BIGINT) AS n_words,
         |  CAST(SUM(n * np) AS BIGINT) AS n_pieces,
         |  CAST(SUM(n * np) AS DOUBLE) / CAST(SUM(n) AS BIGINT)
         |    AS fertility
         |FROM bs JOIN np USING (word)
         |GROUP BY source ORDER BY source""".stripMargin,
    // unigram EM twin: the Viterbi DP is a recursive CTE building the
    // same packed combined = cost×100 + split array the Spark fold
    // builds (integer min ≡ cost argmin + smallest-split tie-break),
    // then a second recursion walks the backpointers (unigramCte below,
    // shared with the segment key). len(word) < 100 mirrors
    // Unigram.MaxWordLen on both sides.
    "llm_unigram_em_step" ->
      s"""WITH RECURSIVE
         |$unigramCte,
         |cnts AS (SELECT piece, CAST(SUM(w_n) AS BIGINT) AS cnt FROM used
         |  GROUP BY piece),
         |ctot AS (SELECT SUM(cnt) AS tot FROM cnts)
         |SELECT piece, cnt,
         |  CAST(ROUND(-ln(CAST(cnt AS DOUBLE) / tot) * 1000000) AS BIGINT)
         |    AS cost_micro
         |FROM cnts, ctot ORDER BY piece""".stripMargin,
    // encode side over the same chain: per-word segmentation in start
    // order (backtrace emits end positions j; start order ≡ j order)
    "llm_unigram_segment" ->
      s"""WITH RECURSIVE
         |$unigramCte
         |SELECT word, w_n, CAST(COUNT(*) AS INT) AS n_pieces,
         |  string_agg(piece, '|' ORDER BY j) AS seg
         |FROM used GROUP BY word, w_n ORDER BY word""".stripMargin,
    // WordPiece merge step: two likelihood-argmax merges chained, then
    // the top-20 scored pairs — scores via the identical (n/c_a)/c_b
    // division chain as the Spark plan.
    "llm_wordpiece_merge_step" ->
      s"""WITH $bpeCte,
         |sc1 AS (${wpScoredSql("seg")}),
         |t1 AS (SELECT string_split(pair, ' ')[1] AS a,
         |    string_split(pair, ' ')[2] AS b
         |  FROM sc1 ORDER BY score DESC, pair LIMIT 1),
         |seg2 AS (SELECT replace(sym, '(' || a || ')(' || b || ')',
         |    '(' || a || b || ')') AS sym, w_n FROM seg, t1),
         |sc2 AS (${wpScoredSql("seg2")}),
         |t2 AS (SELECT string_split(pair, ' ')[1] AS a,
         |    string_split(pair, ' ')[2] AS b
         |  FROM sc2 ORDER BY score DESC, pair LIMIT 1),
         |seg3 AS (SELECT replace(sym, '(' || a || ')(' || b || ')',
         |    '(' || a || b || ')') AS sym, w_n FROM seg2, t2),
         |sc3 AS (${wpScoredSql("seg3")})
         |SELECT pair, n, c_a, c_b, score FROM sc3
         |ORDER BY score DESC, pair LIMIT 20""".stripMargin,
    // the full WordPiece train replay: the same 8 merges as a chained
    // CTE (wpTrainCte), each step's 1-row argmax projected into the
    // learned merge table in training order — the llm_bpe_train shape
    // under the likelihood score
    "llm_wordpiece_train" ->
      s"""WITH ${wpTrainCte(WpTrainMerges)}
         |${(1 to WpTrainMerges).map(k =>
              s"SELECT CAST(${k - 1} AS INT) AS rank, a, b FROM wt$k")
             .mkString("\n UNION ALL ")}
         |ORDER BY rank""".stripMargin,
    "llm_wordpiece_vocab" ->
      s"""WITH $wordpieceCte
         |SELECT piece, cnt FROM wvoc ORDER BY piece""".stripMargin,
    // greedy longest-match walk as a recursive CTE: one row per word per
    // step (MAX(e.j) is the longest match), words whose walk never
    // reaches len(word) fall out of `wdone` and surface as [UNK].
    "llm_wordpiece_encode" ->
      s"""WITH RECURSIVE
         |$wordpieceCte,
         |wedge AS (SELECT s.word, s.i, s.j FROM wsub s
         |  JOIN wvoc v USING (piece)),
         |wwalk AS (
         |  SELECT word, w_n, 0 AS p, '' AS seg, 0 AS np FROM wf
         |  UNION ALL
         |  SELECT w.word, w.w_n, CAST(MAX(e.j) AS INT) AS p,
         |    w.seg || CASE WHEN w.p = 0 THEN '' ELSE '|##' END ||
         |      substr(w.word, w.p + 1, CAST(MAX(e.j) AS INT) - w.p) AS seg,
         |    w.np + 1 AS np
         |  FROM wwalk w JOIN wedge e ON e.word = w.word AND e.i = w.p
         |  WHERE w.p < len(w.word)
         |  GROUP BY w.word, w.w_n, w.p, w.seg, w.np),
         |wdone AS (SELECT word, w_n, seg, np FROM wwalk
         |  WHERE p = len(word))
         |SELECT wf.word, wf.w_n,
         |  CAST(COALESCE(d.np, 1) AS INT) AS n_pieces,
         |  COALESCE(d.seg, '[UNK]') AS seg,
         |  d.word IS NULL AS is_unk
         |FROM wf LEFT JOIN wdone d USING (word)
         |ORDER BY word""".stripMargin,
    // fertility audit: per-word piece counts from the SAME Viterbi walk
    // as llm_unigram_segment, joined to per-(source, word) counts with
    // the identical word filter, aggregated per source
    "llm_tokenizer_fertility" ->
      s"""WITH RECURSIVE
         |$unigramCte,
         |np AS (SELECT word, CAST(COUNT(*) AS INT) AS np FROM used
         |  GROUP BY word),
         |gw AS (SELECT source, word, COUNT(*) AS g_n FROM (
         |    SELECT source, unnest(string_split_regex(text, ' ')) AS word
         |    FROM documents) w
         |  WHERE regexp_full_match(word, '[A-Za-z]+')
         |  GROUP BY source, word)
         |SELECT source, CAST(SUM(g_n) AS BIGINT) AS n_words,
         |  CAST(SUM(g_n * np) AS BIGINT) AS n_pieces,
         |  CAST(SUM(g_n * len(word)) AS BIGINT) AS n_chars,
         |  CAST(SUM(g_n * np) AS DOUBLE) / CAST(SUM(g_n) AS DOUBLE)
         |    AS fertility,
         |  CAST(SUM(g_n * len(word)) AS DOUBLE)
         |    / CAST(SUM(g_n * np) AS DOUBLE) AS chars_per_piece
         |FROM gw JOIN np USING (word)
         |GROUP BY source ORDER BY source""".stripMargin,
    // cross-family tokenizer comparison: all three training chains in
    // one WITH RECURSIVE — the BPE merge chain owns `wf`, the WordPiece
    // and Unigram blocks get their lattices renamed (wpwf / uwf; the
    // three wf definitions are textually identical including the
    // len < 100 word-domain bound, so the families provably price the
    // same word instances at ANY input) — each projecting a per-word
    // piece count,
    // unioned under a family tag and priced per source exactly like the
    // Spark side's one shared join
    "llm_tokenizer_compare" ->
      s"""WITH RECURSIVE
         |$tokenizerFamiliesCte
         |SELECT family, source, CAST(SUM(g_n) AS BIGINT) AS n_words,
         |  CAST(SUM(g_n * np) AS BIGINT) AS n_pieces,
         |  CAST(SUM(g_n * np) AS DOUBLE) / CAST(SUM(g_n) AS DOUBLE)
         |    AS fertility
         |FROM cgw JOIN fam USING (word)
         |GROUP BY family, source ORDER BY family, source""".stripMargin,
    // dataset-card + tokenizer end cap: the shared family chain extended
    // with per-family trained-inventory sizes (BPE = distinct
    // final-segmentation symbols, WordPiece = wvoc rows, Unigram =
    // seed-model rows) and the per-source card totals — one frame,
    // hash-checked.
    "llm_dataset_card_tokenizer" ->
      s"""WITH RECURSIVE
         |$tokenizerFamiliesCte,
         |vs AS (
         |  SELECT 'bpe' AS family, (SELECT COUNT(DISTINCT s) FROM (
         |      SELECT unnest(string_split(substr(sym, 2,
         |        length(sym) - 2), ')(')) AS s
         |      FROM segw$BpeTrainMerges) bs) AS vocab_size
         |  UNION ALL SELECT 'wordpiece' AS family,
         |    (SELECT COUNT(*) FROM wvoc) AS vocab_size
         |  UNION ALL SELECT 'unigram' AS family,
         |    (SELECT COUNT(*) FROM model) AS vocab_size),
         |card AS (SELECT source, COUNT(*) AS n_docs,
         |    CAST(SUM(len(string_split_regex(text, ' '))) AS BIGINT)
         |      AS n_tokens
         |  FROM documents GROUP BY source)
         |SELECT family, source,
         |  CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
         |  CAST(SUM(g_n) AS BIGINT) AS n_words,
         |  CAST(SUM(g_n * np) AS BIGINT) AS n_pieces,
         |  CAST(SUM(g_n * np) AS DOUBLE) / CAST(SUM(g_n) AS DOUBLE)
         |    AS fertility,
         |  CAST(vocab_size AS BIGINT) AS vocab_size,
         |  CAST(SUM(CASE WHEN cov THEN g_n ELSE 0 END) AS DOUBLE)
         |    / CAST(SUM(g_n) AS DOUBLE) AS covered_frac
         |FROM cgw JOIN fam USING (word) JOIN vs USING (family)
         |  JOIN card USING (source)
         |GROUP BY family, source, vocab_size, n_docs, n_tokens
         |ORDER BY family, source""".stripMargin,
    // llm_sim_topk_pca: omitted (float-order-dependent Jacobi eigen fit,
    // like the kMeansFit/pqTrainCodebook paths); pinned in ApiSpec.
    // llm_sim_topk_pca_exact below IS the oracle-checked PCA: the whole
    // fit (moments → covariance → power iteration → deflation) re-derived
    // inside the oracle SQL with bit-matching IEEE arithmetic.
    "llm_sim_topk_pca_exact" -> {
      val d8 = 0 until 8
      val prs = for { i <- d8; j <- d8 if j >= i } yield (i, j)
      val units = d8.map(i =>
        s"CAST(FLOOR(CAST(embedding[${i + 1}] AS DOUBLE) * 1000000.0) " +
          s"AS BIGINT) AS u_$i")
      val moments = Seq("CAST(COUNT(*) AS DOUBLE) AS n") ++
        d8.map(i => s"CAST(SUM(u_$i) AS DOUBLE) AS s_$i") ++
        prs.map { case (i, j) =>
          s"CAST(SUM(u_$i * u_$j) AS DOUBLE) AS p_${i}_$j" }
      def pref(i: Int, j: Int) = if (i <= j) s"p_${i}_$j" else s"p_${j}_$i"
      val cov0 = d8.flatMap(i => d8.map(j =>
        s"ROUND((${pref(i, j)} - s_$i * s_$j / n) / (n - 1) / 1.0e12, 9)" +
          s" AS c_${i}_$j")).mkString(", ")
      val iters = 20
      def matvecRow(m: String, v: Int => String)(i: Int): String =
        d8.map(j => s"$m.c_${i}_$j * ${v(j)}").mkString(" + ")
      // MATERIALIZED on every chain CTE: the deflation chain references
      // each m_l twice (directly and through lam_l); inlined CTEs would
      // double the expression tree per component — the same exponential
      // plan blowup the Spark iterative ops checkpoint against
      // per component: `iters` un-normalized power steps (recursive CTE
      // carrying v_0..v_7), one normalization, Rayleigh lambda, rank-1
      // deflation into the next component's matrix — every sum spelled
      // left-associative to match the driver's sequential loops
      val compCtes = (0 until 4).map { l =>
        val m = s"m$l"
        s"""it$l AS (
           |  SELECT 0 AS t, ${d8.map(i =>
                 s"CAST(1.0 / sqrt(8.0) AS DOUBLE) AS v_$i").mkString(", ")}
           |  FROM (SELECT 1)
           |  UNION ALL
           |  SELECT t + 1, ${d8.map(i =>
                 s"${matvecRow(m, j => s"v_$j")(i)} AS v_$i").mkString(", ")}
           |  FROM it$l, $m WHERE t < $iters),
           |fin$l AS MATERIALIZED (SELECT * FROM it$l WHERE t = $iters),
           |nrm$l AS MATERIALIZED (SELECT sqrt(${d8.map(i => s"v_$i * v_$i")
                 .mkString(" + ")}) AS nm, * FROM fin$l),
           |u$l AS MATERIALIZED (SELECT ${d8.map(i => s"v_$i / nm AS u_$i")
                 .mkString(", ")} FROM nrm$l),
           |cu$l AS MATERIALIZED (SELECT u.*, ${d8.map(i =>
                 s"${matvecRow(m, j => s"u.u_$j")(i)} AS cu_$i")
                 .mkString(", ")} FROM u$l u, $m),
           |lam$l AS MATERIALIZED (SELECT *, ${d8.map(i => s"u_$i * cu_$i")
                 .mkString(" + ")} AS lam FROM cu$l),
           |m${l + 1} AS MATERIALIZED (SELECT ${d8.flatMap(i => d8.map(j =>
                 s"m.c_${i}_$j - (l.lam * l.u_$i) * l.u_$j AS c_${i}_$j"))
                 .mkString(", ")} FROM $m m, lam$l l)""".stripMargin
      }.mkString(",\n")
      // projection: round(dot(x, comp) - offset, 6) with offset =
      // sum of mean_i * comp_i (mean_i = s_i / n / 1e6), mirroring
      // pcaProject's driver-precomputed offsets
      def projExpr(l: Int): String =
        s"ROUND((${d8.map(i =>
            s"CAST(e.embedding[${i + 1}] AS DOUBLE) * u$l.u_$i")
            .mkString(" + ")}) - (${d8.map(i =>
            s"(s_$i / n / 1000000.0) * u$l.u_$i").mkString(" + ")}), 6)"
      s"""WITH RECURSIVE
         |b AS (SELECT ${units.mkString(", ")} FROM embeddings),
         |mom AS MATERIALIZED (SELECT ${moments.mkString(", ")} FROM b),
         |m0 AS MATERIALIZED (SELECT $cov0 FROM mom),
         |$compCtes,
         |proj AS MATERIALIZED (SELECT e.vec_id, ${(0 until 4).map(l =>
             s"${projExpr(l)} AS pc_$l").mkString(", ")}
         |  FROM embeddings e, mom, u0, u1, u2, u3),
         |qproj AS (SELECT vec_id AS qid, ${(0 until 4).map(l =>
             s"pc_$l AS qc_$l").mkString(", ")}
         |  FROM proj WHERE vec_id < 10),
         |sc AS (SELECT qid, p.vec_id,
         |    ROUND(${(0 until 4).map(l => s"p.pc_$l * q.qc_$l")
             .mkString(" + ")}, 6) AS sim_r
         |  FROM qproj q, proj p WHERE p.vec_id != q.qid)
         |SELECT qid, rk, vec_id, sim_r FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY sim_r DESC, vec_id) AS INTEGER) AS rk FROM sc) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin
    },
    // llm_simhash / llm_fingerprint: omitted (engine-specific xxhash64);
    // pinned by planted-duplicate tests in LlmExtrasSpec
    "llm_gopher_filters" ->
      """WITH base AS (SELECT doc_id,
        |  CAST(len(string_split_regex(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(list_sum(list_transform(string_split_regex(text, ' '),
        |    x -> length(x))) AS DOUBLE)
        |    / len(string_split_regex(text, ' ')) AS mwl_raw,
        |  CAST(len(list_filter(string_split_regex(text, ' '),
        |    x -> length(x) <= 2)) AS DOUBLE)
        |    / len(string_split_regex(text, ' ')) AS short_raw
        |  FROM documents),
        |dom AS (SELECT doc_id,
        |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS dom_raw
        |  FROM (SELECT doc_id, token, COUNT(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split_regex(text, ' ')) AS token
        |    FROM documents) GROUP BY doc_id, token) GROUP BY doc_id)
        |SELECT b.doc_id, b.n_words,
        |  ROUND(b.mwl_raw, 6) AS mean_word_len,
        |  ROUND(b.short_raw, 6) AS short_frac,
        |  ROUND(d.dom_raw, 6) AS top_word_ratio,
        |  (b.n_words >= 10 AND b.n_words <= 100000 AND b.mwl_raw >= 2.0
        |   AND b.mwl_raw <= 10.0 AND d.dom_raw <= 0.2) AS keep
        |FROM base b JOIN dom d USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "llm_pii_scrub" ->
      """SELECT event_id,
        |regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS scrubbed,
        |CAST(len(regexp_extract_all(props, '[0-9]+')) AS INTEGER)
        |  AS n_redacted
        |FROM events ORDER BY event_id""".stripMargin,
    "llm_chunk_tokens" ->
      s"""WITH $chunkCte
         |SELECT doc_id, chunk_id, chunk_text, n_tokens FROM c
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "llm_pack_sequences" ->
      s"""WITH $chunkCte,
         |p AS (SELECT source,
         |    CAST((SUM(n_tokens) OVER (PARTITION BY source
         |          ORDER BY doc_id, chunk_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |        - n_tokens) // 512 AS INTEGER) AS pack_id,
         |    n_tokens
         |  FROM c)
         |SELECT source, pack_id, COUNT(*) AS n_chunks,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
         |FROM p GROUP BY source, pack_id
         |ORDER BY source, pack_id""".stripMargin,
    "llm_ngram_counts" ->
      """SELECT bigram, COUNT(*) AS n FROM (
        |  SELECT unnest(list_transform(range(1, len(tk)),
        |    i -> tk[i] || ' ' || tk[i + 1])) AS bigram
        |  FROM (SELECT string_split_regex(text, ' ') AS tk
        |        FROM documents) WHERE len(tk) > 1)
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 100""".stripMargin,
    "llm_sample_by_source" ->
      """SELECT source, COUNT(*) AS n_kept FROM documents
        |WHERE CAST(substring(source, 4) AS INTEGER) % 2 = 0
        |   OR substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) < '8'
        |GROUP BY source ORDER BY source""".stripMargin,
    "llm_token_count_bpe" ->
      """SELECT doc_id,
        |CAST(len(string_split_regex(text, '\s+')) AS INTEGER)
        |  AS n_ws_tokens,
        |CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
        |  AS INTEGER) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "llm_quality_score" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split_regex(text, ' ')) AS DOUBLE) AS n_tok,
        |  len(list_distinct(string_split_regex(text, ' '))) AS n_dist,
        |  len(list_filter(string_split_regex(text, ' '),
        |    x -> x IN ('a', 'the'))) AS n_stop
        |  FROM documents)
        |SELECT doc_id,
        |  ROUND(n_dist / n_tok, 6) AS ttr,
        |  ROUND(n_stop / n_tok, 6) AS stop_ratio,
        |  ROUND((n_dist / n_tok) * 0.4 + (1.0 - n_stop / n_tok) * 0.3 +
        |    least(n_tok / 100.0, 1.0) * 0.3, 6) AS quality
        |FROM t ORDER BY doc_id""".stripMargin,
    "llm_lang_id" ->
      """WITH toks AS (SELECT doc_id, lang,
        |    unnest(string_split_regex(text, ' ')) AS token FROM documents),
        |v AS (SELECT COUNT(DISTINCT token) AS v FROM toks),
        |lt AS (SELECT lang, token, COUNT(*) AS c_lt FROM toks
        |  GROUP BY lang, token),
        |tot AS (SELECT lang AS m_lang, COUNT(*) AS c_l FROM toks
        |  GROUP BY lang),
        |grid AS (SELECT token, m_lang, c_l FROM
        |  (SELECT DISTINCT token FROM toks) CROSS JOIN tot),
        |probs AS (SELECT g.token, g.m_lang,
        |  CAST(ROUND(ln(CAST(COALESCE(lt.c_lt, 0) + 1 AS DOUBLE)
        |    / (g.c_l + v.v)), 9) AS DECIMAL(18,9)) AS logp
        |  FROM grid g CROSS JOIN v
        |  LEFT JOIN lt ON g.token = lt.token AND g.m_lang = lt.lang),
        |scores AS (SELECT t.doc_id, t.lang, p.m_lang,
        |    SUM(p.logp) AS score
        |  FROM toks t JOIN probs p ON t.token = p.token
        |  GROUP BY t.doc_id, t.lang, p.m_lang),
        |pred AS (SELECT doc_id, lang, m_lang,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, m_lang ASC) AS rk FROM scores)
        |SELECT lang, m_lang AS pred_lang, COUNT(*) AS n FROM pred
        |WHERE rk = 1 GROUP BY lang, m_lang
        |ORDER BY lang, pred_lang""".stripMargin,
    "llm_sim_topk_ivf" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |  ${signBucketSql("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket
         |  FROM e WHERE vec_id < 10),
         |s AS (SELECT qid, vec_id,
         |  ROUND(${dotSql("qe", "e.embedding")}, 6) AS sim_r
         |  FROM q JOIN e ON e.bucket = q.qbucket AND e.vec_id != q.qid)
         |SELECT qid, rk, vec_id, sim_r FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY sim_r DESC, vec_id) AS INTEGER) AS rk FROM s) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "llm_sim_topk_ivf_probe" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |  ${signBucketSql("embedding")} AS bucket FROM embeddings),
         |q AS (SELECT vec_id AS qid, embedding AS qe, bucket AS qbucket
         |  FROM e WHERE vec_id < 10),
         |s AS (SELECT qid, e.vec_id,
         |  ROUND(${dotSql("qe", "e.embedding")}, 6) AS sim_r
         |  FROM q CROSS JOIN (VALUES (0), (1), (2), (4)) m(m)
         |  JOIN e ON e.bucket = xor(q.qbucket, m.m)
         |    AND e.vec_id != q.qid)
         |SELECT qid, rk, vec_id, sim_r FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY sim_r DESC, vec_id) AS INTEGER) AS rk FROM s) t
         |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,
    "llm_dedup_embedding_clusters" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, embedding,
         |  ${signBucketSql("embedding")} AS bucket FROM embeddings),
         |p AS (SELECT a.vec_id AS va, b.vec_id AS vb
         |  FROM e a JOIN e b
         |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |  WHERE ROUND(${dotSql("a.embedding", "b.embedding")}, 6) >= 0.2),
         |ed AS (SELECT va AS x, vb AS y FROM p
         |       UNION ALL SELECT vb, va FROM p),
         |walk AS (SELECT x AS node, y AS label FROM ed
         |         UNION
         |         SELECT ed.x, w.label FROM ed JOIN walk w ON ed.y = w.node)
         |SELECT node AS vec_id, LEAST(node, MIN(label)) AS cluster_id
         |FROM walk GROUP BY node ORDER BY vec_id""".stripMargin,
    "llm_dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id, embedding,
         |  ${signBucketSql("embedding")} AS bucket FROM embeddings)
         |SELECT a.bucket AS bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  ROUND(${dotSql("a.embedding", "b.embedding")}, 6) AS sim_r
         |FROM e a JOIN e b
         |  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ROUND(${dotSql("a.embedding", "b.embedding")}, 6) >= 0.2
         |ORDER BY vec_a, vec_b""".stripMargin,
    "llm_text_normalize" ->
      """WITH src AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-3 AS BIGINT), 'Cafe' || chr(769) || '  de' || chr(769)
        |      || 'ja' || chr(768) || ' vu'),
        |    (CAST(-2 AS BIGINT), 'Caf' || chr(233) || ' d' || chr(233)
        |      || 'j' || chr(224) || ' vu'),
        |    (CAST(-1 AS BIGINT), chr(8491) || 'ngstr' || chr(246)
        |      || 'm UNITS')) AS v(doc_id, text))
        |SELECT doc_id,
        |  trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))
        |    AS norm_text,
        |  length(trim(regexp_replace(lower(nfc_normalize(text)),
        |    '\s+', ' ', 'g'))) AS n_chars_norm
        |FROM src ORDER BY doc_id""".stripMargin,
    "llm_semdedup" ->
      s"""WITH RECURSIVE c AS (SELECT vec_id AS cid, embedding AS ce
         |  FROM embeddings WHERE vec_id < 8),
         |sc AS (SELECT vec_id, cid,
         |  ROUND(${dotSql("ce", "embedding")}, 6) AS sim_r
         |  FROM embeddings CROSS JOIN c),
         |a AS (SELECT vec_id, cid AS cluster_id FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY sim_r DESC, cid) AS rk FROM sc) t WHERE rk = 1),
         |j AS (SELECT e.vec_id, e.embedding, a.cluster_id
         |  FROM embeddings e JOIN a USING (vec_id)),
         |p AS (SELECT x.vec_id AS va, y.vec_id AS vb
         |  FROM j x JOIN j y
         |    ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
         |  WHERE ROUND(${dotSql("x.embedding", "y.embedding")}, 6) >= 0.2),
         |ed AS (SELECT va AS xx, vb AS yy FROM p
         |       UNION ALL SELECT vb, va FROM p),
         |walk AS (SELECT xx AS node, yy AS label FROM ed
         |         UNION
         |         SELECT ed.xx, w.label FROM ed JOIN walk w ON ed.yy = w.node),
         |comp AS (SELECT node, LEAST(node, MIN(label)) AS dg
         |  FROM walk GROUP BY node)
         |SELECT j.vec_id, j.cluster_id,
         |  (comp.node IS NULL OR comp.dg = j.vec_id) AS keep
         |FROM j LEFT JOIN comp ON comp.node = j.vec_id
         |ORDER BY vec_id""".stripMargin
  )
}
