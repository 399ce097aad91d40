package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-selection and sketching operators for corpus curation:
  * DSIR-style importance weighting (Xie et al. 2023 "Data Selection for
  * Language Models via Importance Resampling" — public) and the
  * count-min sketch (Cormode & Muthukrishnan 2005 — public) for
  * bounded-memory heavy-hitter detection.
  *
  * Both follow the house determinism discipline: hashed features are
  * md5-prefix buckets (engine-portable — [[Corpus.hashFeatures]]), all
  * per-doc scores are exact integer sums of micro-unit terms
  * (addition-order-free, so shuffle nondeterminism cannot move them),
  * and the one transcendental (ln) is rounded to 6 dp at each leaf
  * before any sum — the [[Unigram]] −ln·10⁶ precedent.
  */
object Selection {

  /** Integer scale of log-probabilities (micro-units, 6 dp). */
  val Micro = 1000000L

  /** round(ln((cnt+1)/denom)·10⁶): add-one-smoothed log-probability of
    * one feature bucket at 6 dp. The division and ln are single IEEE
    * ops over exact integers — identical bit patterns in both engines —
    * and the round pins the 6th decimal before anything is summed. */
  private def lpMicro(cnt: Column, denom: Column): Column =
    round(log((cnt + lit(1L)).cast("double") / denom.cast("double"))
      * lit(Micro.toDouble)).cast("long")

  /** DSIR bucket model: per-bucket log-likelihood-ratio
    * llr_micro = round(ln p̂_target·10⁶) − round(ln p̂_raw·10⁶) under
    * add-one smoothing over `buckets` cells (the hashed-feature space
    * is fixed up front, so the smoothing denominator total + buckets
    * is known without a vocabulary pass).
    *
    * Inputs are sparse (doc_id, bucket, n) frames from
    * [[Corpus.hashFeatures]]. Output: (bucket, llr_micro) — DENSE over
    * the whole 16^nibbles bucket universe (the hashed feature space is
    * fixed up front, so the model can be total: a serving-time shard —
    * see [[weightsAgainstModel]] — can never hash to a bucket the model
    * is missing, and both-sides-zero buckets carry their correct
    * smoothed ratio instead of being silently skipped). Still
    * broadcast-sized by construction, like the [[Quality]] frame.
    *
    * Scale shape: two bucket-keyed aggregates (map-side combinable) +
    * two 1-row totals broadcast back; the densifying join is over the
    * |buckets|-row literal universe — nothing touches the driver. */
  def dsirModel(rawFeats: DataFrame, tgtFeats: DataFrame,
      buckets: Long): DataFrame = {
    require(buckets >= 1, s"buckets=$buckets must be positive")
    val nibbles = java.lang.Long.numberOfTrailingZeros(buckets) / 4
    require(buckets == (1L << (4 * nibbles)),
      s"buckets=$buckets must be a power of 16 (the md5-prefix space)")
    val spark = rawFeats.sparkSession
    // the md5-prefix spelling: lowercase hex, zero-padded to nibbles
    val universe = spark.range(buckets)
      .select(lpad(lower(hex(col("id"))), nibbles, "0").as("bucket"))
    val tc = tgtFeats.groupBy("bucket").agg(sum("n").as("__tn"))
    val rc = rawFeats.groupBy("bucket").agg(sum("n").as("__rn"))
    val tt = tgtFeats.agg(sum("n").as("__ttot"))
    val rt = rawFeats.agg(sum("n").as("__rtot"))
    universe
      .join(tc, Seq("bucket"), "left")
      .join(rc, Seq("bucket"), "left")
      .crossJoin(broadcast(tt)).crossJoin(broadcast(rt))
      .select(col("bucket"),
        (lpMicro(coalesce(col("__tn"), lit(0L)),
            col("__ttot") + lit(buckets)) -
          lpMicro(coalesce(col("__rn"), lit(0L)),
            col("__rtot") + lit(buckets))).as("llr_micro"))
  }

  /** DSIR importance weight of every raw doc:
    * w_micro = Σ_buckets n · llr_micro — the hashed-n-gram
    * log-importance log(p_target/p_raw) of the doc, an exact integer
    * sum. Docs most like the target slice score highest; selection is
    * then a top-k (or a Gumbel resample) over this column.
    *
    * `raw`/`target`: the corpus to select from and a sample of the
    * wanted distribution; features are [[Corpus.hashFeatures]] with the
    * same (bucketNibbles, wordNgrams) on both sides.
    *
    * Scale shape: the target side collapses to a |buckets|-row model
    * broadcast into ONE corpus-sized feature pass (explode → map-side
    * partial agg → one (doc, bucket) shuffle → doc-keyed agg). The raw
    * feature frame has THREE consumers (the model's bucket counts, its
    * 1-row total, and the weight join), so it is pinned once
    * ([[graft.util.Pin]]). At 100 TB
    * the same frame is the [[Quality]] featurization reused —
    * featurize once, weight and classify off it. */
  def dsirWeights(raw: DataFrame, target: DataFrame, id: Column,
      text: Column, bucketNibbles: Int = 1,
      wordNgrams: Int = 2): DataFrame = {
    val rawFeats = graft.util.Pin(
      Corpus.hashFeatures(raw, id, text, bucketNibbles, wordNgrams))
    // the target side is a SAMPLE by the method's design (its two
    // consumers are both tiny aggregates) — featurizing it twice is
    // cheaper than a pin job, so it stays lazy
    val tgtFeats = Corpus.hashFeatures(target, id, text, bucketNibbles,
      wordNgrams)
    val buckets = (0 until bucketNibbles).foldLeft(1L)((a, _) => a * 16L)
    weightsAgainstModel(rawFeats, dsirModel(rawFeats, tgtFeats, buckets))
  }

  /** Weight a featurized shard against a FITTED (bucket, llr_micro)
    * model — the serving-side half of [[dsirWeights]], split out so a
    * persisted or streaming model consumer never re-derives the target
    * distribution: one broadcast model join + one doc-keyed exact
    * integer agg, stateless (the [[Quality.classify]] shape). */
  def weightsAgainstModel(feats: DataFrame, model: DataFrame): DataFrame =
    feats.join(broadcast(model), "bucket")
      .groupBy("doc_id")
      .agg(sum(col("n") * col("llr_micro")).as("w_micro"))

  /** The SELECT step: top-`k` raw docs by DSIR weight (deterministic
    * doc_id tie-break) — plain importance *ranking*; a sampled-without-
    * replacement variant would add Gumbel noise from a salted hash, the
    * [[Corpus.temperatureSample]] idiom. Output: (rk, doc_id, w_micro).
    *
    * Scale shape: global top-k is TakeOrderedAndProject (per-partition
    * heads + one k-row merge), never a full sort. */
  def dsirSelect(raw: DataFrame, target: DataFrame, id: Column,
      text: Column, k: Int, bucketNibbles: Int = 1,
      wordNgrams: Int = 2): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("w_micro").desc, col("doc_id"))
    dsirWeights(raw, target, id, text, bucketNibbles, wordNgrams)
      .orderBy(col("w_micro").desc, col("doc_id")).limit(k)
      // row_number over the ≤k-row survivor frame — bounded, not a
      // corpus-wide single-partition window
      .withColumn("rk", row_number().over(w).cast("int"))
      .select("rk", "doc_id", "w_micro")
  }

  /** The SAMPLED select step — importance RESAMPLING as the DSIR paper
    * actually runs it (Gumbel-top-k: adding independent Gumbel noise to
    * each log-weight and taking the top k draws k docs WITHOUT
    * replacement with probability ∝ exp(w); Vieira 2014, public):
    * noise is DETERMINISTIC — u = (h+1)/(2⁶⁰+1) from a salted md5 of
    * the doc id, g_micro = round(−ln(−ln u)·10⁶) — so every training
    * run samples the SAME docs and a re-salt is a fresh epoch
    * ([[Corpus.temperatureSample]]'s reproducibility rule applied to
    * importance sampling). Output: (rk, doc_id, w_micro, g_micro).
    *
    * Scale shape: one map-side noise column over the weight frame +
    * a global top-k via TakeOrderedAndProject — no full sort, no
    * driver-side randomness. */
  def dsirGumbelTopK(raw: DataFrame, target: DataFrame, id: Column,
      text: Column, k: Int, salt: String = "dsir",
      bucketNibbles: Int = 1, wordNgrams: Int = 2): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    // (h+1)/(2^60+1): h is the 60-bit md5 prefix, so u ∈ (0,1) strictly
    // — both ln calls see arguments inside their domains. The +1 happens
    // in INTEGER before the (lossy, >2⁵³) double cast: cast-then-add
    // could land one rounding boundary away from add-then-cast, and the
    // oracle adds first.
    val u = (conv(substring(md5(concat(lit(salt), lit("|"),
        col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
        + lit(1L)).cast("double") / lit(1152921504606846977.0)
    val g = round(-log(-log(u)) * lit(Micro.toDouble)).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy((col("w_micro") + col("g_micro")).desc, col("doc_id"))
    dsirWeights(raw, target, id, text, bucketNibbles, wordNgrams)
      .withColumn("g_micro", g)
      .orderBy((col("w_micro") + col("g_micro")).desc, col("doc_id"))
      .limit(k)
      // bounded ≤k-row window, the dsirSelect rank idiom
      .withColumn("rk", row_number().over(w).cast("int"))
      .select("rk", "doc_id", "w_micro", "g_micro")
  }

  /** Sketch MERGE — the property that makes count-min the distributed
    * frequency structure: sketches over disjoint corpus shards sum
    * cell-wise into the sketch of the union (both sides must share
    * (depth, width, salt)). The nightly accept step: yesterday's
    * sketch + today's delta sketch = today's full sketch, corpus never
    * re-read — certified grown ≡ rebuilt by the llm_cms_grow oracle.
    * Output: (r, bucket, c); absent-on-one-side cells pass through. */
  def cmsMerge(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("r"), col("bucket"), col("c").as("__ca"))
      .join(b.select(col("r"), col("bucket"), col("c").as("__cb")),
        Seq("r", "bucket"), "full_outer")
      .select(col("r"), col("bucket"),
        (coalesce(col("__ca"), lit(0L)) + coalesce(col("__cb"), lit(0L)))
          .as("c"))

  /** Count-min bucket of `token` for sketch row `r` (0-based):
    * first 15 md5 hex chars of "cms<r>|token" → 60-bit int → mod
    * `width`. Engine-portable: Spark conv(…,16,10) and DuckDB
    * CAST('0x…' AS BIGINT) parse the prefix identically (the
    * llm_simhash_md5 precedent), and 15 hex chars keep the value
    * positive, so `%` needs no pmod. */
  private def cmsBucket(r: Column, token: Column, width: Int): Column =
    conv(substring(md5(concat(lit("cms"), r.cast("string"), lit("|"),
      token)), 1, 15), 16, 10).cast("long") % width

  /** Count-min sketch of the corpus token stream: `depth` hash rows ×
    * `width` buckets of exact counts. Output: (r, bucket, c) — absent
    * cells are zero.
    *
    * Scale shape — the whole point of the sketch at 100 TB: the
    * aggregation state is depth×width cells, so the map-side partial
    * agg collapses each input partition to ≤ depth·width rows and the
    * shuffle carries O(partitions · depth · width), NOT a vocab-sized
    * frame (no Heaps'-law state anywhere). The depth× row explode
    * happens inside the map side, never materialized. */
  def cmsBuild(df: DataFrame, text: Column, depth: Int = 4,
      width: Int = 64): DataFrame = {
    require(depth >= 1 && width >= 1,
      s"depth=$depth, width=$width must be positive")
    df.select(explode(split(text, " ")).as("__tok"))
      .select(col("__tok"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .groupBy(col("r"), cmsBucket(col("r"), col("__tok"), width)
        .as("bucket"))
      .agg(count(lit(1)).as("c"))
  }

  /** Point estimate of each candidate token's frequency from the
    * sketch: est = min over the `depth` cells the token hashes to —
    * the count-min guarantee est ≥ exact always, est ≤ exact + εN with
    * probability 1−δ (ε = e/width, δ = e^−depth).
    *
    * `candidates`: a (token) frame — the probe set. At fixture scale
    * the full vocabulary; at 100 TB the candidate set is whatever the
    * pipeline is screening (a blocklist, a sampled vocab, last epoch's
    * heavy hitters) — the sketch answers point queries, it does not
    * enumerate.
    *
    * Scale shape: the sketch is depth·width rows, broadcast; the probe
    * is one candidate-sized pass. Candidate tokens absent from the
    * corpus can still land on all-present cells (that IS the
    * overestimate), so the join is left + coalesce-to-0. */
  def cmsEstimate(cms: DataFrame, candidates: DataFrame,
      token: Column, depth: Int = 4, width: Int = 64): DataFrame =
    candidates.select(token.as("token"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket", cmsBucket(col("r"), col("token"), width))
      .join(broadcast(cms), Seq("r", "bucket"), "left")
      .groupBy("token")
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))

  /** Persist a count-min sketch: `path/cells` holds (r, bucket, c) rows
    * and `path/params.txt` records (depth, width) — appends and probes
    * verify the geometry against the recorded values (a mismatch
    * changes every bucket key, so it fails loudly instead of silently
    * estimating garbage; the substring-index params precedent).
    * Append-mode growth writes DELTA cells as additional rows; the
    * sketch's additivity means [[readCms]] just sums per cell, so the
    * nightly accept step never reads yesterday's corpus. */
  def writeCms(df: DataFrame, text: Column, path: String,
      depth: Int = 4, width: Int = 64): Unit = {
    val spark = df.sparkSession
    graft.util.IndexMeta.writeInts(spark, path, "depth" -> depth,
      "width" -> width)
    cmsBuild(df, text, depth, width)
      .write.mode("overwrite").parquet(s"$path/cells")
  }

  private def requireCmsParams(spark: org.apache.spark.sql.SparkSession,
      path: String, depth: Int, width: Int): Unit = {
    val Seq(d0, w0) =
      graft.util.IndexMeta.readInts(spark, path, "depth", "width")
    require(d0 == depth && w0 == width,
      s"cms at $path was written with depth=$d0, width=$w0 but caller " +
        s"passed depth=$depth, width=$width — every cell key differs")
  }

  /** The nightly accept step: build the delta shard's sketch and append
    * its cells — yesterday's corpus is never re-read. Cells accumulate
    * as rows across appends; [[readCms]] collapses them. */
  def appendToCms(df: DataFrame, text: Column, path: String,
      depth: Int = 4, width: Int = 64): Unit = {
    requireCmsParams(df.sparkSession, path, depth, width)
    cmsBuild(df, text, depth, width)
      .write.mode("append").parquet(s"$path/cells")
  }

  /** Read a persisted sketch, collapsing cross-append generations by
    * cell-wise sum (count-min additivity). Output: (r, bucket, c). */
  def readCms(spark: org.apache.spark.sql.SparkSession,
      path: String, depth: Int = 4, width: Int = 64): DataFrame = {
    requireCmsParams(spark, path, depth, width)
    spark.read.parquet(s"$path/cells")
      .groupBy("r", "bucket").agg(sum("c").as("c"))
  }

  /** Compact a grown sketch in place: collapse appended generations to
    * one row per cell + one rewrite (≤ depth·width rows — a file-count
    * concern, never correctness; estimates are generation-blind).
    * Committed through [[graft.util.Swap]]. Do not run concurrently
    * with an append or probe on the same sketch. */
  def compactCms(spark: org.apache.spark.sql.SparkSession,
      path: String, depth: Int = 4, width: Int = 64): Unit = {
    val cells = s"$path/cells"
    readCms(spark, path, depth, width)
      .write.mode("overwrite").parquet(graft.util.Swap.next(cells))
    graft.util.Swap.promote(spark, cells)
  }

  /** Heavy hitters with the sketch next to ground truth: top-`k`
    * corpus tokens by count-min estimate, with the exact count beside
    * the estimate (est ≥ exact everywhere; a narrow `width` makes the
    * collision overestimate visible). Output:
    * (rk, token, est_count, exact_count).
    *
    * The exact side is the vocab-keyed count the heavy-hitter report
    * needs anyway; production narrows `candidates` instead (scaladoc
    * on [[cmsEstimate]]). */
  def heavyHittersCms(df: DataFrame, text: Column, depth: Int = 4,
      width: Int = 64, k: Int = 20): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    // ONE corpus pass (r16): the exact vocab counts are PINNED
    // (Heaps-bounded — the smallest frame that determines everything
    // downstream), and the sketch DERIVES from them: by CMS additivity
    // a cell's instance count is exactly Σ exact_count over the tokens
    // hashing there, bit-identical to cmsBuild's corpus explode. The
    // previous spelling re-ran the corpus explode+aggregate under
    // every consumer (sketch build, probe candidates, final join —
    // 6 parquet scans in the executed plan, ReuseExchange never
    // unified them because pruning differentiated the subtrees).
    val exact = graft.util.Pin(
      df.select(explode(split(text, " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("exact_count")))
    val cms = exact
      .select(col("token").as("__tok"), col("exact_count"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .groupBy(col("r"),
        cmsBucket(col("r"), col("__tok"), width).as("bucket"))
      .agg(sum(col("exact_count")).as("c"))
    val est = cmsEstimate(cms, exact, col("token"), depth, width)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("est").desc, col("token"))
    exact.join(est, "token")
      .orderBy(col("est").desc, col("token")).limit(k)
      .withColumn("rk", row_number().over(w).cast("int"))
      .select(col("rk"), col("token"), col("est").as("est_count"),
        col("exact_count"))
  }
}
