package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation forms that sit between curation and tokenization:
  * deterministic shuffle/sharding and hashing-trick featurization.
  * Generic over arbitrary frames/column names (the fixture keys in
  * graft.ops.Curation are thin wrappers).
  */
object Corpus {

  /** Deterministic global shuffle + shard assignment. Every training run
    * must read the SAME byte order, so the "shuffle" is a hash ORDER,
    * never an RNG: shard = first `shardNibbles` hex chars of a salted
    * md5 of the row id (16^nibbles uniform shards), pos = rank of the
    * hash within its shard. Output: input columns + (shard, pos).
    *
    * Scale shape: one map-side hash, one window partitioned BY SHARD —
    * each shard sorts independently (this is exactly Spark's
    * partitioned-write path: repartition by shard key + in-partition
    * sort), no global sort. Change `salt` to get a fresh epoch order
    * with zero data movement difference. */
  def shuffleShard(df: DataFrame, id: Column, salt: String = "shard",
      shardNibbles: Int = 1): DataFrame = {
    require(shardNibbles >= 1 && shardNibbles <= 8,
      s"shardNibbles=$shardNibbles out of range [1,8]")
    val h = md5(concat(lit(s"$salt:"), id.cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), id)
    df.withColumn("__h", h)
      .withColumn("shard", substring(col("__h"), 1, shardNibbles))
      .withColumn("pos", row_number().over(w))
      .drop("__h")
  }

  /** Integrity manifest of a sharded corpus — what a reproducible
    * export ships next to its files so any copy can be verified without
    * re-reading the source: per shard, the row count, an ORDER-FREE
    * content checksum (the exact integer sum of a 32-bit salted md5 of
    * each id — addition-order-free, so shuffle nondeterminism and file
    * ordering cannot move it; exact up to 2³¹ rows per shard, past
    * which the sum could exceed what the BIGINT-vs-128-bit oracle
    * comparison tolerates), and the id range. Recompute on the copy and
    * compare — a dropped, duplicated, or swapped row moves the sum.
    * Input: a [[shuffleShard]]-shaped frame (any frame with a `shard`
    * column). Output: (shard, n_rows, checksum, min_id, max_id).
    *
    * Scale shape: ONE map-side-combinable groupBy on the shard key —
    * no window, no sort, no text. */
  def shardManifest(sharded: DataFrame, id: Column): DataFrame =
    sharded.groupBy("shard").agg(
      count(lit(1)).as("n_rows"),
      sum(conv(substring(md5(concat(lit("man|"), id.cast("string"))),
        1, 8), 16, 10).cast("long")).as("checksum"),
      min(id).as("min_id"), max(id).as("max_id"))

  /** Hashing-trick featurizer (sparse output): token → bucket by a hash
    * of the TOKEN — no fitted vocabulary, which is the point of the
    * trick: the feature space is fixed up front, so sharded/streaming
    * fits need no vocabulary merge, and an unseen token at serving time
    * maps somewhere instead of erroring. Buckets are the first
    * `bucketNibbles` hex chars of md5 (16^nibbles buckets) —
    * engine-portable, unlike murmur3. Output: (doc_id, bucket, n)
    * sparse counts.
    *
    * `wordNgrams = 2` adds adjacent word BIGRAMS (space-joined) to the
    * feature stream, hashed into the same bucket space — fastText's
    * `wordNgrams` knob (Joulin et al. 2017): bag-of-buckets features
    * become order-sensitive without any vocabulary, which is what lets
    * the linear quality model separate fluent text from shuffled
    * boilerplate with identical token counts. A doc with t tokens
    * emits 2t − 1 features instead of t.
    *
    * Scale shape: explode → map-side partial agg → ONE shuffle on
    * (doc, bucket); the bigram variant scales the exploded rows ~2×,
    * nothing else changes. */
  def hashFeatures(df: DataFrame, id: Column, text: Column,
      bucketNibbles: Int = 1, wordNgrams: Int = 1): DataFrame = {
    // Upper bound 6 is the BROADCAST ceiling, not a hash-width limit:
    // every (bucket, w_micro) model frame derived from this space is
    // force-broadcast at scoring time ([[Quality.margins]]), and
    // 16^6 ≈ 16.7M buckets is the largest bucket space whose hashed
    // relation stays executor-resident (~1 GB worst case, under the
    // planner's 8 GB broadcast cap with headroom); 16^7+ would let the
    // pinned hint OOM the driver at scale (r16, ADVICE).
    require(bucketNibbles >= 1 && bucketNibbles <= 6,
      s"bucketNibbles=$bucketNibbles out of range [1,6]")
    require(wordNgrams == 1 || wordNgrams == 2,
      s"wordNgrams=$wordNgrams not in {1, 2}")
    // single-token guard: sequence(1, 0) DESCENDS in Spark (step picks
    // the direction), so the bigram lattice must be gated, not relied
    // on to come back empty. The token array is LET-BOUND (Det.let):
    // un-bound, every element_at in the bigram lambda re-splits the
    // document — interpreted HOFs have no CSE (the winnowFingerprints
    // lesson, same fix).
    val features =
      if (wordNgrams == 1) split(text, " ")
      else graft.util.Det.let(split(text, " ")) { tk =>
        concat(tk, when(size(tk) >= 2,
          transform(sequence(lit(1), size(tk) - 1),
            i => concat_ws(" ", element_at(tk, i), element_at(tk, i + 1))))
          .otherwise(array()))
      }
    df.select(id.as("doc_id"), explode(features).as("__token"))
      .withColumn("bucket", substring(md5(col("__token")), 1, bucketNibbles))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("n"))
  }

  /** Vocabulary-pruning APPLY step — the transform behind the
    * `min_frequency` knob every tokenizer trainer exposes (the
    * llm_vocab_coverage key PRICES the cutoff; this materializes it):
    * every token whose corpus count is below `permille`/1000 of the
    * total token mass is replaced by `unk`, and the doc is re-assembled
    * in original order. The threshold is RELATIVE (count·1000 <
    * permille·total, an exact integer comparison — no float near the
    * boundary), so the same call is meaningful at any corpus scale.
    * Output: (doc_id, pruned_text, n_unk).
    *
    * Scale shape: one token-frequency aggregate (vocab-sized,
    * Heaps-law — its join back to the token stream is a plain shuffle
    * equi-join, deliberately NOT broadcast-hinted; AQE may still
    * broadcast when it genuinely fits), re-assembly via per-doc
    * sort_array(collect_list(struct(pos, tok))) — bounded by doc
    * length, never a global sort. */
  def vocabPruneApply(df: DataFrame, id: Column, text: Column,
      permille: Long = 10, unk: String = "<unk>"): DataFrame = {
    require(permille >= 0 && permille <= 1000,
      s"permille=$permille out of range [0, 1000]")
    val tk = df.select(id.as("doc_id"),
      posexplode(split(text, " ")).as(Seq("pos", "tok")))
    val freq = tk.groupBy("tok").agg(count(lit(1)).as("__n"))
    val tot = tk.agg(count(lit(1)).as("__t"))
    val rare = freq.crossJoin(broadcast(tot))
      .filter(col("__n") * 1000 < col("__t") * permille)
      .select(col("tok"), lit(true).as("__rare"))
    tk.join(rare, Seq("tok"), "left")
      .select(col("doc_id"), col("pos"),
        when(col("__rare"), lit(unk)).otherwise(col("tok")).as("__t2"),
        coalesce(col("__rare"), lit(false)).as("__r"))
      .groupBy("doc_id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("__t2")))),
          s => s.getField("__t2"))).as("pruned_text"),
        sum(when(col("__r"), 1L).otherwise(0L)).as("n_unk"))
  }

  /** Materialized temperature sampling (α = 0.5) — the APPLY step of
    * the domain-weights computation: each group's share of the `budget`
    * is ∝ √n (upsampling small domains, the multilingual mixing rule),
    * and the rows taken are the first n_take of the group's
    * deterministic salted-hash order — so every training run samples
    * the SAME documents, and a re-salt is a fresh epoch with zero
    * layout change. √n terms round 6 dp into DECIMAL before the
    * normalizing sum (order-free denominator, SURVEY §7.2.2).
    *
    * Quota arithmetic is largest-remainder (Hamilton): each group takes
    * ⌊share⌋, and the budget − Σ⌊share⌋ leftover seats go to the
    * largest fractional remainders (group-name tie-break), so
    * Σ n_take == min(budget, corpus size) EXACTLY — per-group HALF_UP
    * rounding would drift by up to ~|groups|/2 seats. The one residual
    * under-fill: a group whose √n-inflated quota exceeds its own row
    * count takes all its rows and the unmet seats are NOT re-offered
    * (saturation can only under-fill, never over-fill; re-offering
    * would need an unbounded reallocation loop for a correction smaller
    * than the α-mixing distortion itself).
    *
    * Scale shape: a |groups|-row aggregate broadcast back, one window
    * partitioned BY GROUP (per-group sort, no global sort — the
    * shuffleShard discipline; the remainder rank is a window over the
    * |groups|-row quota frame, bounded by construction). Output: the
    * input rows of the sample. */
  def temperatureSample(df: DataFrame, id: Column, group: Column,
      budget: Int, salt: String = "sample"): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perG = df.groupBy(group.as("__g")).agg(count(lit(1)).as("__n"))
      .withColumn("__sq",
        round(sqrt(col("__n")), 6).cast(DecimalType(18, 6)))
    val tot = perG.agg(sum(col("__sq")).as("__tot"))
    val based = perG.crossJoin(broadcast(tot))
      .select(col("__g"), col("__n"),
        (col("__sq").cast("double") / col("__tot").cast("double")
          * budget).as("__share"))
      .withColumn("__base", floor(col("__share")))
    val leftT = based.agg((lit(budget.toLong) - sum(col("__base")))
      .as("__left"))
    // Σ⌊share⌋ ≤ Σshare ≈ budget ⇒ 0 ≤ __left ≤ |groups|
    val wR = Window.orderBy((col("__share") - col("__base")).desc,
      col("__g"))
    val take = based.crossJoin(broadcast(leftT))
      .withColumn("__rk", row_number().over(wR))
      .select(col("__g"),
        least(col("__base") +
            when(col("__rk") <= col("__left"), 1L).otherwise(0L),
          col("__n")).cast("int").as("__take"))
    val w = Window.partitionBy(group)
      .orderBy(md5(concat(lit(s"$salt:"), id.cast("string"))), id)
    df.withColumn("__rn", row_number().over(w))
      .join(broadcast(take), group === col("__g"))
      .filter(col("__rn") <= col("__take"))
      .drop("__g", "__take", "__rn")
  }

  /** Snapshot diff — the nightly "what changed between crawls" audit a
    * dataset card links to: per `group` (e.g. source), how many docs
    * were added (id only in the new snapshot), removed (only in the
    * old), changed (same id, different content hash) and unchanged.
    * Content comparison is by md5, so document BYTES never ride the
    * diff join — the shuffle carries (id, 32-byte hash, group), and the
    * one full-outer join is id-keyed. Output: (group, n_added,
    * n_removed, n_changed, n_unchanged). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, id: Column,
      text: Column, group: Column): DataFrame = {
    // presence is tracked by explicit flags, not hash nullness: a row
    // PRESENT with NULL text has md5 = NULL and would otherwise read as
    // "side absent"; content equality is the null-safe <=> so NULL vs
    // NULL counts as unchanged and NULL vs value as changed
    val o = oldDf.select(id.as("__id"), md5(text).as("__oh"),
      group.as("__og"), lit(true).as("__op"))
    val n = newDf.select(id.as("__id"), md5(text).as("__nh"),
      group.as("__ng"), lit(true).as("__np"))
    o.join(n, Seq("__id"), "full_outer")
      .select(coalesce(col("__ng"), col("__og")).as("group"),
        when(col("__op").isNull, "added")
          .when(col("__np").isNull, "removed")
          .when(!(col("__oh") <=> col("__nh")), "changed")
          .otherwise("unchanged").as("__st"))
      .groupBy("group")
      .agg(sum(when(col("__st") === "added", 1L).otherwise(0L))
          .as("n_added"),
        sum(when(col("__st") === "removed", 1L).otherwise(0L))
          .as("n_removed"),
        sum(when(col("__st") === "changed", 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("__st") === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"))
  }

  /** Mixture / epoch plan — the token-budget companion of
    * [[temperatureSample]] and the data-recipe table a training run is
    * configured from (the LLaMA-style "epochs per source" sheet): given
    * per-group token totals n_g, α = 0.5 temperature weights
    * w_g ∝ √n_g (small domains upsampled), and a TOKEN budget, the plan
    * says how many tokens each group contributes and therefore how many
    * passes (epochs, the repeat factor) over that group the run makes.
    *
    * Quota arithmetic is the exact largest-remainder (Hamilton) kit
    * from [[temperatureSample]]: ⌊share⌋ each + leftover tokens to the
    * largest fractional remainders (group tie-break), so
    * Σ quota_tokens == budget EXACTLY. A group whose quota implies more
    * than `maxEpochs` passes is CAPPED at ⌊maxEpochs·n_g⌋ tokens
    * (over-repeating a tiny domain memorizes it); the freed tokens are
    * reported in the `capped` flag + quota/plan delta, NOT silently
    * re-offered — re-offering needs an unbounded water-filling loop
    * (production iterates this plan; each iteration is this operator).
    *
    * Determinism: √n rounds 6 dp into DECIMAL before the normalizing
    * sum (order-free denominator); shares go through the same IEEE
    * double chain as the SQL oracle (DECIMAL→double divide → ×budget);
    * epochs is one raw double divide rounded 4 dp. Scale shape: one
    * corpus-sized partial+final aggregate to |groups| rows; everything
    * after is windows/joins over the broadcast |groups|-row frame —
    * bounded by construction. Output: (group, n_tokens, weight,
    * quota_tokens, capped, plan_tokens, epochs). */
  def mixturePlan(df: DataFrame, tokens: Column, group: Column,
      budget: Long, maxEpochs: Double = 4.0): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(budget > 0, s"budget=$budget must be positive")
    require(maxEpochs > 0, s"maxEpochs=$maxEpochs must be positive")
    // PINNED (r16): the |groups|-row per-group totals feed the
    // grand-total aggregate AND the share frame (which is itself read
    // twice — remainder count + final select); unpinned, the
    // corpus-sized aggregate subtree replayed under every consumer
    // (the mixture keys' executed plans carried up to 20 parquet
    // scans). One corpus aggregate job; everything downstream reads
    // the bounded pin.
    val perG = graft.util.Pin(
      df.groupBy(group.as("group"))
        .agg(sum(tokens.cast("long")).as("n_tokens"))
        .withColumn("__sq",
          round(sqrt(col("n_tokens")), 6).cast(DecimalType(18, 6))))
    val tot = perG.agg(sum(col("__sq")).as("__tot"))
    val based = perG.crossJoin(broadcast(tot))
      .withColumn("weight",
        round(col("__sq").cast("double") / col("__tot").cast("double"), 6))
      .withColumn("__share",
        col("__sq").cast("double") / col("__tot").cast("double") * budget)
      .withColumn("__base", floor(col("__share")))
    val leftT = based.agg((lit(budget) - sum(col("__base"))).as("__left"))
    val wR = Window.orderBy((col("__share") - col("__base")).desc,
      col("group"))
    based.crossJoin(broadcast(leftT))
      .withColumn("__rk", row_number().over(wR))
      .withColumn("quota_tokens",
        col("__base") + when(col("__rk") <= col("__left"), 1L).otherwise(0L))
      .withColumn("__cap", floor(col("n_tokens") * maxEpochs))
      .withColumn("capped", col("quota_tokens") > col("__cap"))
      .withColumn("plan_tokens",
        least(col("quota_tokens"), col("__cap")))
      .select(col("group"), col("n_tokens"), col("weight"),
        col("quota_tokens"), col("capped"), col("plan_tokens"),
        round(col("plan_tokens").cast("double") /
          col("n_tokens").cast("double"), 4).as("epochs"))
  }

  /** The APPLY step of [[mixturePlan]] — the plan MATERIALIZED as the
    * (doc_id, group, epoch) training stream: each group replays its
    * whole membership ⌊plan/n⌋ times (the full epochs) and then a
    * deterministic salted-hash-ordered PREFIX of docs whose preceding
    * token cumsum is under the remainder (the partial epoch — the
    * streaming-packing boundary convention: the doc that crosses the
    * line is included, so every group overshoots by < 1 doc and never
    * under-delivers a mid-doc fragment). Same replay set every run; a
    * re-salt reshuffles which docs land in the partial epoch — the
    * [[temperatureSample]] reproducibility rule applied to epochs.
    * Output: (doc_id, group, epoch), epoch 1-based.
    *
    * Scale shape: the plan is a |groups|-row broadcast; full epochs
    * are an in-row sequence explode (output-sized, no shuffle); the
    * partial prefix is ONE window partitioned BY GROUP in hash order —
    * per-group sort, never global (the shuffleShard discipline). */
  def mixtureApply(df: DataFrame, id: Column, tokens: Column,
      group: Column, budget: Long, maxEpochs: Double = 4.0,
      salt: String = "mix"): DataFrame = {
    val plan = mixturePlan(df, tokens, group, budget, maxEpochs)
      .select(col("group"), col("n_tokens"), col("plan_tokens"))
    val d = df.select(id.as("doc_id"), tokens.cast("long").as("__tk"),
      group.as("group"))
    val j = d.join(broadcast(plan), "group")
      .withColumn("__full",
        floor(col("plan_tokens") / col("n_tokens")).cast("long"))
      .withColumn("__rem",
        col("plan_tokens") - col("__full") * col("n_tokens"))
    val w = Window.partitionBy("group")
      .orderBy(md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))),
        col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // ONE pass (r16): a doc's epoch count is __full plus 1 iff its
    // preceding cumsum sits under the remainder, so the previous
    // fulls ∪ partial spelling — which consumed the corpus-sized join
    // TWICE (explode branch + window branch) — collapses to a single
    // windowed pass exploding sequence(1, n). Identical output set:
    // fulls contributed epochs 1..__full, partial contributed epoch
    // __full+1 for exactly the prefix docs. The n >= 1 filter guards
    // the explode (sequence(1, 0) DESCENDS — the hashFeatures rule).
    j.withColumn("__cum", sum(col("__tk")).over(w))
      .withColumn("__n", col("__full") +
        when(col("__cum") - col("__tk") < col("__rem"), 1L)
          .otherwise(0L))
      .filter(col("__n") >= 1)
      .select(col("doc_id"), col("group"),
        explode(sequence(lit(1L), col("__n"))).as("epoch"))
  }

  /** Quality-annealed curriculum schedule (Bengio et al. 2009
    * curriculum learning, public; the data-side spelling used by
    * staged pre-training runs): epoch e of E trains on the documents
    * whose quality `score` sits above the corpus's (1 − e/E) quantile,
    * so the run starts on the cleanest quarter and anneals to the full
    * corpus by the last epoch. Output: (epoch, cutoff, n_docs,
    * n_tokens) — the schedule sheet, one row per epoch, cutoff the
    * exact interpolated quantile the epoch filters by.
    *
    * Scale shape: the E cutoffs come from ONE exact-percentile
    * aggregate over the score column ([[graft.ops.Curation]]'s
    * length-buckets discipline — no global sort; Spark's percentile is
    * a single-pass partial aggregate); membership is a broadcast of
    * the E-row cutoff frame against the corpus and one
    * map-side-combinable count/sum per epoch. Integer scores make the
    * quantile arithmetic engine-stable. */
  def curriculumPlan(df: DataFrame, score: Column, tokens: Column,
      epochs: Int): DataFrame =
    curriculumMembers(df.select(score.as("__s"),
        tokens.cast("long").as("__tk"), lit(0L).as("__id")), epochs)
      .groupBy("epoch", "cutoff")
      .agg(count(lit(1)).as("n_docs"), sum(col("__tk")).as("n_tokens"))
      .select(col("epoch"), col("cutoff"), col("n_docs"), col("n_tokens"))

  /** The APPLY step of [[curriculumPlan]]: the (doc_id, epoch)
    * training-stream membership — a doc above the epoch-e cutoff
    * appears with that epoch number; the cleanest docs appear in every
    * epoch (their repeat count IS the annealing). Same plan shape as
    * the plan sheet; output is Σ_e n_docs(e) rows. */
  def curriculumApply(df: DataFrame, id: Column, score: Column,
      epochs: Int): DataFrame =
    curriculumMembers(df.select(score.as("__s"), lit(0L).as("__tk"),
        id.as("__id")), epochs)
      .select(col("__id").as("doc_id"), col("epoch"))

  /** Shared membership frame: (epoch, cutoff, __s, __tk, __id) rows for
    * every (doc, epoch) pair passing the epoch's quantile cutoff. */
  private def curriculumMembers(d: DataFrame, epochs: Int): DataFrame = {
    require(epochs >= 1, s"epochs=$epochs must be positive")
    val qCols = (1 to epochs).map(e =>
      percentile(col("__s"), lit(1.0 - e.toDouble / epochs)).as(s"__q$e"))
    val qs = d.agg(qCols.head, qCols.tail: _*)
    val cuts = qs.select(explode(array((1 to epochs).map(e =>
        struct(lit(e).as("epoch"), col(s"__q$e").as("cutoff"))): _*))
        .as("__c"))
      .select(col("__c.epoch").as("epoch"), col("__c.cutoff").as("cutoff"))
    d.crossJoin(broadcast(cuts))
      .filter(col("__s").cast("double") >= col("cutoff"))
  }

  /** Distinct unigram counts of a corpus: (token, c). One explode + one
    * map-side-combinable groupBy; the output is the Heaps-bounded
    * vocabulary, ≪ corpus. */
  private def tokenCounts(df: DataFrame, text: Column): DataFrame =
    df.select(explode(split(text, " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("c"))

  /** Unigram-distribution drift between two corpus snapshots — the
    * "did this refresh change what the model will read" monitor that
    * complements [[snapshotDiff]]: the diff counts added/removed/changed
    * DOCUMENTS, this measures how far the token DISTRIBUTION moved
    * (a crawl can replace half its docs with near-identical text — huge
    * doc diff, zero drift — or keep every id and silently shift topic
    * mix). Per token: counts on each side and the token's contribution
    * to the Jensen–Shannon divergence JS(P‖Q) = ½KL(P‖M) + ½KL(Q‖M),
    * M = (P+Q)/2 (Lin 1991, public) — JS is symmetric and finite even
    * for tokens present on only one side (where KL alone degenerates),
    * which is exactly the vocabulary-churn case a drift monitor exists
    * for.
    *
    * Determinism: probabilities are one IEEE double divide of exact
    * integer counts; each token's contribution rounds to an integer
    * NANO unit (round(x·10⁹), the micro-log discipline at drift
    * magnitudes — per-token contributions are tiny), so the corpus
    * total Σ js_nano in [[driftSummary]] is an exact integer sum,
    * addition-order-free across engines. Tokens absent from a side
    * contribute only the other side's ½·p·ln 2 term (0·ln 0 = 0).
    *
    * Scale shape: two corpus-sized explode+count aggregates (map-side
    * combinable) down to vocab-sized frames; totals come from the
    * count frames (1-row broadcasts), never a second corpus pass; the
    * one join is a vocab-sized full-outer on token. Output: (token,
    * c_old, c_new, js_nano), unordered. */
  def tokenDrift(oldDf: DataFrame, newDf: DataFrame,
      text: Column): DataFrame =
    driftFromCounts(tokenCounts(oldDf, text), tokenCounts(newDf, text))

  /** [[tokenDrift]] over pre-aggregated (token, c) count frames — the
    * shared core that lets the nightly path compare against a
    * PERSISTED reference vocabulary without re-reading the reference
    * corpus ([[driftAgainstCounts]]). */
  private def driftFromCounts(co: DataFrame, cn: DataFrame): DataFrame = {
    val to = co.agg(sum(col("c")).as("__t"))
    val tn = cn.agg(sum(col("c")).as("__t"))
    val o = co.crossJoin(broadcast(to)).select(col("token"),
      col("c").as("c_old"),
      (col("c").cast("double") / col("__t").cast("double")).as("__p"))
    val n = cn.crossJoin(broadcast(tn)).select(col("token"),
      col("c").as("c_new"),
      (col("c").cast("double") / col("__t").cast("double")).as("__q"))
    o.join(n, Seq("token"), "full_outer")
      .select(col("token"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"),
        coalesce(col("__p"), lit(0.0)).as("__p"),
        coalesce(col("__q"), lit(0.0)).as("__q"))
      .select(col("token"), col("c_old"), col("c_new"),
        jsNano(col("__p"), col("__q")).as("js_nano"))
  }

  /** One token's Jensen–Shannon contribution in integer nanos (0·ln 0
    * handled; exact order-free sums downstream). */
  private def jsNano(p: Column, q: Column): Column = {
    val m = (p + q) / lit(2.0)
    round((lit(0.5) * when(p > 0.0, p * log(p / m)).otherwise(lit(0.0))
      + lit(0.5) * when(q > 0.0, q * log(q / m)).otherwise(lit(0.0)))
      * lit(1e9)).cast("long")
  }

  /** One-row roll-up of [[tokenDrift]] — the number a dashboard alerts
    * on: total JS divergence (exact integer sum of the per-token nano
    * contributions; 0 = identical distributions, ln 2 ≈ 6.93×10⁸ nano
    * = disjoint), token totals, vocabulary sizes and churn. Output:
    * (n_tokens_old, n_tokens_new, vocab_old, vocab_new, vocab_added,
    * vocab_removed, js_total_nano). */
  def driftSummary(oldDf: DataFrame, newDf: DataFrame,
      text: Column): DataFrame =
    summarizeDrift(tokenDrift(oldDf, newDf, text))

  private def summarizeDrift(drift: DataFrame): DataFrame =
    drift.agg(
      sum(col("c_old")).as("n_tokens_old"),
      sum(col("c_new")).as("n_tokens_new"),
      sum(when(col("c_old") > 0, 1L).otherwise(0L)).as("vocab_old"),
      sum(when(col("c_new") > 0, 1L).otherwise(0L)).as("vocab_new"),
      sum(when(col("c_old") === 0, 1L).otherwise(0L)).as("vocab_added"),
      sum(when(col("c_new") === 0, 1L).otherwise(0L)).as("vocab_removed"),
      sum(col("js_nano")).as("js_total_nano"))

  /** Per-GROUP drift drill-down — which source/language/shard drove the
    * corpus-level number: [[driftSummary]] computed independently
    * within each `group`, each group's distributions normalized over
    * its OWN token mass (so a big source can't mask a small source's
    * collapse). A group absent from one side keeps only its present
    * side's ½·p·ln 2 terms — total ½·ln 2, the ceiling of the one-sided
    * KL half — the vanished-crawl case the drill-down exists to
    * surface (a group present on both sides with fully disjoint
    * vocabulary scores the full ln 2). Output: one [[driftSummary]]
    * row per group.
    *
    * Scale shape: per-group counts are one map-side-combinable
    * aggregate each; group totals are |groups|-row broadcasts; the one
    * vocab-sized join is a (group, token) full-outer. Pairs with the
    * doc-level [[snapshotDiff]] over the same snapshots: diff counts
    * documents, this weighs distributions. */
  def driftByGroup(oldDf: DataFrame, newDf: DataFrame, text: Column,
      group: Column): DataFrame = {
    def cnts(df: DataFrame): DataFrame =
      df.select(group.as("group"), explode(split(text, " ")).as("token"))
        .filter(col("token") =!= "")
        .groupBy("group", "token").agg(count(lit(1)).as("c"))
    val co = cnts(oldDf)
    val cn = cnts(newDf)
    val to = co.groupBy("group").agg(sum(col("c")).as("__t"))
    val tn = cn.groupBy("group").agg(sum(col("c")).as("__t"))
    val o = co.join(broadcast(to), "group")
      .select(col("group"), col("token"), col("c").as("c_old"),
        (col("c").cast("double") / col("__t").cast("double")).as("__p"))
    val n = cn.join(broadcast(tn), "group")
      .select(col("group"), col("token"), col("c").as("c_new"),
        (col("c").cast("double") / col("__t").cast("double")).as("__q"))
    o.join(n, Seq("group", "token"), "full_outer")
      .select(col("group"),
        coalesce(col("c_old"), lit(0L)).as("c_old"),
        coalesce(col("c_new"), lit(0L)).as("c_new"),
        coalesce(col("__p"), lit(0.0)).as("__p"),
        coalesce(col("__q"), lit(0.0)).as("__q"))
      .groupBy("group")
      .agg(sum(col("c_old")).as("n_tokens_old"),
        sum(col("c_new")).as("n_tokens_new"),
        sum(when(col("c_old") > 0, 1L).otherwise(0L)).as("vocab_old"),
        sum(when(col("c_new") > 0, 1L).otherwise(0L)).as("vocab_new"),
        sum(when(col("c_old") === 0, 1L).otherwise(0L)).as("vocab_added"),
        sum(when(col("c_new") === 0, 1L).otherwise(0L))
          .as("vocab_removed"),
        sum(jsNano(col("__p"), col("__q"))).as("js_total_nano"))
  }

  // === Persisted reference vocabulary — the nightly drift monitor ====
  // The drift monitor's production shape: the reference corpus's token
  // counts persist once; every new slice compares against the stored
  // (token, c) frame — the reference corpus is never re-read. Counts
  // are ADDITIVE, so the accept step appends the delta's counts as
  // extra rows and reads collapse generations by sum (the count-min
  // cells discipline applied to the vocabulary): append IS the merge.

  /** Persist a corpus's token counts as the drift reference at `path`. */
  def writeTokenCounts(df: DataFrame, text: Column, path: String): Unit =
    tokenCounts(df, text).write.mode("overwrite").parquet(path)

  /** The nightly accept step: count ONLY the delta shard and append its
    * (token, c) rows — additivity makes this the whole merge. */
  def appendToTokenCounts(df: DataFrame, text: Column,
      path: String): Unit =
    tokenCounts(df, text).write.mode("append").parquet(path)

  /** Read the reference vocabulary, collapsing append generations by
    * per-token sum. Output: (token, c). */
  def readTokenCounts(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path).groupBy("token").agg(sum("c").as("c"))

  /** Compact appended generations to one row per token + one rewrite
    * (vocab-sized — a file-count concern, never correctness; reads are
    * generation-blind). Committed through [[graft.util.Swap]]. Not
    * concurrent-safe with appends/reads. */
  def compactTokenCounts(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    readTokenCounts(spark, path).write.mode("overwrite")
      .parquet(graft.util.Swap.next(path))
    graft.util.Swap.promote(spark, path)
  }

  /** Per-token drift of a new slice against the PERSISTED reference
    * vocabulary — [[tokenDrift]] with the old side read from `path`
    * (reference corpus never re-read; the slice is the only corpus
    * pass). Same output contract as [[tokenDrift]]. */
  def driftAgainstCounts(newDf: DataFrame, text: Column,
      path: String): DataFrame =
    driftFromCounts(readTokenCounts(newDf.sparkSession, path),
      tokenCounts(newDf, text))

  /** One-row [[driftSummary]] of a new slice vs the persisted
    * reference — the number the nightly monitor alerts on. */
  def driftSummaryAgainstCounts(newDf: DataFrame, text: Column,
      path: String): DataFrame =
    summarizeDrift(driftAgainstCounts(newDf, text, path))

  /** Deterministic train/val/test split by salted hash of `key` — the
    * export-time assignment every training pipeline needs: membership
    * is a pure function of (salt, key), so re-runs, backfills and
    * incremental appends land every row in the SAME split with zero
    * coordination state ([[shuffleShard]]'s no-RNG rule applied to
    * splitting). The gate is EXACT integer arithmetic on the 32-bit
    * md5 prefix — u·1000 < permille·2³² (u < 2³², so the product stays
    * far under 2⁶³) — no float near a boundary, bit-identical in any
    * engine. `valPermille`/`testPermille` are thousandths; the rest is
    * train. Output: input columns + `split` ∈ {train, val, test}.
    *
    * CAVEAT the leakage audit measures: keying on a per-doc id puts
    * near-duplicate documents in INDEPENDENT splits — a near-copy of a
    * training doc lands in test with probability ≈ test share, and the
    * eval leaks. Key on a duplicate-cluster representative instead:
    * [[splitLeakageSafe]]. */
  def splitAssign(df: DataFrame, key: Column, salt: String = "split",
      valPermille: Int = 100, testPermille: Int = 100): DataFrame = {
    require(valPermille >= 0 && testPermille >= 0 &&
      valPermille + testPermille < 1000,
      s"val=$valPermille + test=$testPermille permille must leave " +
        "train mass")
    val Two32 = 4294967296L
    val u = conv(substring(md5(concat(lit(salt), lit("|"),
      key.cast("string"))), 1, 8), 16, 10).cast("long")
    df.withColumn("split",
      when(u * 1000L < lit(testPermille.toLong * Two32), "test")
        .when(u * 1000L <
          lit((testPermille.toLong + valPermille.toLong) * Two32), "val")
        .otherwise("train"))
  }

  /** STRATIFIED split with EXACT per-group quotas — [[splitAssign]]'s
    * complement for building eval sets: the hash gate gives each group
    * only ≈permille shares (binomial wobble a small source feels), this
    * gives exactly ⌊n_g·test/1000⌋ test rows and
    * ⌊n_g·(test+val)/1000⌋ − ⌊n_g·test/1000⌋ val rows per group
    * (CUMULATIVE floors — the two gates tile the rank range with no
    * gap), at the price that membership depends on the group's census
    * (an
    * APPENDED doc can displace an old one across the boundary —
    * splitAssign's stability is the trade; pick per use). Assignment is
    * deterministic: docs order by salted md5 within their group (id
    * tie-break, the [[temperatureSample]] convention) and the first
    * quota ranks go to test, then val; the quota gate is the EXACT
    * integer cross-multiplication rn·1000 ≤ n_g·permille — no float,
    * no rounding mode to disagree on.
    *
    * Scale shape: one per-group rank window (each group sorts
    * independently — no global sort), one |groups|-row broadcast count
    * join. Output: input columns + `split`. */
  def splitStratified(df: DataFrame, id: Column, group: Column,
      salt: String = "split", valPermille: Int = 100,
      testPermille: Int = 100): DataFrame = {
    require(valPermille >= 0 && testPermille >= 0 &&
      valPermille + testPermille < 1000,
      s"val=$valPermille + test=$testPermille permille must leave " +
        "train mass")
    val base = df.withColumn("__g", group)
    val counts = base.groupBy("__g").agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col("__g"))
      .orderBy(md5(concat(lit(s"$salt:"), id.cast("string"))), id)
    base.withColumn("__rn", row_number().over(w))
      .join(broadcast(counts), "__g")
      .withColumn("split",
        when(col("__rn") * 1000L <= col("__n") * testPermille.toLong,
          "test")
          .when(col("__rn") * 1000L <=
            col("__n") * (testPermille.toLong + valPermille.toLong), "val")
          .otherwise("train"))
      .drop("__g", "__rn", "__n")
  }

  /** LEAKAGE-SAFE split: [[splitAssign]] keyed on each doc's duplicate-
    * CLUSTER representative, so a near-dup cluster travels to ONE split
    * and no eval row has a training-set twin (the decontamination rule
    * applied at split time, where it is free — dedup already computed
    * the clusters). `clusters` is a (node, cluster_id) frame
    * ([[TextDedup.clusters]]); docs outside every cluster key on their
    * own id. The cluster join is a plain equi-join (the cluster frame
    * is dup-bounded, usually tiny — AQE broadcasts when it fits).
    * Output: input columns + `split`. */
  def splitLeakageSafe(df: DataFrame, id: Column, clusters: DataFrame,
      salt: String = "split", valPermille: Int = 100,
      testPermille: Int = 100): DataFrame = {
    val withKey = df.withColumn("__sid", id)
      .join(clusters.select(col("node").as("__sid"),
        col("cluster_id").as("__scl")), Seq("__sid"), "left")
      .withColumn("__skey", coalesce(col("__scl"), col("__sid")))
    splitAssign(withKey, col("__skey"), salt, valPermille, testPermille)
      .drop("__sid", "__scl", "__skey")
  }
}
