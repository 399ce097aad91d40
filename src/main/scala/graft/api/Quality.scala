package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.util.Pin

/** Learned quality classifier — the fastText/CCNet-style linear model
  * every production curation stack trains next to its heuristic gates
  * (Wenzek et al. 2020 "CCNet", Joulin et al. 2017 "fastText"; both
  * public): hashed bag-of-token features → logistic regression → filter
  * the corpus by fitted score. The heuristic gates (llm_quality_score,
  * Gopher rules) are recall-oriented; this is the precision layer a
  * labeled seed set buys.
  *
  * Model representation: a (bucket, w_micro) FRAME — weights live with
  * the data plane (16^nibbles rows, broadcast-joined at scoring time),
  * never on the driver; train epochs are pure DataFrame transforms, so
  * the whole fit is a declarative plan chain exactly like [[Bpe.train]]
  * and [[Unigram.train]].
  *
  * Determinism (what makes one epoch DuckDB-oracle-checkable, the house
  * micro-unit discipline):
  *  - weights are integer MICRO-units (w_micro = round(w × 10⁶));
  *  - the margin z_micro = Σ n·w_micro is an exact integer sum —
  *    addition-order-free, so shuffle nondeterminism cannot move it;
  *  - p_micro = round(σ(z)·10⁶) rounds the one transcendental to the
  *    same 6 dp both engines agree on (the [[Unigram]] −ln·10⁶
  *    precedent), and the FIRST epoch from zero weights needs no exp at
  *    all: σ(0)·10⁶ = 500000 exactly;
  *  - the gradient g_micro = Σ n·(p_micro − y·10⁶) is again an exact
  *    integer sum;
  *  - the update rounds lr·(g/n_docs) computed double with lr a power
  *    of two (0.5 default): g_micro < 2⁵³ is double-exact, /n_docs is
  *    one correctly-rounded IEEE op, ×0.5 is exponent arithmetic
  *    (exact) — both engines see bit-identical doubles and round them
  *    HALF-away-from-zero identically.
  *
  * Scale shape: one epoch = two shuffles over the SPARSE feature frame
  * (doc-keyed margin agg, bucket-keyed gradient agg), both map-side
  * combinable; the model frame is 16^nibbles rows (broadcast-sized by
  * construction — the hashing trick fixes the feature space up front,
  * no vocabulary merge, no driver collect anywhere). At 100 TB the
  * corpus-sized feature frame is featurized once ([[Corpus.hashFeatures]])
  * and pinned; each epoch reuses it.
  */
object Quality {

  /** Integer scale of weights/probabilities (micro-units, 6 dp). */
  val Micro = 1000000L

  /** round(σ(z_micro/10⁶)·10⁶): the logistic link at 6 dp. Exact (no
    * exp evaluated) when z_micro = 0 — the all-zero-weights first epoch. */
  private def sigmoidMicro(zMicro: Column): Column =
    round(lit(Micro.toDouble) /
      (lit(1.0) + exp(-zMicro.cast("double") / lit(Micro.toDouble))))
      .cast("long")

  /** Per-doc margin in micro-units under a (bucket, w_micro) model:
    * z_micro = Σ_buckets n·w_micro, exact integer. Docs whose buckets
    * all miss the model (or labeled docs with no features) score 0.
    * Output: (doc_id, z_micro).
    *
    * The model side is BROADCAST-hinted (r15): it is 16^nibbles rows
    * by construction (the hashing trick fixes the feature space up
    * front — the scale argument [[classify]] has always made), but a
    * mid-train model frame's lineage is a chain of merges whose size
    * the planner cannot estimate, so without the hint every epoch's
    * scoring join planned as a SortMergeJoin that SHUFFLED the
    * corpus-sized feature frame on bucket (train_step's plan carried
    * one such exchange + sort per epoch). With the hint the join is
    * map-side and the margin agg's doc_id exchange is the only
    * shuffle — 2 exchanges → 1 per scoring pass, and the corpus never
    * re-partitions to score, which is the shape that matters at
    * 10⁹ docs. The hint is SAFE by construction, not by estimate:
    * [[Corpus.hashFeatures]] bounds the bucket space at 16^6 ≈ 16.7M
    * (the require enforces it), so a model frame can never exceed
    * ~1 GB hashed — the r16 gate for the previously-unbounded hint. */
  def margins(feats: DataFrame, weights: DataFrame): DataFrame =
    feats.join(broadcast(weights.select(col("bucket"),
        col("w_micro").as("__w"))), Seq("bucket"), "left")
      .groupBy("doc_id")
      .agg(sum(col("n") * coalesce(col("__w"), lit(0L))).as("z_micro"))

  /** ONE full-batch gradient-descent epoch of logistic regression over
    * sparse hashed features — the oracle-checked step the iterative
    * [[train]] loop repeats (the [[Bpe]]-merge / [[Unigram]]-EM
    * step+loop pattern).
    *
    *  - `feats`: (doc_id, bucket, n) sparse counts ([[Corpus.hashFeatures]])
    *  - `labels`: (doc_id, y) with y ∈ {0, 1}
    *  - `weights`: (bucket, w_micro) incoming model; an EMPTY frame is
    *    the zero model (missing buckets read as weight 0)
    *  - `lrMicro`: learning rate × 10⁶; keep it a power-of-two multiple
    *    of 10⁶ micro-units (500000 = 0.5 default) so the update
    *    multiply stays IEEE-exact (scaladoc above)
    *
    * Output: (bucket, w_micro) — the union of incoming buckets and
    * buckets that received gradient this epoch.
    *
    * Scale shape: margin agg (doc-keyed) + gradient agg (bucket-keyed),
    * both map-side combinable; the n_docs denominator is a 1-row
    * broadcast; the weight/gradient merge is a model-sized union +
    * sum-groupBy (ONE exchange — see the body comment). Nothing touches
    * the driver. */
  def trainStep(feats: DataFrame, labels: DataFrame, weights: DataFrame,
      lrMicro: Long = 500000L): DataFrame = {
    require(lrMicro > 0, s"lrMicro=$lrMicro must be positive")
    val nDocs = labels.agg(count(lit(1)).as("__nd"))
    // err_micro = p_micro − y·10⁶; labeled docs missing from feats
    // (empty text) still contribute via the left join's zero margin
    val err = labels.select(col("doc_id"), col("y"))
      .join(margins(feats, weights), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (sigmoidMicro(coalesce(col("z_micro"), lit(0L)))
          - col("y").cast("long") * Micro).as("__err"))
    val grad = feats.join(err, "doc_id")
      .groupBy("bucket").agg(sum(col("n") * col("__err")).as("__g"))
    // w' = w − round(lr · (g/n)/10⁶ · 10⁶) = w − round(lr · g/n); the
    // double chain is (g.toDouble / n) * lr with lr = lrMicro/10⁶.
    // The weight/gradient merge is spelled UNION + groupBy (r16), not
    // FULL OUTER join: both sides are unique per bucket (each is a
    // grouped/merged frame), so summing the padded columns reproduces
    // the outer join's coalesce exactly while planning as ONE hash
    // aggregate exchange instead of two sorted exchanges feeding a
    // SortMergeJoin — full outer cannot broadcast, so every epoch of
    // every fold/rate of the train-loop keys paid 2 exchanges + 2
    // sorts for a model-sized merge.
    weights.select(col("bucket"), col("w_micro"),
        lit(0L).as("__g"))
      .unionByName(grad.select(col("bucket"), lit(0L).as("w_micro"),
        col("__g")))
      .groupBy("bucket")
      .agg(sum(col("w_micro")).as("__w"), sum(col("__g")).as("__gs"))
      .crossJoin(broadcast(nDocs))
      .select(col("bucket"),
        (col("__w") -
          round((col("__gs").cast("double")
            / col("__nd").cast("double"))
            * (lrMicro.toDouble / Micro.toDouble)).cast("long"))
          .as("w_micro"))
  }

  /** Train `epochs` full-batch epochs from the zero model. The feature
    * frame is pinned ONCE (corpus-sized — the expensive side) and every
    * epoch reuses it; per-epoch model frames are 16^nibbles rows, pinned
    * only to truncate plan growth, one generation each
    * ([[graft.util.Pin]]).
    *
    * Pinned step-for-step against a pure-Scala reference in ApiSpec;
    * the single-epoch `llm_quality_train_step` key is its oracle-checked
    * step. */
  def train(feats: DataFrame, labels: DataFrame, epochs: Int,
      lrMicro: Long = 500000L): DataFrame = Pin.scope { p =>
    require(epochs >= 1, s"epochs=$epochs must be >= 1")
    val f = p(feats)
    val l = p(labels)
    var model = trainStep(f, l, emptyWeights(feats), lrMicro)
    var e = 1
    while (e < epochs) {
      // shallow-chain fuse rule (r12): a 2-epoch fit needs no
      // intermediate truncation — both epochs land in the final pin job
      if (epochs > 2) model = p.next(model)
      model = trainStep(f, l, model, lrMicro)
      e += 1
    }
    // the scope releases f and l only after the final model is pinned:
    // the lazy model still reads them
    p.keep(p.next(model))
  }

  /** The zero model: an empty (bucket, w_micro) frame — [[trainStep]]'s
    * left join reads every missing bucket as weight 0. */
  def emptyWeights(like: DataFrame): DataFrame = {
    val s = like.sparkSession
    import org.apache.spark.sql.types._
    s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("bucket", StringType),
        StructField("w_micro", LongType))))
  }

  /** Score + classify the corpus under a fitted model, EXP-FREE: σ is
    * monotone, so thresholding the probability at σ(t) ≡ thresholding
    * the integer margin at t — the decision needs no transcendental and
    * is bit-identical everywhere. Output: (doc_id, score_micro, keep).
    * `thresholdMicro` is the margin threshold × 10⁶ (0 ≡ p > 0.5).
    *
    * Scale shape: one doc-keyed agg over the sparse feature frame; the
    * model join is model-sized (broadcast-eligible by construction). */
  def classify(feats: DataFrame, weights: DataFrame,
      thresholdMicro: Long = 0L): DataFrame =
    margins(feats, broadcast(weights))
      .select(col("doc_id"), col("z_micro").as("score_micro"),
        (col("z_micro") > thresholdMicro).as("keep"))

  /** Uncertainty sampling — the active-learning loop's labeling-budget
    * spender (Lewis & Gale 1994, public): the `k` documents whose
    * margin sits closest to the decision boundary are the ones a human
    * label improves the model most on; docs the model is already sure
    * about teach it nothing. Selection ranks by |margin| ascending
    * (doc_id tie-break), EXP-FREE — σ is monotone so distance-to-½ in
    * probability space IS distance-to-0 in margin space, bit-identical
    * everywhere. Output: (rk, doc_id, score_micro), rk 1 = most
    * uncertain.
    *
    * Scale shape: one doc-keyed margin aggregate + a global top-k by
    * TakeOrderedAndProject (each partition keeps k, the driver merges
    * p·k — the dsirSelect rule, never a global sort); the final rank
    * window runs over the ≤k-row frame, bounded by construction. */
  def uncertaintySample(feats: DataFrame, weights: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    import org.apache.spark.sql.expressions.Window
    val top = margins(feats, broadcast(weights))
      .select(col("doc_id"), col("z_micro").as("score_micro"))
      .orderBy(abs(col("score_micro")), col("doc_id"))
      .limit(k)
    top.withColumn("rk", row_number().over(
        Window.orderBy(abs(col("score_micro")), col("doc_id"))))
      .select(col("rk"), col("doc_id"), col("score_micro"))
  }

  /** k-fold CROSS-VALIDATION of the learned filter — the eval loop
    * that decides whether the classifier generalizes before it gates a
    * corpus: deterministic fold assignment (32-bit salted-md5 prefix
    * mod `folds` — a pure function of (salt, doc_id), the
    * [[Corpus.splitAssign]] no-RNG rule), then for each fold an
    * `epochs`-epoch fit on the OTHER folds' labels and an exp-free
    * margin>0 evaluation on the held-out fold. Train-set confusion
    * (the llm_quality_eval key) measures fit; THIS measures
    * generalization — the number that catches an overfit seed rule or
    * a leaky feature before production.
    *
    * Scale shape: the corpus-sized feature frame is pinned ONCE and
    * reused across all `folds`·`epochs` declarative steps; per-fold
    * work is the same two map-side-combinable aggregates as
    * [[trainStep]]; fold count is a constant. All counts exact
    * integers; accuracy is ONE IEEE division — with the fold gate and
    * the epoch chain both engine-reproducible, the whole loop is
    * oracle-checkable. Output: (fold, n_train, n_test, tp, fp, fn, tn,
    * accuracy), fold ascending. */
  def crossValidate(feats: DataFrame, labels: DataFrame, folds: Int = 3,
      epochs: Int = 2, lrMicro: Long = 500000L,
      salt: String = "cv"): DataFrame = Pin.scope { p =>
    require(folds >= 2, s"folds=$folds must be at least 2")
    require(epochs >= 1, s"epochs=$epochs must be at least 1")
    val u = conv(substring(md5(concat(lit(salt), lit("|"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val f = p(feats)
    val l = p(labels.withColumn("__fold", (u % folds).cast("int")))
    val rows = (0 until folds).map { k =>
      val trainLab = l.filter(col("__fold") =!= k)
        .select(col("doc_id"), col("y"))
      val testLab = l.filter(col("__fold") === k)
        .select(col("doc_id"), col("y"))
      var model = trainStep(f, trainLab, emptyWeights(f), lrMicro)
      var e = 1
      while (e < epochs) {
        // shallow chains (epochs <= 2) skip the intermediate pin: the
        // whole 2-epoch fold fuses into the ONE final job (every fold
        // running concurrently — measured ~1.5x at sf0.1, r12), and at
        // depth 2 the un-truncated plan stays small; deeper chains keep
        // the per-epoch truncation (plan doubles per un-pinned epoch);
        // every fold's pins live until the scope's result is pinned
        if (epochs > 2) model = p(model)
        model = trainStep(f, trainLab, model, lrMicro)
        e += 1
      }
      val pred = coalesce(col("z_micro"), lit(0L)) > 0
      testLab.join(margins(f, model), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("n_test"),
          sum(when(pred && col("y") === 1, 1L).otherwise(0L)).as("tp"),
          sum(when(pred && col("y") === 0, 1L).otherwise(0L)).as("fp"),
          sum(when(!pred && col("y") === 1, 1L).otherwise(0L)).as("fn"),
          sum(when(!pred && col("y") === 0, 1L).otherwise(0L)).as("tn"))
        .crossJoin(broadcast(
          trainLab.agg(count(lit(1)).as("n_train"))))
        .withColumn("fold", lit(k))
    }
    val out = rows.reduce(_.unionByName(_))
      .select(col("fold"), col("n_train"), col("n_test"), col("tp"),
        col("fp"), col("fn"), col("tn"),
        ((col("tp") + col("tn")).cast("double")
          / col("n_test").cast("double")).as("accuracy"))
      .orderBy("fold")
    p.keep(p(out))
  }

  /** Persist a fitted (bucket, w_micro) model — the classifier trained
    * on one cadence and served everywhere else (the index-file
    * discipline applied to the quality model, completing the lifecycle
    * family: signatures/substrings/lines/sketches/token-counts all
    * persist, the model that GATES the corpus must too). The frame is
    * 16^nibbles rows — tiny — but it stays a FRAME end to end: write
    * and read are parquet jobs, no driver materialization. */
  def writeModel(weights: DataFrame, path: String): Unit =
    weights.select(col("bucket"), col("w_micro"))
      .write.mode("overwrite").parquet(path)

  /** Read a persisted model for [[classify]]/[[margins]] serving. */
  def readModel(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path).select(col("bucket"), col("w_micro"))

  /** Label-NOISE sensitivity audit — how fast the learned filter
    * degrades as its seed labels corrupt: for each rate, a
    * deterministic cohort of labels flips (the [[Corpus.splitAssign]]
    * exact integer hash gate, so the "noise" is a pure function of
    * (salt, doc_id) and both engines corrupt the SAME docs), the same
    * `epochs`-epoch fit runs on the corrupted labels, and the fitted
    * model evaluates margin>0 against the CLEAN labels. Seed rules are
    * heuristics and human labels disagree — this measures how much of
    * either the filter can absorb before its held-out quality moves,
    * the robustness number a curation review asks for next to
    * [[crossValidate]]'s generalization. Rate 0 reproduces the
    * standard fit exactly (cross-key consistency with the eval key).
    *
    * Scale shape: feature frame pinned ONCE (the [[crossValidate]]
    * discipline); per-rate work = one fit + one doc-keyed eval
    * aggregate. Counts exact integers, accuracy one IEEE division —
    * oracle-checkable end to end. Output: (flip_permille, n_flipped,
    * tp, fp, fn, tn, accuracy), rate ascending. */
  def labelNoiseAudit(feats: DataFrame, labels: DataFrame,
      ratesPermille: Seq[Int] = Seq(0, 100, 300), epochs: Int = 2,
      lrMicro: Long = 500000L,
      salt: String = "noise"): DataFrame = Pin.scope { p =>
    require(ratesPermille.nonEmpty &&
      ratesPermille == ratesPermille.sorted &&
      ratesPermille.forall(r => r >= 0 && r <= 1000),
      s"ratesPermille must be ascending within [0,1000], " +
        s"got $ratesPermille")
    require(epochs >= 1, s"epochs=$epochs must be at least 1")
    val Two32 = 4294967296L
    val u = conv(substring(md5(concat(lit(salt), lit("|"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val f = p(feats)
    val l = p(labels.withColumn("__u", u))
    val rows = ratesPermille.map { rate =>
      val flip = col("__u") * 1000L < lit(rate.toLong * Two32)
      val noisy = l.select(col("doc_id"),
        when(flip, lit(1) - col("y")).otherwise(col("y")).as("y"))
      var model = trainStep(f, noisy, emptyWeights(f), lrMicro)
      var e = 1
      while (e < epochs) {
        // same shallow-chain fuse rule as crossValidate (r12)
        if (epochs > 2) model = p(model)
        model = trainStep(f, noisy, model, lrMicro)
        e += 1
      }
      val nFlipped = l.agg(sum(when(flip, 1L).otherwise(0L))
        .as("n_flipped"))
      val pred = coalesce(col("z_micro"), lit(0L)) > 0
      l.select(col("doc_id"), col("y"))
        .join(margins(f, model), Seq("doc_id"), "left")
        .agg(count(lit(1)).as("__n"),
          sum(when(pred && col("y") === 1, 1L).otherwise(0L)).as("tp"),
          sum(when(pred && col("y") === 0, 1L).otherwise(0L)).as("fp"),
          sum(when(!pred && col("y") === 1, 1L).otherwise(0L)).as("fn"),
          sum(when(!pred && col("y") === 0, 1L).otherwise(0L)).as("tn"))
        .crossJoin(broadcast(nFlipped))
        .withColumn("flip_permille", lit(rate))
    }
    val out = rows.reduce(_.unionByName(_))
      .select(col("flip_permille"), col("n_flipped"), col("tp"),
        col("fp"), col("fn"), col("tn"),
        ((col("tp") + col("tn")).cast("double")
          / col("__n").cast("double")).as("accuracy"))
      .orderBy("flip_permille")
    p.keep(p(out))
  }

  /** Interpretability audit of a fitted model — "what did the filter
    * learn": the k buckets with the largest |weight|, each joined to
    * its corpus profile (how many distinct tokens hash there, plus the
    * lexicographically-first as an exemplar). With the hashing trick a
    * bucket is a feature CLASS, not a single token — the exemplar and
    * count say how coarse the class is, which is exactly what a
    * curation reviewer needs before trusting (or debugging) the model:
    * a huge-|w| bucket holding thousands of tokens is a collision
    * artifact, one holding a handful is a real learned signal.
    *
    * Scale shape: the token inventory is ONE distinct over the
    * vocabulary (Heaps-bounded, map-side combinable), the join is
    * model-sized, and the rank window runs over the ≤k-row frame after
    * a TakeOrderedAndProject top-k — never a corpus or vocabulary sort.
    * Output: (rk, bucket, w_micro, n_tokens, example_token), rk 1 =
    * largest |weight|, bucket tie-break. */
  def topFeatures(docs: DataFrame, text: Column, weights: DataFrame,
      k: Int = 10, bucketNibbles: Int = 1): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(explode(split(text, " ")).as("__tok")).distinct()
      .withColumn("bucket",
        substring(md5(col("__tok")), 1, bucketNibbles))
    val prof = toks.groupBy("bucket")
      .agg(count(lit(1)).as("n_tokens"),
        min(col("__tok")).as("example_token"))
    val top = weights.join(prof, Seq("bucket"), "left")
      .orderBy(abs(col("w_micro")).desc, col("bucket"))
      .limit(k)
    top.withColumn("rk", row_number().over(
        Window.orderBy(abs(col("w_micro")).desc, col("bucket"))))
      .select(col("rk"), col("bucket"), col("w_micro"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("example_token"))
  }

  /** Binned precision/recall curve of a fitted model — the threshold-
    * pricing table a curation run consults before picking the filter's
    * operating point. Scores bucket into integer bins of `binMicro`
    * margin units clamped to [minBin, maxBin]; per-bin label counts
    * come from ONE groupBy (map-side combinable over the corpus-sized
    * score frame), and the cumulative tp/fp walk runs highest-bin-down
    * over the ≤ (maxBin − minBin + 1)-row bin frame — a bounded window,
    * never a global sort over scores (the full ROC-style every-point
    * curve would need one; binning is the scale-correct spelling, and
    * the bin width is the resolution knob). Row at bin b = metrics of
    * the filter "keep iff margin ≥ b·binMicro". Ratios are RAW doubles
    * from single IEEE divisions over exact integer counts. Output:
    * (threshold_micro, tp, fp, fn, precision, recall, f1), highest
    * threshold first; only observed bins appear. */
  def prCurve(feats: DataFrame, labels: DataFrame, weights: DataFrame,
      binMicro: Long = Micro, minBin: Int = -5, maxBin: Int = 5): DataFrame = {
    require(binMicro > 0, s"binMicro=$binMicro must be positive")
    require(minBin < maxBin, s"need minBin < maxBin, got [$minBin, $maxBin]")
    import org.apache.spark.sql.expressions.Window
    val perBin = binLabelCounts(feats, labels, weights, binMicro, minBin,
      maxBin)
    val tot = perBin.agg(sum(col("__pos")).as("__tp_all"))
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBin
      .withColumn("tp", sum(col("__pos")).over(w))
      .withColumn("fp", sum(col("__neg")).over(w))
      .crossJoin(broadcast(tot))
      .select((col("bin") * binMicro).cast("long").as("threshold_micro"),
        col("tp"), col("fp"),
        (col("__tp_all") - col("tp")).as("fn"),
        (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precision"),
        (col("tp").cast("double") / col("__tp_all").cast("double"))
          .as("recall"),
        ((col("tp") * 2).cast("double") /
          (col("tp") * 2 + col("fp") + col("__tp_all") - col("tp"))
            .cast("double")).as("f1"))
      .orderBy(col("threshold_micro").desc)
  }

  /** (bin, __pos, __neg): per-bin label counts of a fitted model's
    * margins over `labels`, binned by `binMicro` and clamped to
    * [minBin, maxBin] (a doc with no features scores 0) — ONE groupBy,
    * map-side combinable over the corpus-sized score frame. */
  private def binLabelCounts(feats: DataFrame, labels: DataFrame,
      weights: DataFrame, binMicro: Long, minBin: Int,
      maxBin: Int): DataFrame =
    labels.join(margins(feats, broadcast(weights)), Seq("doc_id"), "left")
      .select(col("y"),
        greatest(lit(minBin.toLong), least(lit(maxBin.toLong),
          floor(coalesce(col("z_micro"), lit(0L)).cast("double")
            / binMicro.toDouble))).as("bin"))
      .groupBy("bin")
      .agg(sum(col("y").cast("long")).as("__pos"),
        sum(lit(1L) - col("y").cast("long")).as("__neg"))

  /** Binned ROC-AUC of a fitted model — the ranking-quality summary
    * next to [[prCurve]]'s threshold pricing. Margins bucket exactly as
    * in prCurve; the cumulative (fp, tp) walk from the highest bin down
    * visits the binned ROC points in increasing-fpr order, and the
    * trapezoidal area telescopes to the EXACT integer
    * Σ Δfp·(tp_prev + tp_cur) — every term integer, the only float ONE
    * final division by 2·P·N (bit-identical cross-engine). Equivalent
    * to the Mann–Whitney statistic with ties-split-in-half when each
    * bin holds one distinct score. A full every-point ROC would need a
    * global score sort; binning is the scale-correct spelling
    * (prCurve's argument), bin width the resolution knob.
    * Output: 1 row (auc_numer, n_pos, n_neg, auc). */
  def aucBinned(feats: DataFrame, labels: DataFrame, weights: DataFrame,
      binMicro: Long = Micro, minBin: Int = -5, maxBin: Int = 5): DataFrame = {
    require(binMicro > 0, s"binMicro=$binMicro must be positive")
    import org.apache.spark.sql.expressions.Window
    val perBin = binLabelCounts(feats, labels, weights, binMicro, minBin,
      maxBin)
    // bounded ≤(maxBin−minBin+1)-row windows — never a corpus sort
    val cw = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lw = Window.orderBy(col("bin").desc)
    val pts = perBin
      .withColumn("tp", sum(col("__pos")).over(cw))
      .withColumn("fp", sum(col("__neg")).over(cw))
      .withColumn("__tpp", coalesce(lag(col("tp"), 1).over(lw), lit(0L)))
      .withColumn("__fpp", coalesce(lag(col("fp"), 1).over(lw), lit(0L)))
    val tot = perBin.agg(sum(col("__pos")).as("n_pos"),
      sum(col("__neg")).as("n_neg"))
    pts.agg(sum((col("fp") - col("__fpp")) * (col("tp") + col("__tpp")))
        .as("auc_numer"))
      .crossJoin(broadcast(tot))
      .select(col("auc_numer"), col("n_pos"), col("n_neg"),
        (col("auc_numer").cast("double") /
          (col("n_pos") * col("n_neg") * 2).cast("double")).as("auc"))
  }

  /** Per-group operating points — the production refinement of ONE
    * global threshold: each group (domain, source, language) gets the
    * most permissive margin threshold whose binned precision still
    * meets the target, i.e. maximum recall subject to
    * precision ≥ pNumer/pDenom. The precision gate is the EXACT integer
    * cross-multiplication tp·pDenom ≥ (tp+fp)·pNumer — no float
    * comparison anywhere near a boundary. Groups with no qualifying
    * point are absent from the output (no threshold meets the bar).
    * Output: (group, threshold_micro, tp, fp, precision) — precision a
    * raw double from one IEEE division of exact counts.
    *
    * Scale shape: one (group, bin) groupBy (map-side combinable), then
    * per-group cumulative walks over ≤bins rows each — windows
    * partition BY GROUP, never global. */
  def operatingPointsByGroup(feats: DataFrame, labels: DataFrame,
      weights: DataFrame, groups: DataFrame, pNumer: Long = 9,
      pDenom: Long = 10, binMicro: Long = Micro, minBin: Int = -5,
      maxBin: Int = 5): DataFrame = {
    require(binMicro > 0, s"binMicro=$binMicro must be positive")
    require(pNumer >= 0 && pDenom > 0 && pNumer <= pDenom,
      s"precision target $pNumer/$pDenom must be a fraction in [0,1]")
    import org.apache.spark.sql.expressions.Window
    val sc = labels.join(margins(feats, broadcast(weights)),
        Seq("doc_id"), "left")
      .join(groups, "doc_id")
      .select(col("group"), col("y"),
        greatest(lit(minBin.toLong), least(lit(maxBin.toLong),
          floor(coalesce(col("z_micro"), lit(0L)).cast("double")
            / binMicro.toDouble))).as("bin"))
    val perBin = sc.groupBy("group", "bin")
      .agg(sum(col("y").cast("long")).as("__pos"),
        sum(lit(1L) - col("y").cast("long")).as("__neg"))
    val cw = Window.partitionBy("group").orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = perBin
      .withColumn("tp", sum(col("__pos")).over(cw))
      .withColumn("fp", sum(col("__neg")).over(cw))
      .filter(col("tp") * pDenom >= (col("tp") + col("fp")) * pNumer &&
        col("tp") > 0)
    val pick = Window.partitionBy("group").orderBy(col("bin").asc)
    pts.withColumn("__rk", row_number().over(pick))
      .filter(col("__rk") === 1)
      .select(col("group"),
        (col("bin") * binMicro).cast("long").as("threshold_micro"),
        col("tp"), col("fp"),
        (col("tp").cast("double") / (col("tp") + col("fp")).cast("double"))
          .as("precision"))
  }

  /** Reliability diagram of a fitted model — the calibration table a
    * curation run reads before trusting the classifier's probabilities
    * as sampling weights (not just as a threshold): predicted
    * probabilities bucket into `bins` equal-width bins, and each bin
    * reports how many docs landed there, the sum of predicted
    * micro-probabilities, and how many were actually positive. A
    * calibrated model has sum_p_micro ≈ n_pos·10⁶ per bin; the
    * per-bin sums are EXACT integers, so the frame is hash-stable and
    * the mean-vs-rate comparison is a single IEEE division away.
    * Output: (bin, n, sum_p_micro, n_pos) for observed bins;
    * bin = ⌊p·bins⌋ clamped to bins−1 (p = 1 joins the top bin).
    *
    * Scale shape: one doc-keyed margin agg + one ≤`bins`-row groupBy —
    * map-side combinable end to end. */
  def reliability(feats: DataFrame, labels: DataFrame,
      weights: DataFrame, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins=$bins must be at least 2")
    labels.join(margins(feats, broadcast(weights)), Seq("doc_id"), "left")
      .select(col("y"),
        sigmoidMicro(coalesce(col("z_micro"), lit(0L))).as("__p"))
      .groupBy(least(lit(bins.toLong - 1L),
        floor(col("__p") * bins / Micro)).as("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__p")).as("sum_p_micro"),
        sum(col("y").cast("long")).as("n_pos"))
      .orderBy("bin")
  }

  /** Expected calibration error over the [[reliability]] bins:
    * ECE = Σ_b (n_b/N)·|mean_p_b − rate_b|. The numerator telescopes
    * to the EXACT integer Σ_b |sum_p_micro_b − n_pos_b·10⁶| (each
    * bin's n_b cancels), so the only float is ONE final division of
    * exact integers — bit-identical in both engines. Output: 1 row
    * (ece_numer_micro, n_docs, ece). */
  def eceMicro(feats: DataFrame, labels: DataFrame, weights: DataFrame,
      bins: Int = 10): DataFrame =
    reliability(feats, labels, weights, bins)
      .agg(sum(abs(col("sum_p_micro") - col("n_pos") * Micro))
          .as("ece_numer_micro"),
        sum(col("n")).as("n_docs"))
      .select(col("ece_numer_micro"), col("n_docs"),
        (col("ece_numer_micro").cast("double") /
          (col("n_docs") * Micro).cast("double")).as("ece"))

  /** Binary cross-entropy of a model on labeled docs, in micro-nats —
    * the train-loop progress metric (tests assert it decreases).
    * Clamped at 1 micro-probability so log never sees 0. */
  def lossMicroNats(feats: DataFrame, labels: DataFrame,
      weights: DataFrame): DataFrame =
    labels.join(margins(feats, weights), Seq("doc_id"), "left")
      .select(col("y"),
        sigmoidMicro(coalesce(col("z_micro"), lit(0L))).as("__p"))
      .select(
        when(col("y") === 1, greatest(col("__p"), lit(1L)))
          .otherwise(greatest(lit(Micro) - col("__p"), lit(1L))).as("__q"))
      .agg(round(avg(-log(col("__q").cast("double") / Micro.toDouble))
        * Micro.toDouble).cast("long").as("loss_micro"))
}
