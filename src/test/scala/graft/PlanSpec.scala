package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: correctness tests prove the WHAT, these pin
  * the HOW — the plan shapes that survive a 100×–1000× scale-up. A
  * regression that silently turns a broadcast into a shuffle, drops a
  * pushed filter, or introduces a cartesian product fails here, not in
  * production. */
class PlanSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  private val sf = SparkFixture.sf0001

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString

  private def q(name: String): DataFrame =
    SparkEntry.queries(name)(spark, sf)

  test("scan_parquet_pruned: filter and projection reach the parquet scan") {
    val p = plan("scan_parquet_pruned")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"predicate not pushed:\n$p")
    assert(p.contains("ReadSchema") &&
      !p.contains("l_extendedprice"), "projection not pruned to 3 columns")
  }

  test("join_broadcast: bounded dims broadcast, fact side never shuffles " +
      "for the join") {
    val p = plan("join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"expected BHJ:\n$p")
    assert(!p.contains("SortMergeJoin"), "dim join must not sort-merge")
  }

  test("sort_limit_topk: TakeOrderedAndProject, not a global sort") {
    val p = plan("sort_limit_topk")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$p")
  }

  test("agg_groupby_basic: partial (map-side) aggregation before shuffle") {
    val p = plan("agg_groupby_basic")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregate:\n$p")
  }

  test("llm_sim_topk: the fixed query set is broadcast; no cartesian") {
    val p = plan("llm_sim_topk")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"query side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "unbounded cartesian")
  }

  test("sample_exact_n: hash-ordered sample is top-k, not a global sort") {
    assert(plan("sample_exact_n").contains("TakeOrderedAndProject"),
      "ORDER BY md5 LIMIT n must plan as top-k")
  }

  test("llm_dedup_simhash: band join stays bucket-bounded, no cartesian") {
    val p = plan("llm_dedup_simhash")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"simhash pairing must equi-join on (band, value):\n$p")
  }

  test("llm_dedup_near_minhash: LSH plan has no cartesian product") {
    val p = plan("llm_dedup_near_minhash")
    assert(!p.contains("CartesianProduct"),
      s"near-dup must stay bucket-bounded:\n$p")
  }

  test("md5 signature family: every candidate stage is a (band, sig) " +
      "equi-join — no cartesian, no nested loop (the heaviest bench keys " +
      "must stay LSH-bounded)") {
    Seq("llm_dedup_minhash_md5", "llm_dedup_minhash_km",
        "llm_decontaminate_fuzzy", "llm_dedup_cross",
        "llm_dedup_incremental").foreach { k =>
      val p = plan(k)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$k pair space must stay band-bounded:\n$p")
    }
    // the self-join's equi keys are literally (band, sig) — pin them on
    // the in-engine representative so a regression to a theta-join (keys
    // sliding into the residual condition) fails mechanically
    val p = plan("llm_dedup_minhash_md5")
    assert(
      "(?i)(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)\\s*\\[band#[^\\]]*sig#"
        .r.findFirstIn(p).isDefined,
      s"(band, sig) not the equi-join keys:\n$p")
  }

  test("llm_sim_topk_ivfpq: bounded query set broadcasts; codes→cell " +
      "join is an equi-join; no cartesian") {
    val p = plan("llm_sim_topk_ivfpq")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"query side must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"unbounded cartesian:\n$p")
  }

  test("llm_dedup_jaccard / llm_sim_threshold_join: pair generation is an " +
      "equi-join on the bounding key") {
    Seq("llm_dedup_jaccard", "llm_sim_threshold_join").foreach { k =>
      val p = plan(k)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$k must equi-join on its bucket key:\n$p")
    }
  }

  test("join_bucketed: bucketed tables join WITHOUT a join-side shuffle") {
    val df = q("join_bucketed")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the only Exchange allowed is the presentation ORDER BY (range);
    // a hash exchange would mean the bucketing was not exploited
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle on the key:\n$p")
  }

  test("join_interval_bucketized: bucketization turns the range join " +
      "into a hash equi-join — no nested loop, no cartesian") {
    val p = plan("join_interval_bucketized")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"bucketized interval join must be an equi-join:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"expected a hash/sort-merge equi-join on the bucket:\n$p")
  }

  test("llm_curation_pipeline: normalize + gates + dedup in ONE plan — " +
      "only the dedup hash shuffle and the presentation sort") {
    val p = plan("llm_curation_pipeline")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2,
      s"curation pipeline must move data once (dedup hash) + present:\n$p")
  }

  test("tpch_q19: the disjunctive band predicate distributes to BOTH " +
      "scans as per-side prefilters") {
    val p = plan("tpch_q19")
    assert(p.contains("OR ((l_quantity"),
      s"quantity-band union not prefiltering the lineitem scan:\n$p")
    assert(p.contains("OR ((p_brand"),
      s"brand/size-band union not prefiltering the part scan:\n$p")
    assert(!p.contains("CartesianProduct"), "unbounded cartesian")
  }

  test("llm_semdedup: centroids broadcast; pair space equi-key bounded, " +
      "never a cartesian") {
    val p = plan("llm_semdedup")
    assert(!p.contains("CartesianProduct"),
      s"within-cluster pair join must stay equi-key bounded:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"centroids must broadcast:\n$p")
  }

  test("scan_count_pushdown: COUNT/MIN/MAX answered from parquet footer " +
      "stats, not data pages") {
    val p = plan("scan_count_pushdown")
    assert(p.contains("PushedAggregation: [COUNT(*)"),
      s"aggregate not pushed to the parquet scan:\n$p")
  }

  test("tpch_q4: EXISTS plans as a semi-join; date filter reaches the " +
      "orders scan") {
    val p = plan("tpch_q4")
    assert(p.contains("LeftSemi"), s"expected semi-join plan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"orders date filter not pushed to the scan:\n$p")
  }

  test("tpch_q14: one partial+final aggregate, no cartesian") {
    val p = plan("tpch_q14")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregate:\n$p")
    assert(!p.contains("CartesianProduct"), "unbounded cartesian")
  }

  test("join_dpp_partitioned: dim key set prunes fact partitions at runtime") {
    val p = plan("join_dpp_partitioned")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter on the fact scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"selective dim must broadcast (DPP reuses the exchange):\n$p")
  }

  test("window_cumsum: exactly one shuffle (the window partition key)") {
    val p = plan("window_cumsum")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, // window hash + presentation sort range
      s"running total should not add extra shuffles:\n$p")
  }

  test("prep_fillna_mean: held fit statistics broadcast; one customer " +
      "scan, no fit re-run") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val df = q("prep_fillna_mean")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), s"fit stats must broadcast:\n$p")
    val scans = df.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.relation.location.rootPaths.mkString
    }
    assert(scans.size == 1 && scans.head.contains("customer"),
      s"expected one customer scan, got ${scans.mkString(", ")}:\n$p")
  }

  test("whole-stage codegen covers the scalar-function projections") {
    // AQE shows codegen spans only in the FINAL plan — execute first
    Seq("fn_string_basic", "fn_math", "project_conditional").foreach { k =>
      val df = q(k)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // "*(n) Op" is the WholeStageCodegen span marker in simpleString
      assert(p.contains("*("), s"$k fell out of codegen:\n$p")
    }
  }

  test("sink_parquet_partitioned: partition-column filter prunes " +
      "directories at the listing, not row-by-row") {
    val df = q("sink_parquet_partitioned")
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*l_returnflag".r
        .findFirstIn(p).isDefined,
      s"filter on the partition column must be a PartitionFilter:\n$p")
  }

  test("repartition_range: a RangePartitioning exchange feeds the " +
      "locally-sorted partitions (the set_index plan)") {
    val p = plan("repartition_range").toLowerCase
    assert(p.contains("rangepartitioning"),
      s"expected a range-partition exchange:\n$p")
  }

  test("stream_stream_join: user-band pairing is an equi-join, " +
      "never a cartesian") {
    val p = plan("stream_stream_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"band join must hash on user_id:\n$p")
  }

  test("llm_pack_sequences: the pack aggregation REUSES the window's " +
      "source partitioning — one hash shuffle end to end") {
    val p = plan("llm_pack_sequences")
    assert("hashpartitioning".r.findAllIn(p.toLowerCase).size == 1,
      s"groupBy(source, pack_id) must not re-shuffle after the window:\n$p")
  }

  test("llm_lang_id: the vocab-sized probs join carries NO broadcast hint") {
    // the only hint allowed is the 1-row vocabN scalar; the scoring join
    // must be planner's choice (AQE may still pick BHJ at fixture scale —
    // that's runtime stats, not a hard-coded hint that OOMs at web scale)
    val analyzed = SparkEntry.queries("llm_lang_id")(spark, sf)
      .queryExecution.analyzed.toString
    val hints = "ResolvedHint".r.findAllIn(analyzed).size
    assert(hints <= 1, s"expected at most the scalar vocabN hint:\n$analyzed")
  }

  test("llm_sim_topk plan uses the native dot_product_float expression") {
    assert(plan("llm_sim_topk").contains("dot_product_float"),
      "custom codegen expression not in the plan")
  }

  test("llm_dedup_apply candidate stage: join keys include the prefix " +
      "token on a maximally-skewed single-source frame — never the raw " +
      "source bucket alone (quadratic under source skew)") {
    // the final llm_dedup_apply plan can't show this join (clusters()
    // runs it eagerly and truncates lineage), so assert on the candidate
    // stage the key composes, over the skew case the r5 verdict flagged:
    // every doc in ONE source
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val skewed = (0L until 50L)
      .map(i => (i, "only_source", s"tok$i alpha beta gamma delta"))
      .toDF("i", "g", "t")
    val p = graft.api.TextDedup
      .jaccardPrefixFiltered(skewed, col("i"), col("g"), col("t"),
        minJaccard = 0.95)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"candidate stage must stay an equi-join:\n$p")
    assert(
      "(?i)(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)\\s*\\[[^\\]]*__ptok"
        .r.findFirstIn(p).isDefined,
      s"prefix-token key missing from the candidate join:\n$p")
  }

  test("llm_decontaminate: gram match is an equi-join, never a cartesian") {
    val p = plan("llm_decontaminate")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"decontamination pair space must stay gram-bounded:\n$p")
  }

  test("llm_perplexity_bucket: model join unhinted; only 1-row scalars " +
      "(vocab size ×2 branches, quartile bounds) are broadcast by hint") {
    val analyzed = SparkEntry.queries("llm_perplexity_bucket")(spark, sf)
      .queryExecution.analyzed.toString
    // vocabN's scalar hint appears in BOTH consumers of `scores` (the row
    // branch and the quartile-bounds branch) + the bounds broadcast = 3;
    // a 4th would mean someone hinted the vocab-sized probs table
    val hints = "ResolvedHint".r.findAllIn(analyzed).size
    assert(hints <= 3, s"vocab-sized probs must not carry a hint:\n$analyzed")
    assert(!plan("llm_perplexity_bucket").contains("CartesianProduct"))
  }

  test("prep_target_encode: fitted category stats broadcast, no shuffle " +
      "of the encoded table beyond the presentation sort") {
    val p = plan("prep_target_encode")
    assert(p.contains("BroadcastExchange"),
      s"category stats must arrive via broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"transform must not shuffle-join the fact side:\n$p")
  }

  test("prep_interpolate: all five window frames share ONE hash shuffle") {
    val p = plan("prep_interpolate")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1,
      s"expected one shared window shuffle, got $hashEx:\n$p")
  }

  test("tpch_q3: top-k pushes to TakeOrderedAndProject; segment filter " +
      "reaches the customer scan") {
    val p = plan("tpch_q3")
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), " +
      "EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed to scan:\n$p")
  }

  test("tpch_q5: constant-size dims (nation⋈region) broadcast; no " +
      "cartesian anywhere in the 6-table plan") {
    val p = plan("tpch_q5")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in star join:\n$p")
  }

  test("join_bloom_prefilter: bloom probe filters the fact table BEFORE " +
      "the semi-join shuffle") {
    val p = plan("join_bloom_prefilter")
    assert(p.contains("LeftSemi"), s"expected semi join:\n$p")
    // the UDF probe must sit on the lineitem scan side, i.e. appear as a
    // Filter below the join — cheap structural check: filter text present
    assert(p.contains("mightContain") || p.contains("UDF"),
      s"bloom probe missing from plan:\n$p")
  }

  test("agg_histogram: one partial+final aggregate, no extra exchange") {
    val p = plan("agg_histogram")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregate:\n$p")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"expected exactly one shuffle, got $hashEx:\n$p")
  }

  test("agg_corr_matrix: all moments in ONE aggregate pass — no " +
      "per-pair scans, no hash shuffle") {
    val p = plan("agg_corr_matrix")
    assert(!p.contains("Exchange hashpartitioning"),
      s"corr matrix must be one global aggregate:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"corr matrix must scan lineitem exactly once:\n$p")
  }

  test("llm_embed_quantize: map-side only — zero shuffles of any kind") {
    val p = plan("llm_embed_quantize")
    assert(!p.contains("Exchange hashpartitioning"),
      s"int8 quantization must not shuffle:\n$p")
  }

  test("tpch_q7: both nation roles broadcast, ship-date filter pushed, " +
      "no cartesian") {
    val p = plan("tpch_q7")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"both nation roles must broadcast:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"ship-date filter not pushed:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("tpch_q9: LIKE filter reaches the part scan (dim pruned BEFORE " +
      "its join)") {
    val p = plan("tpch_q9")
    assert(p.contains("StringContains(p_name,a)"),
      s"LIKE not pushed to part scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("tpch_q13: residual priority predicate stays ON the left join " +
      "(not a post-filter that would drop zero-order customers)") {
    val p = plan("tpch_q13")
    assert(p.contains("LeftOuter"), s"expected left outer join:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"expected two partial+final aggregate pairs:\n$p")
  }

  test("tpch_q15: 1-row max broadcasts back (no shuffle of the revenue " +
      "aggregate for the equality probe)") {
    val p = plan("tpch_q15")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNested"),
      s"scalar max must broadcast:\n$p")
  }

  test("tpch_q17: brand part-key set broadcasts into both lineitem " +
      "probes; no cartesian") {
    val p = plan("tpch_q17")
    assert(p.contains("BroadcastHashJoin"), s"brand keys must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("tpch_q21: EXISTS compiles to LeftSemi and NOT EXISTS to " +
      "LeftAnti, both as hash joins with the inequality as residual") {
    val p = plan("tpch_q21")
    assert(p.contains("LeftSemi"), s"expected semi join:\n$p")
    assert(p.contains("LeftAnti"), s"expected anti join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin Inner"),
      s"correlation must stay hash-joined:\n$p")
  }

  test("tpch_q1: one scan, one partial+final aggregate — the pure " +
      "partial-aggregation showcase") {
    val p = plan("tpch_q1")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregate:\n$p")
    assert("FileScan".r.findAllIn(p).size == 1,
      s"Q1 must scan lineitem exactly once:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"),
      s"date filter not pushed:\n$p")
  }

  test("tpch_q2: region/nation dims broadcast; size filter reaches the " +
      "part scan; no cartesian in the min-join-back") {
    val p = plan("tpch_q2")
    assert(p.contains("BroadcastHashJoin"), s"dims must broadcast:\n$p")
    assert(p.contains("EqualTo(p_size,25)"),
      s"size filter not pushed to part scan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian:\n$p")
  }

  test("tpch_q16: bad-supplier NOT IN is an anti-join below the part " +
      "join; brand/size filters pushed") {
    val p = plan("tpch_q16")
    assert(p.contains("LeftAnti"), s"expected anti join:\n$p")
    assert(p.contains("In(p_size, [1,4,9,16,25,36,49])") ||
      p.contains("In(p_size"),
      s"size IN-list not pushed to part scan:\n$p")
  }

  test("tpch_q20: qualified suppliers reach supplier as a semi-join; " +
      "name-matched part set broadcasts into lineitem") {
    val p = plan("tpch_q20")
    assert(p.contains("LeftSemi"), s"expected semi join:\n$p")
    assert(p.contains("StringStartsWith(p_name,red)"),
      s"name prefix not pushed to part scan:\n$p")
  }

  test("tpch_q22: the global balance aggregate is a broadcast 1-row " +
      "join, urgent filter sits below the anti-join build") {
    val p = plan("tpch_q22")
    assert(p.contains("LeftAnti"), s"expected anti join:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderpriority), " +
      "EqualTo(o_orderpriority,1-URGENT)"),
      s"urgent filter not pushed to the orders scan:\n$p")
  }

  test("llm_sim_topk_rerank: exact rerank never scans the corpus — the " +
      "candidate frame broadcasts; no cartesian") {
    val p = plan("llm_sim_topk_rerank")
    assert(p.contains("BroadcastHashJoin"),
      s"candidate/query joins must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "unbounded cartesian")
    assert(!p.contains("SortMergeJoin"),
      s"rerank must not shuffle the corpus for the bounded candidates:\n$p")
  }

  test("llm_dedup_substring_apply: removal join is doc-keyed (band as " +
      "residual), never a cartesian") {
    val p = plan("llm_dedup_substring_apply")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"coverage join degenerated to an unbounded pair scan:\n$p")
  }

  test("llm_dedup_substring_delta: index probe is a hash semi-join; no " +
      "cartesian anywhere in the screen") {
    val p = plan("llm_dedup_substring_delta")
    assert(p.contains("LeftSemi"), s"index probe must be a semi-join:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"screen degenerated to an unbounded pair scan:\n$p")
  }

  test("llm_corpus_diff: one id-keyed full-outer join, hashes only") {
    val p = plan("llm_corpus_diff")
    assert(p.contains("FullOuter"), s"expected full-outer diff join:\n$p")
    assert(!p.contains("CartesianProduct"), "unbounded cartesian")
  }

  test("llm_dedup_containment: prefix-probe join is (bucket, shingle)-" +
      "keyed, never a cartesian") {
    val p = plan("llm_dedup_containment")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"containment probe degenerated to an unbounded pair scan:\n$p")
  }

  test("llm_dsir_weights: the llr model joins the feature frame as a " +
      "broadcast; the only nested-loop joins are the 1-row totals") {
    val p = plan("llm_dsir_weights")
    assert(p.contains("BroadcastHashJoin"),
      s"16-row model must broadcast into the feature pass:\n$p")
    assert(!p.contains("CartesianProduct"), "unbounded cartesian")
    // partial agg on the (doc, bucket) feature groupBy
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final feature aggregation:\n$p")
  }

  test("llm_dsir_select: the selection is top-k, not a global sort") {
    val p = plan("llm_dsir_select")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected per-partition-heads top-k:\n$p")
  }

  test("llm_knn_graph: bucket self-join is equi-keyed — no cartesian, " +
      "no per-pair nested loop") {
    val p = plan("llm_knn_graph")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"kNN graph degenerated to an all-pairs scan:\n$p")
  }

  test("llm_cluster_medoids: bucket self-join is equi-keyed, no cartesian") {
    val p = plan("llm_cluster_medoids")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"medoid election degenerated to an all-pairs scan:\n$p")
  }

  test("llm_vocab_prune_apply: token-stream join is equi-keyed; " +
      "re-assembly aggregates partially map-side") {
    val p = plan("llm_vocab_prune_apply")
    assert(!p.contains("CartesianProduct"), "unbounded cartesian")
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final aggregation:\n$p")
  }

  test("llm_heavy_hitters_cms: the d×w sketch broadcasts into the probe; " +
      "cell aggregation is map-side partial") {
    val p = plan("llm_heavy_hitters_cms")
    assert(p.contains("BroadcastHashJoin"),
      s"64-cell sketch must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), "unbounded cartesian")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final cell aggregation:\n$p")
  }

  test("llm_training_export: the whole export chain is ONE plan whose " +
      "only wide stages are the dedup window, the pack window and the " +
      "manifest aggregate") {
    val p = plan("llm_training_export")
    assert(!p.contains("CartesianProduct"), "unbounded cartesian")
    // "Window [" is the Window node print; WindowGroupLimit nodes (the
    // rank-filter pushdown Spark adds around the dedup window) are
    // expected and excluded
    assert("Window \\[".r.findAllIn(p).size == 2,
      s"exactly two window stages (dedup + pack):\n$p")
    // dedup hash, pack-by-source, (maybe) manifest agg, presentation
    // sort — nothing else is allowed to move data
    assert("Exchange".r.findAllIn(p).size <= 4,
      s"unexpected extra exchanges in the export chain:\n$p")
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"manifest aggregate must be partial+final:\n$p")
  }

  test("llm_doc_stitch: candidates are a hash equi-join of two in-row " +
      "hash frames — never a cartesian, text never joined") {
    val p = plan("llm_doc_stitch")
    assert(!p.contains("CartesianProduct"), "unbounded cartesian")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"tail→head matching must be an equi-join:\n$p")
  }

  test("llm_split_assign: the split gate is pure map-side compute — " +
      "zero exchanges before the presentation sort") {
    val p = plan("llm_split_assign")
    // the only allowed data movement is the final ORDER BY (one
    // rangepartitioning exchange); the hash gate itself must fuse into
    // the scan projection
    assert("Exchange".r.findAllIn(p).size <= 1,
      s"split assignment must not shuffle:\n$p")
    assert(!p.contains("CartesianProduct"), "unbounded cartesian")
  }

  test("llm_split_leakage: pair set joins assignments by equi-key; " +
      "no cartesian, no nested-loop against the corpus") {
    val p = plan("llm_split_leakage")
    assert(!p.contains("CartesianProduct"), "unbounded cartesian")
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"crossing counts must aggregate partial+final:\n$p")
  }

  test("llm_quality_top_features: global top-k is TakeOrderedAndProject" +
      " — never a vocabulary-wide sort") {
    val p = plan("llm_quality_top_features")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must plan as TakeOrderedAndProject:\n$p")
    assert(!p.contains("CartesianProduct"), "unbounded cartesian")
  }

  test("llm_ann_recall / llm_lsh_audit: audits keep the screens' " +
      "bounded join shapes — no cartesian anywhere") {
    val pa = plan("llm_ann_recall")
    assert(!pa.contains("CartesianProduct"), "unbounded cartesian (ann)")
    // the bucket histogram joins broadcast
    assert(pa.contains("BroadcastHashJoin"),
      s"probe-cost histogram must broadcast:\n$pa")
    val pl = plan("llm_lsh_audit")
    assert(!pl.contains("CartesianProduct"), "unbounded cartesian (lsh)")
    // the only nested-loop joins allowed are the bounded 1-row scalar
    // cross joins (hits × candidates × n_truth); the truth and screen
    // candidate stages themselves must be hash equi-joins
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(pl).nonEmpty,
      s"candidate stages must plan as equi-joins:\n$pl")
  }

  test("llm_corpus_drift: counts collapse map-side before the one " +
      "vocab-sized full-outer join; totals broadcast") {
    val p = plan("llm_corpus_drift")
    assert(!p.contains("CartesianProduct"), "unbounded cartesian")
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 4,
      s"expected partial+final count aggregation on both sides:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"),
      s"the 1-row totals must broadcast:\n$p")
  }

  test("llm_dedup_winnow: the fingerprint-set frame is PINNED at the " +
      "array level — the self-join reads a materialized RDD, never the " +
      "live nested-HOF lineage (the r8s4 1362s->6s fix)") {
    val p = plan("llm_dedup_winnow")
    assert(p.contains("ExistingRDD") || p.contains("LogicalRDD"),
      s"fingerprint frame must be checkpoint-pinned:\n$p")
    // the expression bomb signature: a Filter re-deriving the gram
    // hashes would mention md5 in the post-pin plan
    assert(!p.contains("md5"),
      s"no md5 re-derivation may survive above the pin:\n$p")
  }

  test("ingest cleaning family: pure map-side — the ONLY exchange is " +
      "the presentation sort") {
    for (k <- Seq("llm_strip_markup", "llm_fix_mojibake",
        "llm_script_mix", "llm_c4_line_filter", "llm_ingest_pipeline",
        "llm_extract_urls", "llm_split_sentences")) {
      val p = plan(k)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$k must not hash-shuffle:\n$p")
      assert("Exchange rangepartitioning".r.findAllIn(p).size <= 1,
        s"$k: more than the presentation sort:\n$p")
      assert(!p.contains("Join"), s"$k must not join:\n$p")
    }
  }

  test("llm_quality_train_step: weight/gradient merge is union+groupBy " +
      "— no FullOuter sort-merge join survives in the epoch plan (r16)") {
    val p = plan("llm_quality_train_step")
    assert(!p.contains("FullOuter"),
      s"the model merge must not plan as a full-outer join:\n$p")
  }

  test("quality margins: the model side still broadcasts at " +
      "bucketNibbles=2, and the nibbles bound rejects 7 (the r16 " +
      "broadcast-ceiling gate)") {
    import org.apache.spark.sql.functions.col
    val docs = spark.range(8).selectExpr(
      "cast(id as string) as doc_id",
      "concat('tok', cast(id % 3 as string), ' join alpha') as text")
    val feats = graft.api.Corpus.hashFeatures(
      docs, col("doc_id"), col("text"), bucketNibbles = 2)
    val labels = docs.selectExpr("doc_id", "cast(1 as int) as y")
    val m = graft.api.Quality.trainStep(
      feats, labels, graft.api.Quality.emptyWeights(feats))
    val p = graft.api.Quality.margins(feats, m)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"mid-train model at nibbles=2 must broadcast:\n$p")
    intercept[IllegalArgumentException] {
      graft.api.Corpus.hashFeatures(
        docs, col("doc_id"), col("text"), bucketNibbles = 7)
    }
  }
}
