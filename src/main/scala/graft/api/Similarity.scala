package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorExprs
import graft.util.Pin

/** User-facing similarity-search API over embedding columns
  * (`array<float>`, unit-norm ⇒ cosine ≡ dot). Generic forms behind the
  * fixture-bound `SparkEntry` queries:
  *
  * {{{
  *   val q = corpus.filter($"id" < 10)
  *     .select($"id".as("qid"), $"vec".as("qe"))      // required names
  *   Similarity.topK(corpus, $"id", $"vec", q, k = 5)      // brute force
  *   Similarity.topKIvf(corpus, $"id", $"vec", q, k = 5)   // inverted lists
  *   Similarity.thresholdJoin(corpus, $"id", $"vec", $"label", 0.25)
  * }}}
  *
  * Contract: the `queries` frame must carry columns `qid` (query id) and
  * `qe` (query vector) — validated eagerly with a clear error; corpus
  * columns are caller-chosen via the Column parameters.
  */
object Similarity {

  private def requireQuerySchema(queries: DataFrame): Unit = {
    val cols = queries.columns.toSet
    require(cols.contains("qid") && cols.contains("qe"),
      s"queries frame must have columns 'qid' and 'qe' (got: " +
        s"${queries.columns.mkString(", ")}) — select(id.as(\"qid\"), " +
        "vec.as(\"qe\")) before calling")
  }

  /** Sequential-double cosine/dot of two float vectors (codegen'd). */
  def dot(a: Column, b: Column): Column = VectorExprs.dotf(a, b)

  /** Sign-pattern LSH bucket from the first `bits` dimensions. */
  def signBucket(e: Column, bits: Int = 8): Column =
    (0 until bits).map(i =>
      when(element_at(e, i + 1) >= 0, 1 << (bits - 1 - i)).otherwise(0))
      .reduce(_ + _)

  /** Exact top-k neighbors of a BOUNDED query set (broadcast) by brute
    * force over the corpus — one corpus scan, similarity rounded 6 dp and
    * ranked with an id tie-break. `queries` columns: (qid, qe[, extra]).
    * Corpus columns: (id, vec).
    *
    * `excludeSelf` (default true) drops corpus rows whose id equals the
    * query's `qid` — correct when queries are drawn FROM the corpus id
    * space. Pass false when qids live in a different id domain, or a
    * legitimate neighbor with a coincidentally equal id would be lost. */
  def topK(corpus: DataFrame, id: Column, vec: Column,
      queries: DataFrame, k: Int, excludeSelf: Boolean = true): DataFrame = {
    requireQuerySchema(queries)
    val cond = if (excludeSelf) col("vec_id") =!= col("qid") else lit(true)
    val scored = corpus.select(id.as("vec_id"), vec.as("__v"))
      .join(broadcast(queries), cond)
      .select(col("qid"), col("vec_id"),
        round(dot(col("qe"), col("__v")), 6).as("sim_r"))
    val w = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** IVF-style top-k: probe only the query's sign-bucket inverted list.
    * Probe cost = |list|, not |corpus|; recall tunes via `bits`.
    * `queries` must carry (qid, qe) — see the object contract.
    * `excludeSelf` semantics as in [[topK]]. */
  def topKIvf(corpus: DataFrame, id: Column, vec: Column,
      queries: DataFrame, k: Int, bits: Int = 8,
      excludeSelf: Boolean = true, nprobe: Int = 1): DataFrame = {
    requireQuerySchema(queries)
    require(nprobe >= 1 && nprobe <= bits + 1,
      s"nprobe must be in [1, bits + 1 = ${bits + 1}], got $nprobe")
    val e = corpus.select(id.as("vec_id"), vec.as("__v"),
      signBucket(vec, bits).as("__bucket"))
    // multi-probe: the query's own bucket plus its first nprobe−1 one-bit-
    // flip neighbors — the standard recall lever for sign LSH (a near-
    // boundary vector lands one sign flip away). Probe cost grows linearly
    // with nprobe and stays |list|-bounded; each corpus vector lives in
    // exactly one bucket and probe buckets are distinct, so no pair dedup
    // is needed.
    val probes = (be: Column) =>
      Seq(be) ++ (0 until (nprobe - 1)).map(i => be.bitwiseXOR(lit(1 << i)))
    val q = queries.withColumn("__qbucket", signBucket(col("qe"), bits))
      .withColumn("__probe",
        explode(array(probes(col("__qbucket")): _*)))
    val selfCond = if (excludeSelf) col("vec_id") =!= col("qid") else lit(true)
    val scored = e.join(broadcast(q),
        col("__bucket") === col("__probe") && selfCond)
      .select(col("qid"), col("vec_id"),
        round(dot(col("qe"), col("__v")), 6).as("sim_r"))
    val w = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Corpus-to-corpus k-nearest-neighbor GRAPH: every vector's top-k
    * most-similar neighbors among its own sign-bucket inverted list
    * (plus `nprobe − 1` one-bit-flip neighbor lists — the [[topKIvf]]
    * recall lever applied symmetrically). The kNN graph is the backbone
    * of graph-based semantic dedup and diversity selection; this is
    * [[topKIvf]] with the query side = the whole corpus, so neither
    * side broadcasts. Output: (src_id, rk, dst_id, sim_r) with
    * deterministic (sim desc, dst_id) ranking; a vector whose probe
    * lists hold no other member yields no rows (an isolated node).
    *
    * Scale shape: a shuffle-hash equi-join on the bucket key — pair
    * space is Σ |list|·|probe lists|, never |corpus|²; `bits` bounds
    * list size (2^bits lists), AQE splits skewed lists. Each dst lives
    * in exactly one bucket and probe buckets are distinct, so no pair
    * dedup is needed. */
  def knnGraph(corpus: DataFrame, id: Column, vec: Column, k: Int,
      bits: Int = 8, nprobe: Int = 1): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    require(nprobe >= 1 && nprobe <= bits + 1,
      s"nprobe must be in [1, bits + 1 = ${bits + 1}], got $nprobe")
    val src = corpus.select(id.as("src_id"), vec.as("__sv"),
      signBucket(vec, bits).as("__sb"))
    val probes = Seq(col("__sb")) ++
      (0 until (nprobe - 1)).map(i => col("__sb").bitwiseXOR(lit(1 << i)))
    val q = src.withColumn("__probe", explode(array(probes: _*)))
    val dst = corpus.select(id.as("dst_id"), vec.as("__dv"),
      signBucket(vec, bits).as("__db"))
    val scored = q.join(dst, col("__db") === col("__probe") &&
        col("dst_id") =!= col("src_id"))
      .select(col("src_id"), col("dst_id"),
        round(dot(col("__sv"), col("__dv")), 6).as("sim_r"))
    val w = Window.partitionBy("src_id")
      .orderBy(col("sim_r").desc, col("dst_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("src_id", "rk", "dst_id", "sim_r")
  }

  /** Per-bucket MEDOIDS — one representative vector per sign-bucket,
    * the member maximizing total similarity to its bucket peers
    * (deterministic vec-id tie-break; singleton buckets elect their
    * only member with sum 0). The prototype-selection primitive for
    * diversity sampling and cluster summarization: the medoid set is a
    * 2^bits-bounded digest of the corpus's semantic regions.
    *
    * Per-pair sims round to 6 dp THEN sum as DECIMAL (order-free —
    * SURVEY §7.2.2), exported as one exact decimal→double conversion,
    * so the election and the score are cross-engine stable.
    *
    * Scale shape: the pair space is the same inverted-list-bounded
    * bucket self-join as [[knnGraph]] (Σ|list|², `bits` bounds list
    * size, AQE splits skew); the election window partitions BY BUCKET.
    * Output: (bucket, medoid_id, sum_sim). */
  def medoidsBySignBucket(corpus: DataFrame, id: Column, vec: Column,
      bits: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = corpus.select(id.as("__vid"), vec.as("__v"),
      signBucket(vec, bits).as("bucket"))
    val a = e.select(col("bucket"), col("__vid").as("__va"),
      col("__v").as("__xa"))
    val b = e.select(col("bucket").as("__bb"), col("__vid").as("__vb"),
      col("__v").as("__xb"))
    val sums = a.join(b, col("bucket") === col("__bb") &&
        col("__va") =!= col("__vb"))
      .select(col("bucket"), col("__va"),
        round(dot(col("__xa"), col("__xb")), 6).cast(DecimalType(20, 6))
          .as("__s"))
      .groupBy("bucket", "__va").agg(sum(col("__s")).as("__sum"))
    val scored = e.select(col("bucket"), col("__vid"))
      .join(sums.withColumnRenamed("bucket", "__bk"),
        col("bucket") === col("__bk") && col("__vid") === col("__va"),
        "left")
      .select(col("bucket"), col("__vid"),
        coalesce(col("__sum").cast("double"), lit(0.0)).as("sum_sim"))
    val w = Window.partitionBy("bucket")
      .orderBy(col("sum_sim").desc, col("__vid"))
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("bucket"), col("__vid").as("medoid_id"), col("sum_sim"))
  }

  /** All pairs with similarity ≥ τ WITHIN an equi-key partition — the key
    * is what bounds the pair space at scale. Output: (key, vec_a, vec_b,
    * sim_r). */
  def thresholdJoin(corpus: DataFrame, id: Column, vec: Column,
      partitionKey: Column, minSim: Double): DataFrame = {
    val t = corpus.select(id.as("__id"), vec.as("__v"),
      partitionKey.as("__k"))
    val a = t.alias("a"); val b = t.alias("b")
    a.join(b, col("a.__k") === col("b.__k") &&
          col("a.__id") < col("b.__id"))
      .select(col("a.__k").as("key"),
        col("a.__id").as("vec_a"), col("b.__id").as("vec_b"),
        round(dot(col("a.__v"), col("b.__v")), 6).as("sim_r"))
      .filter(col("sim_r") >= minSim)
  }

  /** k-means-style assignment: every corpus vector goes to its most-
    * similar centroid (argmax of the 6-dp-rounded dot, centroid-id
    * tie-break). `centroids` must carry (cid, ce) — the same eager
    * contract as the (qid, qe) query frames. Centroids broadcast: n·k
    * map-side dot products, one per-vector window, never a corpus
    * shuffle — the SemDeDup / IVF coarse-quantizer primitive, valid at
    * any corpus size while k stays bounded.
    * Output: (vec_id, cluster_id, sim_r). */
  def assignClusters(corpus: DataFrame, id: Column, vec: Column,
      centroids: DataFrame): DataFrame = {
    val cols = centroids.columns.toSet
    require(cols.contains("cid") && cols.contains("ce"),
      s"centroids frame must have columns 'cid' and 'ce' (got: " +
        s"${centroids.columns.mkString(", ")}) — select(id.as(\"cid\"), " +
        "vec.as(\"ce\")) before calling")
    // argmax as a PARTIAL-AGGREGABLE min-struct, not a window: a window
    // must SORT every (vec, centroid) row within its partition before
    // ranking, while min(struct(-sim, cid, …)) combines map-side — at
    // 100 TB the n·k candidate rows never need a sort or a full shuffle,
    // only k-fold-reduced partials. Field order IS the tie-break:
    // (-sim_r, cid) ⇒ highest rounded sim, then lowest centroid id —
    // identical to the previous rank semantics.
    // project centroids down to the contract columns: an extra vec_id/__v
    // column riding along would make the post-join references ambiguous
    corpus.select(id.as("vec_id"), vec.as("__v"))
      .crossJoin(broadcast(centroids.select(col("cid"), col("ce"))))
      .select(col("vec_id"), col("cid"),
        round(dot(col("ce"), col("__v")), 6).as("sim_r"))
      .groupBy("vec_id")
      .agg(min(struct((-col("sim_r")).as("neg_sim"), col("cid").as("cid"),
        col("sim_r").as("sim_r"))).as("__best"))
      .select(col("vec_id"), col("__best.cid").as("cluster_id"),
        col("__best.sim_r").as("sim_r"))
  }

  /** Model-selection sweep for the cluster count: the spherical-k-means
    * objective Σ max-sim evaluated for SEVERAL candidate centroid sets
    * in ONE corpus scan (the elbow curve a SemDeDup/IVF deployment reads
    * before fixing k). `centroidsByK` carries (k, cid, ce) — all
    * candidate sets tagged and broadcast together (Σ|sets| rows, model-
    * sized), so the sweep costs one n·Σk map-side dot-product pass plus
    * partial-aggregable min-structs, never one scan per candidate and
    * never a corpus shuffle. Per-vector sims round to 6 dp (the
    * [[assignClusters]] contract), then sum as exact micro BIGINTs —
    * order-free, cross-engine. Output: (k, n_vec, obj_micro, avg_sim). */
  def kSweepObjective(corpus: DataFrame, id: Column, vec: Column,
      centroidsByK: DataFrame): DataFrame = {
    val cols = centroidsByK.columns.toSet
    require(Set("k", "cid", "ce").subsetOf(cols),
      s"centroidsByK must have (k, cid, ce), got: " +
        centroidsByK.columns.mkString(", "))
    corpus.select(id.as("vec_id"), vec.as("__v"))
      .crossJoin(broadcast(centroidsByK.select(col("k"), col("cid"),
        col("ce"))))
      .select(col("k"), col("vec_id"), col("cid"),
        round(dot(col("ce"), col("__v")), 6).as("sim_r"))
      .groupBy("k", "vec_id")
      .agg(min(struct((-col("sim_r")).as("neg_sim"),
        col("cid").as("cid"), col("sim_r").as("sim_r"))).as("__b"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_vec"),
        sum(round(col("__b.sim_r") * 1000000.0, 0).cast("long"))
          .as("obj_micro"))
      .select(col("k"), col("n_vec"), col("obj_micro"),
        (col("obj_micro").cast("double") / lit(1000000.0)
          / col("n_vec").cast("double")).as("avg_sim"))
  }

  /** Spherical k-means fit over full vectors: Lloyd rounds of
    * [[assignClusters]] assignment (broadcast centroids, argmax dot) and
    * L2-NORMALIZED per-cluster means — normalization is what makes the
    * cosine objective (Σ max-sim) provably non-decreasing per round
    * (spherical k-means, Dhillon & Modha 2001, public). Seeded from the
    * k lowest-id vectors. Per round: one broadcast assignment (n·k
    * map-side dots, no corpus shuffle) + one partial-agg mean — never a
    * collect; lineage truncated per round. Returns (cid, ce) — feed
    * straight into [[assignClusters]] / the SemDeDup and IVF paths.
    * Training averages in float, so like [[pqTrainCodebook]] this is the
    * production fit step, not an oracle-checked op. Empty clusters keep
    * their previous centroid. The corpus projection is pinned for every
    * Lloyd round ([[graft.util.Pin]]). */
  def kMeansFit(corpus: DataFrame, id: Column, vec: Column,
      k: Int, iters: Int = 5): DataFrame = Pin.scope { p =>
    val c = p(corpus.select(id.as("vec_id"), vec.as("__v")))
    // each round's pin supersedes the previous centroids
    var cents = p.next(c.orderBy("vec_id").limit(k)
      .withColumn("cid",
        (row_number().over(Window.orderBy("vec_id")) - 1).cast("int"))
      .select(col("cid"), col("__v").as("ce")))
    (1 to iters).foreach { _ =>
      val assigned = assignClusters(c, col("vec_id"), col("__v"), cents)
        .select(col("vec_id"), col("cluster_id"))
      val means = c.join(assigned, "vec_id")
        .select(col("cluster_id"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy("cluster_id", "pos")
        .agg(avg(col("x").cast("double")).as("mx"))
        .groupBy("cluster_id")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mx")))),
          s => s.getField("mx")).as("mean"))
        .withColumn("norm",
          sqrt(aggregate(col("mean"), lit(0.0), (acc, x) => acc + x * x)))
        .select(col("cluster_id").as("cid"),
          when(col("norm") === 0.0, col("mean"))
            .otherwise(transform(col("mean"), x => x / col("norm")))
            .as("newc"))
      cents = p.next(cents.join(means, Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("newc").cast("array<float>"), col("ce")).as("ce")))
    }
    p.keep(cents)
  }

  /** Near-dup by sign-bucket LSH + similarity verify (the embedding-space
    * analogue of MinHash-LSH). Output: (bucket, vec_a, vec_b, sim_r). */
  def nearDupLsh(corpus: DataFrame, id: Column, vec: Column,
      minSim: Double, bits: Int = 8): DataFrame =
    thresholdJoin(corpus, id, vec, signBucket(vec, bits), minSim)
      .withColumnRenamed("key", "bucket")

  /** The int8-quantization projection shared by [[quantizeInt8]] and the
    * persisted IVF index rows — ONE formula, every consumer (so the
    * in-plan path and the on-disk codes can never drift). Input frame
    * carries `__v` (float array) plus any rider columns; output replaces
    * `__v` with (scale, qvec). */
  private def quantized(base: DataFrame): DataFrame =
    base
      .withColumn("scale",
        array_max(transform(col("__v"), x => abs(x))).cast("double")
          / lit(127.0))
      .withColumn("qvec",
        transform(col("__v"), x =>
          when(col("scale") === 0.0, lit(0.0))
            .otherwise(floor(x.cast("double") / col("scale") + lit(0.5)))
            .cast("byte")))
      .drop("__v")

  /** Symmetric per-vector int8 quantization — at 100 TB the embedding
    * BYTES (not the doc text) dominate ANN storage and shuffle: float32
    * → int8 is a 4× cut in both, the standard first step before PQ.
    * scale = max(|x|)/127 per vector; q_i = floor(x_i/scale + 0.5)
    * (spelled with floor, not round: floor is correctly rounded IEEE in
    * every engine while round-half ties are implementation-defined).
    * All-zero vectors quantize to all-zero with scale 0. Map-side only,
    * codegen'd HOFs, no shuffle. Output: (vec_id, scale, qvec
    * ARRAY<TINYINT>); reconstruct x ≈ q·scale, dot via
    * [[quantizedDot]]. */
  def quantizeInt8(corpus: DataFrame, id: Column, vec: Column): DataFrame =
    quantized(corpus.select(id.as("vec_id"), vec.as("__v")))
      .select(col("vec_id"), col("scale"), col("qvec"))

  /** Reconstructed dot product of two int8-quantized vectors:
    * (scale_a·scale_b)·Σ qa_i·qb_i. The integer sum is EXACT (long
    * accumulator — order-free, engine-stable); only the final two
    * multiplies run in floating point. */
  def quantizedDot(scaleA: Column, qa: Column,
      scaleB: Column, qb: Column): Column =
    scaleA * scaleB *
      aggregate(zip_with(qa, qb, (a, b) => a.cast("long") * b.cast("long")),
        lit(0L), (acc, x) => acc + x).cast("double")

  /** Deterministic product-quantization codebook from the k lowest-id
    * corpus vectors: subspace j's centroid `code` is seed-vector
    * `code`'s j-th sub-slice. Output: (j, code, cvec) — m·k rows, always
    * broadcast-sized. Production systems k-means-train the codebook (the
    * [[assignClusters]] primitive iterated per subspace); the seed
    * codebook keeps every downstream plan identical while staying
    * engine-reproducible, so encode/search are oracle-checkable. */
  def pqSeedCodebook(corpus: DataFrame, id: Column, vec: Column,
      m: Int, subDim: Int, k: Int = 16): DataFrame = {
    val seeds = corpus.select(id.as("__sid"), vec.as("__sv"))
      .orderBy("__sid").limit(k)
      .withColumn("code",
        (row_number().over(Window.orderBy("__sid")) - 1).cast("int"))
    seeds
      .select(col("code"),
        explode(sequence(lit(0), lit(m - 1))).as("j"), col("__sv"))
      .select(col("j"), col("code"),
        slice(col("__sv"), col("j") * subDim + 1, lit(subDim)).as("cvec"))
  }

  /** PQ encode: each vector becomes m sub-codes (argmin L2 to the
    * subspace's centroids, 6-dp-rounded distance with a code tie-break
    * so the assignment can never diverge between engines). m·k distance
    * evaluations per vector against a BROADCAST codebook — map-side
    * compute, with the argmin as a partial-aggregable min-struct groupBy
    * (no per-(vector,subspace) window sort); at 64-dim/m=8/k=16
    * the code array is 8 bytes replacing 256 — a 32× cut, the step past
    * [[quantizeInt8]]'s 4×. Output: (vec_id, codes ARRAY<TINYINT>
    * ordered by subspace). */
  def pqEncode(corpus: DataFrame, id: Column, vec: Column,
      codebook: DataFrame, m: Int, subDim: Int): DataFrame = {
    val sub = corpus.select(id.as("vec_id"), vec.as("__v"))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("j"), col("__v"))
      .select(col("vec_id"), col("j"),
        slice(col("__v"), col("j") * subDim + 1, lit(subDim)).as("sv"))
    val d2 = aggregate(zip_with(col("sv"), col("cvec"),
        (a, b) => (a.cast("double") - b.cast("double"))
          * (a.cast("double") - b.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    // argmin as a partial-aggregable min-struct (field order = tie-break:
    // rounded distance, then code), not a window — no per-(vec, subspace)
    // sort, map-side combine over the k candidates (see assignClusters)
    sub.join(broadcast(codebook), "j")
      .withColumn("d2_r", round(d2, 6))
      .groupBy("vec_id", "j")
      .agg(min(struct(col("d2_r").as("d2_r"), col("code").as("code")))
        .as("__best"))
      .groupBy("vec_id")
      .agg(transform(
        array_sort(collect_list(struct(col("j"), col("__best.code")))),
        s => s.getField("code").cast("byte")).as("codes"))
  }

  /** Lloyd-trained PQ codebook: `iters` rounds of argmin-assign →
    * per-(subspace, code) element-wise mean, seeded by
    * [[pqSeedCodebook]]. Each round is one broadcast-codebook assignment
    * (map-side, same plan as [[pqEncode]]) plus one partial-agg mean —
    * never a corpus collect; rounds truncate lineage (a pin,
    * the iterative-Spark rule). Empty clusters keep their previous
    * centroid. Training averages in float — inherently not
    * engine-reproducible, so trained codebooks are for production use
    * and the recall test; the oracle-checked keys use the seed
    * codebook. The subvector frame is corpus-sized (m rows per vector)
    * and pinned for every Lloyd round, the [[kMeansFit]] rule. */
  def pqTrainCodebook(corpus: DataFrame, id: Column, vec: Column,
      m: Int, subDim: Int, k: Int = 16,
      iters: Int = 3): DataFrame = Pin.scope { p =>
    val sub = p(corpus.select(id.as("vec_id"), vec.as("__v"))
      .select(col("vec_id"),
        explode(sequence(lit(0), lit(m - 1))).as("j"), col("__v"))
      .select(col("vec_id"), col("j"),
        slice(col("__v"), col("j") * subDim + 1, lit(subDim)).as("sv")))
    val d2 = aggregate(zip_with(col("sv"), col("cvec"),
        (a, b) => (a.cast("double") - b.cast("double"))
          * (a.cast("double") - b.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    var cb = p.next(pqSeedCodebook(corpus, id, vec, m, subDim, k))
    (1 to iters).foreach { _ =>
      val assigned = sub.join(broadcast(cb), "j")
        .withColumn("d2_r", round(d2, 6))
        .groupBy("vec_id", "j")
        .agg(min(struct(col("d2_r").as("d2_r"), col("code").as("code"),
          col("sv").as("sv"))).as("__best"))
        .select(col("j"), col("__best.code").as("code"),
          col("__best.sv").as("sv"))
      val means = assigned
        .select(col("j"), col("code"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("j", "code", "pos")
        .agg(avg(col("x").cast("double")).as("mx"))
        .groupBy("j", "code")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mx")))),
          s => s.getField("mx").cast("float")).as("newc"))
      cb = p.next(cb.join(means, Seq("j", "code"), "left")
        .select(col("j"), col("code"),
          coalesce(col("newc"), col("cvec")).as("cvec")))
    }
    p.keep(cb)
  }

  /** Inverse of [[pqEncode]]: stitch each vector's centroid slices back
    * into a full-width approximation (the ADC search operand). */
  def pqReconstruct(codes: DataFrame, codebook: DataFrame): DataFrame =
    codes.select(col("vec_id"),
        posexplode(col("codes")).as(Seq("j", "code")))
      .join(broadcast(codebook), Seq("j", "code"))
      .groupBy("vec_id")
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("j"), col("cvec")))),
        s => s.getField("cvec"))).as("recon"))

  /** Top-k by dot product against PQ-RECONSTRUCTED corpus vectors
    * (asymmetric distance computation: queries stay full-precision) —
    * the 32×-compressed scale path. Same contracts as [[topK]]. */
  def topKPq(corpus: DataFrame, id: Column, vec: Column,
      codebook: DataFrame, queries: DataFrame, k: Int, m: Int, subDim: Int,
      excludeSelf: Boolean = true): DataFrame = {
    val recon = pqReconstruct(
      pqEncode(corpus, id, vec, codebook, m, subDim), codebook)
    topK(recon, col("vec_id"), col("recon"), queries, k, excludeSelf)
  }

  /** IVF over a TRAINED coarse quantizer — the production generalization
    * of [[topKIvf]]'s sign buckets: corpus vectors shard into inverted
    * lists by argmax-centroid ([[assignClusters]], typically over
    * [[kMeansFit]] output), and each query probes the lists of its
    * `nprobe` most-similar centroids (rounded-dot rank, centroid-id
    * tie-break). Probe cost = Σ|probed lists| ≈ nprobe·n/k — the
    * recall/cost knob real ANN indexes tune, with k grown alongside the
    * corpus (10⁴–10⁵ cells at 10⁹ vectors) so lists stay bounded.
    * Centroids broadcast twice (corpus assignment + query probe
    * ranking); the corpus never shuffles. Training is float — recall is
    * unit-test pinned (no oracle), like [[kMeansFit]] itself; the
    * oracle-checked IVF keys stay on the deterministic sign-bucket
    * quantizer. Same (qid, qe) / (cid, ce) contracts and excludeSelf
    * semantics as the rest of the module. */
  def topKIvfTrained(corpus: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, queries: DataFrame, k: Int, nprobe: Int = 2,
      excludeSelf: Boolean = true): DataFrame = {
    requireQuerySchema(queries)
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val cells = assignClusters(corpus, id, vec, centroids)
      .select(col("vec_id"), col("cluster_id"))
    val e = corpus.select(id.as("vec_id"), vec.as("__v")).join(cells,
      "vec_id")
    val probeW = Window.partitionBy("qid")
      .orderBy(col("__csim").desc, col("cid"))
    val qprobe = queries
      .crossJoin(broadcast(centroids.select(col("cid"), col("ce"))))
      .select(col("qid"), col("qe"), col("cid"),
        round(dot(col("qe"), col("ce")), 6).as("__csim"))
      .withColumn("__crk", row_number().over(probeW))
      .filter(col("__crk") <= nprobe)
      .select(col("qid"), col("qe"), col("cid"))
    val selfCond = if (excludeSelf) col("vec_id") =!= col("qid") else lit(true)
    val scored = e.join(broadcast(qprobe),
        col("cluster_id") === col("cid") && selfCond)
      .select(col("qid"), col("vec_id"),
        round(dot(col("qe"), col("__v")), 6).as("sim_r"))
    val w = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** IVF+PQ — THE production 100 TB ANN architecture, composing the two
    * halves this module already proves separately: the sign-bucket
    * coarse quantizer ([[topKIvf]]) bounds each query's probe set to
    * nprobe inverted lists, and asymmetric distance computation over
    * PQ-reconstructed vectors ([[topKPq]]) scores within those lists
    * against the 32×-compressed corpus. Probe cost per query =
    * nprobe · |list| ADC dot products — independent of corpus size, over
    * codes whose bytes are 1/32 of the raw vectors (what actually
    * matters at 10⁹+ vectors: the scan is memory-bandwidth-bound).
    *
    * Cell assignment reads the ORIGINAL vector (the coarse quantizer
    * sees full precision — this variant encodes raw vectors, not
    * IVF residuals, keeping every stage engine-reproducible and
    * oracle-checkable); queries stay full-precision on their side of
    * the dot. The codes→cell join is a plain equi-join on the vector id
    * (both sides hash-partition on it at scale). Same (qid, qe) query
    * contract, excludeSelf and tie-break semantics as [[topK]]. */
  def topKIvfPq(corpus: DataFrame, id: Column, vec: Column,
      codebook: DataFrame, queries: DataFrame, k: Int, m: Int, subDim: Int,
      bits: Int = 8, nprobe: Int = 1,
      excludeSelf: Boolean = true): DataFrame = {
    requireQuerySchema(queries)
    require(nprobe >= 1 && nprobe <= bits + 1,
      s"nprobe must be in [1, bits + 1 = ${bits + 1}], got $nprobe")
    val base = corpus.select(id.as("vec_id"), vec.as("__v"),
      signBucket(vec, bits).as("__bucket"))
    // multi-probe: own cell + first nprobe−1 one-bit flips (see topKIvf)
    val probes = (be: Column) =>
      Seq(be) ++ (0 until (nprobe - 1)).map(i => be.bitwiseXOR(lit(1 << i)))
    val q = queries.withColumn("__qbucket", signBucket(col("qe"), bits))
      .withColumn("__probe", explode(array(probes(col("__qbucket")): _*)))
    // encode ONLY the probed cells: codes are per-vector and
    // deterministic, so the cell semi-join commutes with encoding — and
    // it mirrors the production cost model, where codes are precomputed
    // and search touches only the probed inverted lists, never the
    // whole corpus
    val hit = base.join(
      broadcast(q.select(col("__probe")).distinct()),
      col("__bucket") === col("__probe"), "left_semi")
    val recon = pqReconstruct(
      pqEncode(hit, col("vec_id"), col("__v"), codebook, m, subDim),
      codebook)
    val e = recon.join(hit.select(col("vec_id"), col("__bucket")),
      "vec_id")
    val selfCond = if (excludeSelf) col("vec_id") =!= col("qid") else lit(true)
    val scored = e.join(broadcast(q),
        col("__bucket") === col("__probe") && selfCond)
      .select(col("qid"), col("vec_id"),
        round(dot(col("qe"), col("recon")), 6).as("sim_r"))
    val w = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Brute-force top-k over int8-quantized vectors — the memory-bound
    * scale path: 4× less corpus to scan/broadcast than [[topK]], with
    * recall pinned by a unit test against the exact ranking. Same
    * (qid, qe) query contract and excludeSelf semantics as [[topK]]. */
  def topKQuantized(corpus: DataFrame, id: Column, vec: Column,
      queries: DataFrame, k: Int, excludeSelf: Boolean = true): DataFrame = {
    requireQuerySchema(queries)
    val qc = quantizeInt8(corpus, id, vec)
    val qq = quantizeInt8(queries, col("qid"), col("qe"))
      .select(col("vec_id").as("qid"), col("scale").as("__qscale"),
        col("qvec").as("__qq"))
    val cond = if (excludeSelf) col("vec_id") =!= col("qid") else lit(true)
    val scored = qc.join(broadcast(qq), cond)
      .select(col("qid"), col("vec_id"),
        round(quantizedDot(col("__qscale"), col("__qq"),
          col("scale"), col("qvec")), 6).as("sim_r"))
    val w = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  // ---------------------------------------------------------------------
  // Dimensionality reduction: JL random projection (engine-reproducible,
  // the oracle-checked twin) and PCA (data-trained sibling, test-pinned —
  // same split as seed vs Lloyd-trained PQ codebooks above).
  // ---------------------------------------------------------------------

  /** Sequential-double dot of two DOUBLE arrays (codegen'd HOF fold) —
    * the reduced-space score; [[dot]] is the float-input sibling. */
  private def dotd(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix, outDim rows ×
    * inDim cols: sign(j,i) = parity of md5("rp:seed:j:i")'s first byte.
    * Pure driver-side function of (seed, dims) — the SAME values are
    * inlined as literals into the Spark plan and the DuckDB oracle, so
    * the two can never drift (corr_matrix's shared-codegen discipline).
    * Dense ±1 (Achlioptas 2001, public) rather than gaussian: exact in
    * float, so the projection stays a plain [[dot]] against a literal. */
  def rpSignMatrix(seed: Int, outDim: Int, inDim: Int): Seq[Seq[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until outDim).map { j =>
      (0 until inDim).map { i =>
        val h = md.digest(s"rp:$seed:$j:$i".getBytes("UTF-8"))
        if ((h(0) & 1) == 0) 1.0f else -1.0f
      }
    }
  }

  /** JL random projection inDim → outDim: out_j = ⟨x, sign_j⟩/√outDim,
    * rounded 6 dp (the rounded values ARE the reduced representation, so
    * every downstream distance is engine-stable). Map-side only — outDim
    * codegen'd [[dot]]s against literal sign rows, no shuffle, no fitted
    * state: at 100 TB the projection is a free rider on whatever scan
    * already touches the vectors, and shrinks ANN shuffle/storage by
    * inDim/outDim before any index is built.
    * Output: (vec_id, rp ARRAY<DOUBLE> length outDim). */
  def randomProjection(corpus: DataFrame, id: Column, vec: Column,
      inDim: Int, outDim: Int, seed: Int = 7): DataFrame = {
    val signs = rpSignMatrix(seed, outDim, inDim)
    val scale = math.sqrt(outDim.toDouble)
    corpus.select(id.as("vec_id"),
      array(signs.map { row =>
        round(dot(vec, array(row.map(lit(_)): _*)) / lit(scale), 6)
      }: _*).as("rp"))
  }

  /** Brute-force top-k in random-projection space — [[topK]]'s plan
    * (broadcast bounded query set, one corpus scan) over outDim-wide
    * vectors instead of inDim: the scan reads/multiplies inDim/outDim×
    * less. Recall vs the exact ranking is pinned in ApiSpec; fully
    * engine-reproducible (rounded projections, double fold, rounded
    * score, id tie-break) so unlike PCA/trained-codebook paths this one
    * is oracle-checkable end to end. */
  def topKRandomProjection(corpus: DataFrame, id: Column, vec: Column,
      queries: DataFrame, k: Int, inDim: Int, outDim: Int, seed: Int = 7,
      excludeSelf: Boolean = true): DataFrame = {
    requireQuerySchema(queries)
    val pc = randomProjection(corpus, id, vec, inDim, outDim, seed)
    val pq = randomProjection(queries, col("qid"), col("qe"),
        inDim, outDim, seed)
      .select(col("vec_id").as("qid"), col("rp").as("__qrp"))
    val cond = if (excludeSelf) col("vec_id") =!= col("qid") else lit(true)
    val scored = pc.join(broadcast(pq), cond)
      .select(col("qid"), col("vec_id"),
        round(dotd(col("rp"), col("__qrp")), 6).as("sim_r"))
    val w = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Two-stage retrieval — coarse scan then exact rerank, the pattern
    * behind every production ANN deployment: the cheap reduced-width
    * random-projection scan ([[topKRandomProjection]]) over-fetches
    * `coarseK` candidates per query, then ONLY those candidates are
    * re-scored with the exact full-width dot and re-ranked to the final
    * k. At 100 TB the economics are the whole point: the corpus-wide
    * scan moves outDim/inDim× the bytes of the exact path, while the
    * exact dots run on a (|queries| × coarseK)-bounded frame that
    * broadcasts — the expensive arithmetic never touches the corpus.
    * Raising `coarseK` buys recall at a rerank-only cost, which is the
    * deployment's tuning knob. Fully engine-reproducible (both stages
    * round + id-tie-break), so the composition is oracle-checkable.
    * Output: (qid, vec_id, sim_r exact, rk ≤ k). */
  def topKRerank(corpus: DataFrame, id: Column, vec: Column,
      queries: DataFrame, k: Int, coarseK: Int, inDim: Int, outDim: Int,
      seed: Int = 7, excludeSelf: Boolean = true): DataFrame = {
    require(coarseK >= k, s"coarseK=$coarseK must be >= k=$k")
    requireQuerySchema(queries)
    val cand = topKRandomProjection(corpus, id, vec, queries, coarseK,
      inDim, outDim, seed, excludeSelf).select(col("qid"), col("vec_id"))
    val cv = corpus.select(id.as("vec_id"), vec.as("__cv"))
    // the candidate frame broadcasts; the full-width vectors stream
    // map-side through the join — no corpus-wide exact scoring
    val scored = broadcast(cand)
      .join(cv, "vec_id")
      .join(broadcast(queries.select(col("qid"), col("qe"))), "qid")
      .select(col("qid"), col("vec_id"),
        round(dot(col("qe"), col("__cv")), 6).as("sim_r"))
    val w = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Fitted PCA state: per-feature means, top-k principal components
    * (rows, orthonormal), eigenvalues of the sample covariance (desc).
    * Driver-sized: k·d doubles — broadcastable at any corpus size. */
  final case class PcaModel(mean: Array[Double],
      components: Array[Array[Double]], eigenvalues: Array[Double])

  /** PCA fit in ONE corpus pass: `treeAggregate` accumulates (n, Σx,
    * upper-tri Σxxᵀ) per partition in primitive arrays — d(d+3)/2
    * doubles of state, map-side combined, so 100 TB costs one scan and
    * a tree of tiny merges (the MLlib RowMatrix Gramian pattern). The
    * d×d covariance is then finished on the driver (d is feature count,
    * never row count) and eigen-decomposed with cyclic Jacobi — exact
    * orthonormal output for symmetric matrices, no external library.
    * Like [[kMeansFit]]/[[pqTrainCodebook]] this is the production fit
    * step: float sums are order-dependent, so the fit is pinned by
    * ApiSpec invariants (orthonormality, eigenvalue order, variance
    * capture) rather than a SQL oracle; [[randomProjection]] is the
    * oracle-checked twin in the dimensionality-reduction family. */
  /** ENGINE-REPRODUCIBLE PCA fit — the oracle-checkable twin of
    * [[pcaFit]]: exact fixed-point moments + a fixed-iteration power
    * method, so the fitted components are a pure deterministic function
    * of the data that any engine reproduces bit-for-bit.
    *
    * Three steps, each with a fixed cross-engine arithmetic story:
    *  1. Moments: values floor to exact micro-unit longs
    *     (the `llm_embed_cov_matrix` trick), so n, Σu and Σu·u are
    *     order-free integers — ONE partial-agg row, one bounded
    *     model-sized collect (the same class as a centroid fetch).
    *  2. Covariance: finished in IEEE double with the exact formula
    *     spelling of the cov-matrix oracle, rounded 9 dp (the proven
    *     Spark-round/DuckDB-ROUND pairing).
    *  3. Eigenvectors: `iters` rounds of un-normalized power iteration
    *     from the fixed start vector 1/√d, one final normalization,
    *     Rayleigh eigenvalue, rank-1 deflation, repeat for k components
    *     — every sum LEFT TO RIGHT, every op a correctly-rounded IEEE
    *     double op, so a recursive SQL CTE spelling the same
    *     left-associative expressions computes identical doubles.
    *
    * The fixed iteration count trades exact convergence for
    * reproducibility: with close eigenvalues the trailing components are
    * approximate — identically approximate in every engine, which is
    * what a hash gate needs; recall is pinned separately. Use [[pcaFit]]
    * (Jacobi, converged) when only one engine consumes the model. */
  def pcaFitExactPower(corpus: DataFrame, vec: Column, inDim: Int, k: Int,
      iters: Int = 20): PcaModel = {
    require(k >= 1 && k <= inDim, s"k must be in [1, $inDim], got $k")
    val dims = 0 until inDim
    val prs = for { i <- dims; j <- dims if j >= i } yield (i, j)
    val base = corpus.select(dims.map(i =>
      floor(element_at(vec, i + 1).cast("double") * lit(1000000.0))
        .as(s"u_$i")): _*)
    // moments accumulate in DecimalType(38,0), not LongType: per-row
    // products reach ~1e12 for unit-scale micro-unit embeddings, so a
    // LongType sum would wrap SILENTLY (non-ANSI) past ~1e6 rows while
    // the SQL oracle sums BIGINT products into a 128-bit accumulator —
    // the decimal accumulator matches the oracle's widening exactly
    // (exact to 10^38, i.e. ~1e26 rows at unit scale)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val momentCols = Seq(count(lit(1)).cast("double").as("n")) ++
      dims.map(i => sum(col(s"u_$i").cast(dec)).cast("double").as(s"s_$i")) ++
      prs.map { case (i, j) =>
        sum(col(s"u_$i").cast(dec) * col(s"u_$j").cast(dec))
          .cast("double").as(s"p_${i}_$j") }
    val row = base.agg(momentCols.head, momentCols.tail: _*).head()
    val n = row.getDouble(0)
    require(n > 1, s"pcaFitExactPower needs at least 2 rows, got $n")
    val s = dims.map(i => row.getDouble(1 + i)).toArray
    val p = Array.ofDim[Double](inDim, inDim)
    prs.zipWithIndex.foreach { case ((i, j), idx) =>
      p(i)(j) = row.getDouble(1 + inDim + idx); p(j)(i) = p(i)(j) }
    // Spark's round(x, 9) semantics (BigDecimal.valueOf + HALF_UP) — the
    // exact driver twin of the oracle's ROUND(x, 9)
    def r9(x: Double): Double =
      BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    val c = Array.tabulate(inDim, inDim)((i, j) =>
      r9((p(i)(j) - s(i) * s(j) / n) / (n - 1) / 1.0e12))
    val comps = Array.ofDim[Double](k, inDim)
    val evals = new Array[Double](k)
    val start = 1.0 / math.sqrt(inDim.toDouble)
    var comp = 0
    while (comp < k) {
      var v = Array.fill(inDim)(start)
      var t = 0
      while (t < iters) {
        val w = new Array[Double](inDim)
        var i = 0
        while (i < inDim) {
          var acc = 0.0; var j = 0
          while (j < inDim) { acc = acc + c(i)(j) * v(j); j += 1 }
          w(i) = acc; i += 1
        }
        v = w; t += 1
      }
      var ss = 0.0
      var i = 0
      while (i < inDim) { ss = ss + v(i) * v(i); i += 1 }
      val nrm = math.sqrt(ss)
      // fail loudly on a degenerate spectrum instead of dividing into
      // NaN components: identical rows (zero covariance), rank < k
      // after deflation, or variance so small the un-normalized
      // iterates underflow all collapse the iterate to ~zero
      require(nrm > 0.0 && !nrm.isNaN,
        s"pcaFitExactPower: power iterate collapsed at component $comp " +
          "— the covariance is degenerate (identical rows, rank < k, " +
          "or near-zero variance); reduce k or check the input")
      val u = new Array[Double](inDim)
      i = 0
      while (i < inDim) { u(i) = v(i) / nrm; i += 1 }
      val cu = new Array[Double](inDim)
      i = 0
      while (i < inDim) {
        var acc = 0.0; var j = 0
        while (j < inDim) { acc = acc + c(i)(j) * u(j); j += 1 }
        cu(i) = acc; i += 1
      }
      var lam = 0.0
      i = 0
      while (i < inDim) { lam = lam + u(i) * cu(i); i += 1 }
      comps(comp) = u; evals(comp) = lam
      i = 0
      while (i < inDim) {
        var j = 0
        while (j < inDim) { c(i)(j) = c(i)(j) - (lam * u(i)) * u(j); j += 1 }
        i += 1
      }
      comp += 1
    }
    PcaModel(dims.map(i => s(i) / n / 1000000.0).toArray, comps, evals)
  }

  def pcaFit(corpus: DataFrame, vec: Column, inDim: Int, k: Int): PcaModel = {
    require(k >= 1 && k <= inDim, s"k must be in [1, $inDim], got $k")
    val tri = inDim * (inDim + 1) / 2
    val rows = corpus.select(vec.cast("array<double>").as("__v"))
      .na.drop("any").rdd
      .map(_.getSeq[Double](0).toArray)
    val (n, s, g) = rows.treeAggregate(
      (0L, new Array[Double](inDim), new Array[Double](tri)))(
      seqOp = { case ((cnt, sums, gram), x) =>
        var i = 0; var t = 0
        while (i < inDim) {
          sums(i) += x(i)
          var j = i
          while (j < inDim) { gram(t) += x(i) * x(j); j += 1; t += 1 }
          i += 1
        }
        (cnt + 1L, sums, gram)
      },
      combOp = { case ((c1, s1, g1), (c2, s2, g2)) =>
        var i = 0
        while (i < inDim) { s1(i) += s2(i); i += 1 }
        var t = 0
        while (t < tri) { g1(t) += g2(t); t += 1 }
        (c1 + c2, s1, g1)
      })
    require(n > 1, s"pcaFit needs at least 2 rows, got $n")
    val mean = s.map(_ / n)
    val cov = Array.ofDim[Double](inDim, inDim)
    var i = 0; var t = 0
    while (i < inDim) {
      var j = i
      while (j < inDim) {
        val c = (g(t) - s(i) * s(j) / n) / (n - 1)
        cov(i)(j) = c; cov(j)(i) = c
        j += 1; t += 1
      }
      i += 1
    }
    val (evals, evecs) = jacobiEigen(cov)
    val order = evals.indices.sortBy(idx => -evals(idx)).take(k)
    PcaModel(mean,
      order.map(idx => Array.tabulate(inDim)(r => evecs(r)(idx))).toArray,
      order.map(evals).toArray)
  }

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix (Golub &
    * Van Loan §8.5, public): sweeps of 2×2 rotations zeroing each
    * off-diagonal until convergence. Returns (eigenvalues, eigenvector
    * matrix V with eigenvector i in COLUMN i, orthonormal). O(d³) per
    * sweep on the driver — d is the feature dimension, never data. */
  private[graft] def jacobiEigen(
      sym: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = sym.length
    val a = sym.map(_.clone())
    val v = Array.tabulate(n, n)((r, c) => if (r == c) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-22) {
      off = 0.0
      var p = 0
      while (p < n) {
        var q = p + 1
        while (q < n) {
          off += a(p)(q) * a(p)(q)
          if (math.abs(a(p)(q)) > 1e-14) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val tTan =
              if (theta >= 0) 1.0 / (theta + math.sqrt(theta * theta + 1))
              else 1.0 / (theta - math.sqrt(theta * theta + 1))
            val c = 1.0 / math.sqrt(tTan * tTan + 1)
            val sn = tTan * c
            var r = 0
            while (r < n) {
              val arp = a(r)(p); val arq = a(r)(q)
              a(r)(p) = c * arp - sn * arq
              a(r)(q) = sn * arp + c * arq
              r += 1
            }
            r = 0
            while (r < n) {
              val apr = a(p)(r); val aqr = a(q)(r)
              a(p)(r) = c * apr - sn * aqr
              a(q)(r) = sn * apr + c * aqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - sn * vrq
              v(r)(q) = sn * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(n)(d => a(d)(d)), v)
  }

  /** Project vectors onto a fitted [[PcaModel]]: out_j = ⟨x−μ, c_j⟩ =
    * ⟨x, c_j⟩ − ⟨μ, c_j⟩, with the constant ⟨μ, c_j⟩ precomputed on the
    * driver so the per-row work is k codegen'd [[dotd]]s against
    * LITERAL component rows — map-side only, no shuffle, no broadcast
    * join (the model rides the plan itself, same as [[randomProjection]]
    * sign rows). Output: (vec_id, pc ARRAY<DOUBLE> length k, 6 dp). */
  def pcaProject(corpus: DataFrame, id: Column, vec: Column,
      model: PcaModel): DataFrame = {
    val offsets = model.components.map(comp =>
      comp.zip(model.mean).map { case (c, m) => c * m }.sum)
    corpus.select(id.as("vec_id"),
      array(model.components.toSeq.zipWithIndex.map { case (comp, j) =>
        round(dotd(vec.cast("array<double>"),
          array(comp.toSeq.map(lit(_)): _*)) - lit(offsets(j)), 6)
      }: _*).as("pc"))
  }

  /** Brute-force top-k in PCA space — [[topKRandomProjection]]'s plan
    * over the fitted [[PcaModel]] projection: same k-wide scan economy,
    * better recall per dimension (components chase variance instead of
    * random directions; the gap is pinned in ApiSpec). Scores are
    * cosine-of-projection against the CENTERED query, ranked on the
    * rounded value with an id tie-break. */
  def topKPca(corpus: DataFrame, id: Column, vec: Column,
      queries: DataFrame, k: Int, model: PcaModel,
      excludeSelf: Boolean = true): DataFrame = {
    requireQuerySchema(queries)
    val pc = pcaProject(corpus, id, vec, model)
    val pq = pcaProject(queries, col("qid"), col("qe"), model)
      .select(col("vec_id").as("qid"), col("pc").as("__qpc"))
    val cond = if (excludeSelf) col("vec_id") =!= col("qid") else lit(true)
    val scored = pc.join(broadcast(pq), cond)
      .select(col("qid"), col("vec_id"),
        round(dotd(col("pc"), col("__qpc")), 6).as("sim_r"))
    val w = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** Per-group embedding OUTLIERS — the corrupt-row audit an embedding
    * pipeline runs before dedup/ANN trusts the vectors: for each
    * `group` (a label, a cluster assignment, a source), the `k` members
    * farthest from the group's mean embedding by squared L2 distance.
    * A truncated file, a wrong-model re-embed, or a zeroed vector lands
    * at the top of this list; feeding it to SemDeDup/IVF instead would
    * silently distort centroids and candidate lists.
    *
    * Determinism (the exact-power-PCA discipline, ADVICE r7 applied):
    * coordinates snap to integer MICRO units; the centroid is kept as
    * the exact RATIONAL (Σx_micro, n) — never a rounded division — and
    * each member's distance uses (x_micro·n − Σx_micro)², accumulated
    * in DecimalType(38,0) (per-term bound ~(10⁷·n)²·d: overflow-safe
    * past 10⁹-row groups at d=64, vs silent Long wrap at ~10⁶), so the
    * ranking compares exact integers scaled by the group-constant n² —
    * cross-engine identical. The exported distance is one double
    * divide by n²·10¹², rounded 6 dp.
    *
    * Scale shape: one posexplode to (group, dim) partial sums
    * (map-side combinable, |groups|·d rows), one broadcast-sized join
    * back, one per-group top-k window — never a global sort, never a
    * pair join. Output: (group, rk, vec_id, dist2_r). */
  def outliersByGroup(corpus: DataFrame, id: Column, vec: Column,
      group: Column, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(k >= 1, s"k=$k must be positive")
    val micro = corpus.select(id.as("__vid"), group.as("group"),
      transform(vec, x => round(x.cast("double") * 1e6).cast("long"))
        .as("__m"))
    val dims = micro.select(col("__vid"), col("group"),
      posexplode(col("__m")).as(Seq("__dim", "__x")))
    val cent = dims.groupBy("group", "__dim")
      .agg(sum(col("__x")).as("__num"), count(lit(1)).as("__n"))
    val d2 = dims
      .join(cent.withColumnRenamed("group", "__g")
          .withColumnRenamed("__dim", "__cd"),
        col("group") === col("__g") && col("__dim") === col("__cd"))
      .select(col("group"), col("__vid"),
        (col("__x").cast(DecimalType(38, 0)) * col("__n") - col("__num"))
          .cast(DecimalType(38, 0)).as("__diff"),
        col("__n"))
      .groupBy("group", "__vid", "__n")
      .agg(sum(col("__diff") * col("__diff")).as("__s2"))
      .select(col("group"), col("__vid"),
        round((col("__s2").cast("double")
          / (col("__n") * col("__n")).cast("double")) / 1e12, 6)
          .as("dist2_r"))
    val w = Window.partitionBy("group")
      .orderBy(col("dist2_r").desc, col("__vid"))
    d2.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("group"), col("rk"), col("__vid").as("vec_id"),
        col("dist2_r"))
  }

  /** MEASURED recall@k-vs-probe-cost curve of the IVF sign-bucket index
    * ([[topKIvf]]) against exact brute force ([[topK]]) — the audit a
    * production ANN deployment runs on a sampled query set BEFORE
    * committing to an nprobe setting: the recall lever is only worth
    * what it measures, and this prices each candidate setting in both
    * recall (|approx ∩ exact| / |exact|, the standard definition) and
    * probe cost (candidates actually scored = Σ probe-list sizes).
    *
    * Every arithmetic step is engine-reproducible: hit counts and
    * candidate counts are exact integers (the ranking underneath uses
    * the house round-6dp + id tie-break), and recall is ONE IEEE
    * division of exact integers — so the whole audit is
    * oracle-checkable, unlike a float-threshold recall estimate.
    *
    * `excludeSelf` semantics as in [[topK]]; when true the candidate
    * count subtracts the query's own vector (its bucket is always the
    * m=0 probe), which assumes queries are drawn FROM the corpus id
    * space — same caveat as the ranking itself.
    *
    * Scale shape: |nprobes| corpus scans (the audit runs on a SAMPLED
    * query set, so each scan is the cheap side) + one 2^bits-row bucket
    * histogram reused across settings via broadcast; per-setting hit
    * counting is a broadcast semi-join of two (|queries|·k)-row frames.
    * Nothing touches the driver. Output: (nprobe, n_exact, candidates,
    * hits, recall), nprobe ascending. */
  def recallAudit(corpus: DataFrame, id: Column, vec: Column,
      queries: DataFrame, k: Int, bits: Int = 8,
      nprobes: Seq[Int] = Seq(1, 2, 4),
      excludeSelf: Boolean = true): DataFrame = {
    requireQuerySchema(queries)
    require(nprobes.nonEmpty && nprobes == nprobes.sorted,
      s"nprobes must be a non-empty ascending list, got $nprobes")
    require(nprobes.head >= 1 && nprobes.last <= bits + 1,
      s"every nprobe must be in [1, bits + 1 = ${bits + 1}], got $nprobes")
    val exact = topK(corpus, id, vec, queries, k, excludeSelf)
      .select(col("qid"), col("vec_id"))
    val exactCnt = exact.agg(count(lit(1)).as("n_exact"))
    val nq = queries.agg(count(lit(1)).as("__nq"))
    val hist = corpus.select(signBucket(vec, bits).as("__b"))
      .groupBy("__b").agg(count(lit(1)).as("__bn"))
    val perSetting = nprobes.map { p =>
      val hits = topKIvf(corpus, id, vec, queries, k, bits, excludeSelf, p)
        .select(col("qid"), col("vec_id"))
        .join(exact, Seq("qid", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      // probe cost: the query's own bucket plus its first p−1 one-bit
      // flips — EXACTLY topKIvf's probe set; empty flip buckets read 0
      val probeCols = Seq(col("__qb")) ++
        (0 until (p - 1)).map(i => col("__qb").bitwiseXOR(lit(1 << i)))
      val cand = queries
        .select(signBucket(col("qe"), bits).as("__qb"))
        .select(explode(array(probeCols: _*)).as("__probe"))
        .join(broadcast(hist), col("__probe") === col("__b"), "left")
        .agg(sum(coalesce(col("__bn"), lit(0L))).as("__scanned"))
      hits.crossJoin(broadcast(cand)).withColumn("nprobe", lit(p))
    }
    perSetting.reduce(_.unionByName(_))
      .crossJoin(broadcast(exactCnt))
      .crossJoin(broadcast(nq))
      .select(col("nprobe"), col("n_exact"),
        (col("__scanned") -
          (if (excludeSelf) col("__nq") else lit(0L))).as("candidates"),
        col("hits"),
        (col("hits").cast("double") / col("n_exact").cast("double"))
          .as("recall"))
      .orderBy("nprobe")
  }

  /** Semantic (embedding-space) decontamination screen: flag corpus
    * vectors whose cosine to ANY vector of a benchmark/eval set reaches
    * `tau` — the companion to the n-gram screen
    * ([[TextQuality.decontaminate]]) that catches PARAPHRASED test-set
    * leakage exact n-grams structurally miss (the screen used alongside
    * SemDeDup-style pipelines; Abbas et al. 2023, public).
    *
    * `evalSet` columns: (qid, qe) — the [[topK]] query contract. Eval
    * suites are benchmark-sized (thousands, not corpus-sized), so the
    * eval side is BROADCAST and the plan is one corpus scan of codegen'd
    * dot products — no shuffle of the corpus, no pair materialization
    * beyond threshold survivors. For an eval set too big to broadcast,
    * route both sides through the IVF bucket screen instead ([[topKIvf]]
    * is the shape); the flag semantics stay the same.
    *
    * Output: one row per FLAGGED corpus vector — (id, n_hits, eval_id,
    * sim_r) with eval_id = the best-matching eval vector (ties on the
    * 6-dp-rounded sim break toward the smaller eval id, so the report is
    * engine-reproducible). */
  def decontaminateByEmbedding(corpus: DataFrame, id: Column, vec: Column,
      evalSet: DataFrame, tau: Double): DataFrame = {
    requireQuerySchema(evalSet)
    val scored = corpus.select(id.as("__cid"), vec.as("__v"))
      .crossJoin(broadcast(evalSet))
      .select(col("__cid"), col("qid"),
        round(dot(col("qe"), col("__v")), 6).as("sim_r"))
      .filter(col("sim_r") >= tau)
    val w = Window.partitionBy("__cid")
      .orderBy(col("sim_r").desc, col("qid").asc)
    scored
      .withColumn("n_hits", count(lit(1)).over(
        Window.partitionBy(col("__cid"))))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col("__cid").as("id"), col("n_hits"),
        col("qid").as("eval_id"), col("sim_r"))
  }

  // ---------------------------------------------------------------------
  // Persisted IVF index lifecycle — the similarity family's nightly form
  // (the signature/substring/CMS-index shape applied to ANN): the corpus
  // is bucketed + int8-quantized ONCE into a parquet index; nightly
  // embedding shards APPEND without re-bucketing the corpus; queries
  // probe the stored inverted lists. Bucket and codes are DETERMINISTIC
  // per vector ([[signBucket]] + [[quantizeInt8]]'s floor rule), which is
  // what makes append ≡ rebuild — the grown index is bit-identical to one
  // built over everything (certified by the llm_sim_index_grow oracle).
  // ---------------------------------------------------------------------

  /** Loud-failure read of the parameters recorded at [[writeIvfIndex]]
    * time: (bits, dim). A bits drift would silently change every bucket
    * key; a dim drift would silently zip-truncate every dot — readers
    * require() both. Params live in the `params.txt` sidecar
    * ([[graft.util.IndexMeta]] — driver-side metadata, not a Spark
    * job). */
  private def readIvfParams(spark: SparkSession,
      path: String): (Int, Int) = {
    val Seq(bits, dim) =
      graft.util.IndexMeta.readInts(spark, path, "bits", "dim")
    (bits, dim)
  }

  /** Vector width from the frame's first row, None for an empty frame —
    * a bounded 1-row collect (the centroid-fetch class), used only on
    * index write/append/query boundaries to make dimension drift a loud
    * error instead of a silent zip-truncated dot product. Emptiness is
    * the CALLER's policy: an empty corpus write is a loud error, an
    * empty delta append is a no-op, an empty query batch probes nothing
    * (a streaming source legitimately yields 0-row micro-batches — the
    * per-batch probes must not die on one). */
  private def vecDimOpt(df: DataFrame, vec: Column): Option[Int] =
    df.select(size(vec).as("__d")).limit(1).collect()
      .headOption.map(_.getAs[Int]("__d"))

  private def vecDim(df: DataFrame, vec: Column): Int = {
    val r = vecDimOpt(df, vec)
    require(r.nonEmpty,
      "cannot derive the vector width from an empty frame")
    r.get
  }

  /** Per-ROW width guard riding the plan (the [[vecDimOpt]] first-row
    * check catches a mis-embedded FRAME; this catches a RAGGED one —
    * row 0 at the right width, row k not, which would otherwise pass
    * the boundary check and persist codes whose dots silently
    * zip-truncate at probe time). `assert_true` in a filter condition
    * is codegen'd to one integer compare per row and cannot be pruned
    * away (the TextDedup packed-key guard idiom); rows that pass flow
    * unchanged, the first violation fails the job loudly with the
    * offending vec_id. */
  private def requireWidth(df: DataFrame, vec: Column, idCol: Column,
      dim: Int, what: String): DataFrame =
    df.filter(assert_true(size(vec) === dim,
      concat(lit(s"$what carries a "), size(vec).cast("string"),
        lit(s"-dim vector (id "), idCol.cast("string"),
        lit(s") but the index dim is $dim — ragged input; re-embed " +
          "the offending rows or rebuild the index"))).isNull)

  /** Partition count for the inverted-list writes. The previous
    * spelling — `repartition(col(partitionCol))` with no count — lets
    * AQE coalesce the small shuffle, and on anything below its advisory
    * partition size that means ONE task creating every list's file
    * SERIALLY: measured 1.39 s vs 0.52 s for the 64-list fixture write
    * (r15 sweep, OPTIMIZATION_r15.md — the cost is per-file open
    * latency, not rows). An explicit count pins parallel file creation.
    * The value is scale-adaptive, never a local constant (guide §2):
    * the cores/4 floor keeps a small host writing in parallel (the
    * 8/16 floor of the r15 sweep), `inputBytes` — the live table's
    * TRUE FS size, passed only by the rewrite paths where the listing
    * is free — raises the count by one task per advisory-partition-
    * size chunk so a corpus-scale rewrite is never squeezed through
    * ~cores/4 huge partitions (r16, ADVICE), and the list count caps
    * it at one task per list (hash partitioning never splits a list —
    * extra tasks beyond the list count would simply run empty). Fresh
    * writes deliberately DON'T feed a Catalyst size estimate here:
    * measured inflated on the join-rooted encode plans (trained write
    * 2.72 → 3.10 s isolated from over-partitioning) — they keep the
    * floor/cap formula plus the conf override. Overridable via
    * `spark.graft.index.writePartitions` for operators whose stores
    * price task commits differently. */
  private def listWritePartitions(spark: SparkSession,
      numLists: Option[Int], inputBytes: Option[Long] = None): Int =
    spark.conf.getOption("spark.graft.index.writePartitions")
      .map(_.toInt)
      .getOrElse {
        val floor = math.max(8, spark.sparkContext.defaultParallelism / 4)
        val advisory = math.max(1L,
          org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get(
              "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB")))
        val target = inputBytes.fold(floor)(b =>
          math.max(floor,
            math.min(Int.MaxValue.toLong, b / advisory + 1L).toInt))
        math.max(1, numLists.fold(target)(math.min(_, target)))
      }

  /** The stored row shape: (vec_id, bucket, scale, qvec) — one row per
    * vector, bucket = [[signBucket]] at the index's recorded bits, codes
    * via the shared [[quantized]] projection. Every row's width is
    * checked against the recorded dim in-plan ([[requireWidth]]). */
  private def ivfRows(df: DataFrame, id: Column, vec: Column,
      bits: Int, dim: Int): DataFrame =
    quantized(requireWidth(
        df.select(id.as("vec_id"), vec.as("__v"),
          signBucket(vec, bits).as("bucket")),
        col("__v"), col("vec_id"), dim, "IVF corpus/delta"))
      .select(col("vec_id"), col("bucket"), col("scale"), col("qvec"))

  /** Persist a sign-bucket IVF index for [[topKAgainstIvfIndex]] — the
    * nightly-production ANN shape: the corpus is bucketed and
    * int8-quantized ONCE and written as parquet inverted lists
    * PARTITIONED BY BUCKET, so a probe reads only the probed lists'
    * files (real partition pruning — on disk, an inverted list IS a
    * partition directory). Codes are the [[quantizeInt8]] 4×-compressed
    * form: at 10⁹ vectors the probe scan is memory-bandwidth-bound and
    * the compressed bytes are what make it cheap; raw vectors never
    * persist and never re-read after the write.
    *
    * Layout: `path/params.txt` = (bits, dim) recorded write-time values
    * (readers fail loudly on mismatch — a bits drift changes every
    * bucket key, a dim drift silently truncates every dot);
    * `path/lists/bucket=*` = (vec_id, scale, qvec). The multi-table
    * write is not atomic — re-run on failure (it overwrites), the
    * [[TextDedup.writeSignatureIndex]] caveat. */
  def writeIvfIndex(corpus: DataFrame, id: Column, vec: Column,
      path: String, bits: Int = 8): Unit = {
    require(bits >= 1 && bits <= 30, s"bits must be in [1, 30], got $bits")
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = vecDim(corpus, vec)
    require(bits <= dim,
      s"bits=$bits exceeds the vector width $dim — signBucket reads the " +
        "first `bits` dimensions")
    graft.util.IndexMeta.writeInts(spark, path, "bits" -> bits,
      "dim" -> dim)
    // repartition BY BUCKET before the partitioned write: without it
    // every write task emits one file per bucket it happens to hold —
    // up to tasks × 2^bits files of a few rows each (measured: the
    // fixture write spent most of its time opening tiny files). After
    // the shuffle each bucket's rows land in one task, so the layout is
    // one file per non-empty inverted list — exactly the unit a probe
    // reads; AQE coalesces the small shuffle into few tasks.
    ivfRows(corpus, id, vec, bits, dim)
      .repartition(listWritePartitions(spark, Some(1 << bits)),
        col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/lists")
  }

  /** Append a delta shard's rows to an existing IVF index — the accept
    * step of the nightly cycle (a production embedding store is
    * append-heavy: vectors arrive nightly, the corpus never re-buckets).
    * Bucket bits come from the index's recorded params, the shard's
    * vector width is checked against the recorded dim (loud mismatch).
    * Because bucket and codes are deterministic per vector, append ≡
    * rebuild — the grown index answers every probe exactly as one built
    * over the union. Caller guarantees the shard's ids are not already
    * in the index. */
  def appendToIvfIndex(delta: DataFrame, id: Column, vec: Column,
      path: String): Unit = {
    val (bits, dim) = readIvfParams(delta.sparkSession, path)
    vecDimOpt(delta, vec) match {
      case None => // empty shard (a quiet ingestion day): nothing to add
      case Some(dDim) =>
        require(dDim == dim,
          s"IVF index at $path stores $dim-dim vectors but the delta " +
            s"carries $dDim-dim vectors — the dot product would " +
            "silently truncate; re-embed the shard or rebuild the index")
        ivfRows(delta, id, vec, bits, dim)
          // one file per touched list
          .repartition(listWritePartitions(delta.sparkSession,
            Some(1 << bits)), col("bucket"))
          .write.mode("append").partitionBy("bucket")
          .parquet(s"$path/lists")
    }
  }

  /** Persist a TRAINED-coarse-quantizer IVF index — [[writeIvfIndex]]'s
    * production generalization ([[topKIvfTrained]]'s persisted form):
    * corpus vectors shard into inverted lists by argmax-centroid
    * ([[assignClusters]] — rounded-dot, cid tie-break; typically over
    * [[kMeansFit]] output, but ANY (cid, ce) frame works, and a
    * deterministic seed frame keeps the whole lifecycle
    * oracle-checkable), and the index stores the CENTROIDS alongside
    * the int8-quantized lists so probes and appends never re-supply
    * them — the centroids ARE index state, exactly as in a production
    * IVF deployment. Cell assignment reads the ORIGINAL vector (the
    * coarse quantizer sees full precision); only the codes compress.
    *
    * Layout: `path/params.txt` = (dim), `path/centroids` = (cid, ce),
    * `path/lists/cluster_id=*` = (vec_id, scale, qvec) — the
    * one-file-per-list repartitioned layout. Same non-atomic
    * multi-table caveat as [[writeIvfIndex]]. */
  def writeIvfIndexTrained(corpus: DataFrame, id: Column, vec: Column,
      centroids: DataFrame, path: String): Unit = {
    val cols = centroids.columns.toSet
    require(cols.contains("cid") && cols.contains("ce"),
      s"centroids frame must have columns 'cid' and 'ce' (got: " +
        s"${centroids.columns.mkString(", ")})")
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = vecDim(corpus, vec)
    val cdim = vecDim(centroids, col("ce"))
    require(cdim == dim,
      s"corpus vectors are $dim-dim but centroids are $cdim-dim")
    centroids.select(col("cid"), col("ce"))
      .write.mode("overwrite").parquet(s"$path/centroids")
    graft.util.IndexMeta.writeInts(spark, path, "dim" -> dim)
    trainedRows(corpus, id, vec,
        spark.read.parquet(s"$path/centroids"), dim)
      .repartition(listWritePartitions(spark, None), col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id")
      .parquet(s"$path/lists")
  }

  /** The trained-index row shape: argmax-centroid cell + the shared
    * [[quantized]] codes — derived from the STORED centroids so write
    * and append can never disagree on the quantizer. ONE corpus pass:
    * the quantized columns ride through the argmax min-struct (every
    * candidate row of a vector carries the same scale/qvec, so they
    * travel with the winning row), instead of a second corpus scan +
    * vec_id shuffle join to reunite assignment with codes — at 10⁹
    * vectors that join was a full extra shuffle. Same argmax rule as
    * [[assignClusters]]: field order IS the tie-break (−rounded-sim,
    * then cid). Per-row width checked against the recorded dim
    * ([[requireWidth]] — the ragged-corpus guard). */
  private def trainedRows(df: DataFrame, id: Column, vec: Column,
      cents: DataFrame, dim: Int): DataFrame =
    quantized(requireWidth(df.select(id.as("vec_id"), vec.as("__v")),
        col("__v"), col("vec_id"), dim, "trained-IVF corpus/delta")
        .withColumn("__raw", col("__v")))
      .crossJoin(broadcast(cents.select(col("cid"), col("ce"))))
      .select(col("vec_id"), col("cid"),
        round(dot(col("ce"), col("__raw")), 6).as("sim_r"),
        col("scale"), col("qvec"))
      .groupBy("vec_id")
      .agg(min(struct((-col("sim_r")).as("neg_sim"), col("cid").as("cid"),
        col("scale").as("scale"), col("qvec").as("qvec"))).as("__best"))
      .select(col("vec_id"), col("__best.cid").as("cluster_id"),
        col("__best.scale").as("scale"), col("__best.qvec").as("qvec"))

  /** Append a delta shard to a trained IVF index: the shard assigns
    * against the STORED centroids (the corpus never re-buckets, the
    * caller never re-supplies the quantizer) and its quantized rows
    * append to the lists. Assignment and codes are deterministic given
    * the stored centroids ⇒ append ≡ rebuild, the same certificate as
    * [[appendToIvfIndex]]. Loud dim mismatch. */
  def appendToIvfIndexTrained(delta: DataFrame, id: Column, vec: Column,
      path: String): Unit = {
    val spark = delta.sparkSession
    val dim = graft.util.IndexMeta.readInt(spark, path, "dim")
    vecDimOpt(delta, vec) match {
      case None => // empty shard: nothing to add (appendToIvfIndex rule)
      case Some(dDim) =>
        require(dDim == dim,
          s"trained IVF index at $path stores $dim-dim vectors but " +
            s"the delta carries $dDim-dim vectors")
        trainedRows(delta, id, vec,
            spark.read.parquet(s"$path/centroids"), dim)
          .repartition(listWritePartitions(spark, None),
            col("cluster_id"))
          .write.mode("append").partitionBy("cluster_id")
          .parquet(s"$path/lists")
    }
  }

  /** Top-k against a persisted TRAINED IVF index: each query ranks the
    * STORED centroids (rounded dot, cid tie-break) and probes its
    * `nprobe` most-similar cells' lists, scored by [[quantizedDot]]
    * over the stored codes — [[topKIvfTrained]] with the quantizer and
    * lists read from disk instead of rebuilt in-plan. Probe cost =
    * Σ|probed lists| ≈ nprobe·n/k over compressed codes, independent of
    * corpus size; the cluster_id-partitioned layout prunes the scan to
    * the probed directories. Same (qid, qe) contract and excludeSelf
    * semantics as [[topK]]. Output: (qid, vec_id, sim_r, rk ≤ k). */
  def topKAgainstIvfIndexTrained(spark: SparkSession, indexPath: String,
      queries: DataFrame, k: Int, nprobe: Int = 2,
      excludeSelf: Boolean = true): DataFrame = {
    requireQuerySchema(queries)
    require(k >= 1, s"k=$k must be positive")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val dim = graft.util.IndexMeta.readInt(spark, indexPath, "dim")
    // empty query micro-batches probe nothing (topKAgainstIvfIndex rule)
    vecDimOpt(queries, col("qe")).foreach { qDim =>
      require(qDim == dim,
        s"trained IVF index at $indexPath stores $dim-dim vectors but " +
          s"the query frame carries $qDim-dim vectors")
    }
    val cents = spark.read.parquet(s"$indexPath/centroids")
    val lists = spark.read.parquet(s"$indexPath/lists")
    val probeW = Window.partitionBy("qid")
      .orderBy(col("__csim").desc, col("cid"))
    val qprobe = queries
      .crossJoin(broadcast(cents))
      .select(col("qid"), col("qe"), col("cid"),
        round(dot(col("qe"), col("ce")), 6).as("__csim"))
      .withColumn("__crk", row_number().over(probeW))
      .filter(col("__crk") <= nprobe)
      .select(col("qid"), col("cid"), col("qe"))
    val qq = quantized(qprobe.select(col("qid"),
        col("cid").as("__pcid"), col("qe").as("__v")))
      .select(col("qid"), col("__pcid"), col("scale").as("__qscale"),
        col("qvec").as("__qq"))
    val selfCond = if (excludeSelf) col("vec_id") =!= col("qid") else lit(true)
    val scored = lists.join(broadcast(qq),
        col("cluster_id") === col("__pcid") && selfCond)
      .select(col("qid"), col("vec_id"),
        round(quantizedDot(col("__qscale"), col("__qq"),
          col("scale"), col("qvec")), 6).as("sim_r"))
    val w = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  /** DELETE vectors from a persisted IVF index — the
    * right-to-be-forgotten step every production index needs (the
    * [[TextDedup.removeFromSignatureIndex]] shape applied to ANN): the
    * lists table is rewritten WITHOUT the given ids via an anti-join
    * through the staged [[rewriteLists]] swap. Params/centroids are
    * untouched. After removal a probe behaves exactly as if the index
    * had been rebuilt without those vectors (rows are per-vector and
    * independent — the llm_sim_index_forget oracle certifies it). Do
    * not run concurrently with an append or probe on the same index.
    * A purge that would remove EVERY remaining vector is refused
    * loudly (an empty partitioned table is unreadable parquet —
    * delete the whole index instead).
    *
    * `ids` must carry a `vec_id` column. Cost: one scan + rewrite of
    * the compressed-code table (~1/4 of raw embedding bytes); the
    * removal set shuffles as bare ids (no broadcast hint — a typical
    * forget list is tiny and AQE will broadcast it, but a bulk purge
    * can be corpus-scale). The rewrite keeps the one-file-per-list
    * layout; pass `partitionCol = "cluster_id"` for a
    * [[writeIvfIndexTrained]] index. */
  def removeFromIvfIndex(spark: SparkSession, path: String,
      ids: DataFrame, partitionCol: String = "bucket"): Unit = {
    val rm = ids.select(col("vec_id")).distinct()
    rewriteLists(spark, path, partitionCol)(
      _.join(rm, Seq("vec_id"), "left_anti"))
  }

  /** Staged rewrite of an IVF index's lists table shared by
    * [[removeFromIvfIndex]] and [[compactIvfIndex]]: the transformed
    * table is materialized in full, then committed through
    * [[graft.util.Swap]] (its crash contract applies). */
  private def rewriteLists(spark: SparkSession, path: String,
      partitionCol: String)(transform: DataFrame => DataFrame): Unit = {
    val live = s"$path/lists"
    val tmp = graft.util.Swap.next(live)
    val lPath = new org.apache.hadoop.fs.Path(live)
    val fs = lPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // the live table prices the rewrite for free (r16, ADVICE): its
    // partition-dir count IS the list count and its byte size scales
    // the task count, so a corpus-scale rewrite gets data-sized
    // partitions instead of ~cores/4 huge ones (one FS listing + one
    // content summary — driver metadata, no Spark job)
    val numLists = scala.util.Try(fs.listStatus(lPath)
      .count(s => s.isDirectory &&
        s.getPath.getName.startsWith(partitionCol + "="))).toOption
      .filter(_ > 0)
    val liveBytes = scala.util.Try(
      fs.getContentSummary(lPath).getLength).toOption
    transform(spark.read.parquet(live))
      .repartition(listWritePartitions(spark, numLists, liveBytes),
        col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol).parquet(tmp)
    // a ZERO-row transform writes no parquet files under a partitioned
    // write; promoting that empty dir would leave an unreadable lists
    // table (opaque schema-inference errors on every later read), so
    // refuse here, from the FS listing (no Spark job)
    val tPath = new org.apache.hadoop.fs.Path(tmp)
    val files = fs.listFiles(tPath, true)
    var hasData = false
    while (!hasData && files.hasNext)
      hasData = files.next().getPath.getName.endsWith(".parquet")
    if (!hasData) {
      fs.delete(tPath, true)
      throw new IllegalStateException(
        s"lists rewrite of $live produced ZERO rows — refusing to " +
          "promote an empty (unreadable) table; the live table is " +
          "untouched. A removal that purges every remaining vector " +
          "should delete the whole index instead.")
    }
    graft.util.Swap.promote(spark, live)
  }

  /** COMPACT a persisted IVF index's lists table — the maintenance step
    * after a run of nightly appends: each append lands one more small
    * file per touched list directory, and probe scan cost is paid per
    * FILE open, not per row. Compaction rewrites the lists back to the
    * one-file-per-list layout through the staged [[rewriteLists]] swap.
    * Rows are per-vector and unique, so compaction is pure
    * file consolidation — probe results are identical before and after
    * (ApiSpec pin). Works on both the sign-bucket and trained layouts
    * (`partitionCol` = "bucket" / "cluster_id"). */
  def compactIvfIndex(spark: SparkSession, path: String,
      partitionCol: String = "bucket"): Unit =
    rewriteLists(spark, path, partitionCol)(identity)

  /** Top-k against a PERSISTED IVF index ([[writeIvfIndex]] /
    * [[appendToIvfIndex]]): each query probes its own sign-bucket list
    * plus `nprobe − 1` one-bit-flip neighbor lists (the [[topKIvf]]
    * recall lever), scored by [[quantizedDot]] over the STORED int8
    * codes — the query side quantizes with the same shared projection,
    * so the integer inner sum is exact and order-free (engine-stable,
    * oracle-checkable). Bits/dim come from the index's recorded params;
    * the query frame's width is checked loudly.
    *
    * Scale shape: the bounded query set broadcasts; the lists parquet
    * is bucket-partitioned, so the equi-join on the partition column
    * prunes the scan to the probed directories (dynamic partition
    * pruning) — probe cost is Σ|probed lists| of compressed codes,
    * independent of corpus size. Nothing shuffles but the (|queries| ·
    * Σ|list|)-bounded scored frame into the per-query top-k window.
    * Same (qid, qe) contract and excludeSelf semantics as [[topK]].
    * Output: (qid, vec_id, sim_r, rk ≤ k). */
  def topKAgainstIvfIndex(spark: SparkSession, indexPath: String,
      queries: DataFrame, k: Int, nprobe: Int = 1,
      excludeSelf: Boolean = true): DataFrame = {
    requireQuerySchema(queries)
    require(k >= 1, s"k=$k must be positive")
    val (bits, dim) = readIvfParams(spark, indexPath)
    require(nprobe >= 1 && nprobe <= bits + 1,
      s"nprobe must be in [1, bits + 1 = ${bits + 1}], got $nprobe")
    // empty query frame (e.g. a 0-row streaming micro-batch): nothing
    // to check — the plan below yields an empty result
    vecDimOpt(queries, col("qe")).foreach { qDim =>
      require(qDim == dim,
        s"IVF index at $indexPath stores $dim-dim vectors but the " +
          s"query frame carries $qDim-dim vectors — the dot product " +
          "would silently truncate")
    }
    val lists = spark.read.parquet(s"$indexPath/lists")
    val q = quantized(queries.select(col("qid"), col("qe").as("__v"),
        signBucket(col("qe"), bits).as("__qb")))
      .select(col("qid"), col("__qb"), col("scale").as("__qscale"),
        col("qvec").as("__qq"))
    // multi-probe: own bucket + first nprobe−1 one-bit flips (topKIvf's
    // probe set — each stored vector lives in exactly one bucket and
    // probe buckets are distinct, so no pair dedup is needed)
    val probes = Seq(col("__qb")) ++
      (0 until (nprobe - 1)).map(i => col("__qb").bitwiseXOR(lit(1 << i)))
    val qp = q.withColumn("__probe", explode(array(probes: _*)))
    val selfCond = if (excludeSelf) col("vec_id") =!= col("qid") else lit(true)
    val scored = lists.join(broadcast(qp),
        col("bucket") === col("__probe") && selfCond)
      .select(col("qid"), col("vec_id"),
        round(quantizedDot(col("__qscale"), col("__qq"),
          col("scale"), col("qvec")), 6).as("sim_r"))
    val w = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }

  // ---------------------------------------------------------------------
  // Persisted IVF-PQ index — the [[writeIvfIndex]] lifecycle with
  // PRODUCT-QUANTIZED codes in the lists and true ADC scoring at probe
  // time (the FAISS IVFPQ shape): at 64-dim/m=8/k=16 a stored row is 8
  // one-byte codes instead of 64 int8s — a further 8× past
  // [[quantizeInt8]]'s 4×, which is what a 10⁹-vector store actually
  // ships. The codebook persists AS index state (the trained-centroid
  // rule), so appends and probes never re-supply it; codes are argmin
  // assignments with a rounded-distance/code tie-break, so append ≡
  // rebuild holds exactly as in the scalar-quantized family.
  // ---------------------------------------------------------------------

  /** The stored IVF-PQ row shape: (vec_id, bucket, codes ARRAY<TINYINT>)
    * — [[pqEncode]]'s argmin assignment with the sign bucket carried
    * through the min-struct groupBy (grouping by the functionally-
    * dependent bucket is free; re-joining it after a bare pqEncode
    * would cost a corpus-sized vec_id shuffle). Per-row width checked
    * against the recorded dim ([[requireWidth]]). */
  private def ivfPqRows(df: DataFrame, id: Column, vec: Column,
      cb: DataFrame, bits: Int, dim: Int, m: Int,
      subDim: Int): DataFrame = {
    val base = requireWidth(
      df.select(id.as("vec_id"), vec.as("__v"),
        signBucket(vec, bits).as("bucket")),
      col("__v"), col("vec_id"), dim, "IVF-PQ corpus/delta")
    val sub = base
      .select(col("vec_id"), col("bucket"),
        explode(sequence(lit(0), lit(m - 1))).as("j"), col("__v"))
      .select(col("vec_id"), col("bucket"), col("j"),
        slice(col("__v"), col("j") * subDim + 1, lit(subDim)).as("sv"))
    val d2 = aggregate(zip_with(col("sv"), col("cvec"),
        (a, b) => (a.cast("double") - b.cast("double"))
          * (a.cast("double") - b.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    sub.join(broadcast(cb), "j")
      .withColumn("d2_r", round(d2, 6))
      .groupBy("vec_id", "bucket", "j")
      .agg(min(struct(col("d2_r").as("d2_r"), col("code").as("code")))
        .as("__best"))
      .groupBy("vec_id", "bucket")
      .agg(transform(
        array_sort(collect_list(struct(col("j"), col("__best.code")))),
        s => s.getField("code").cast("byte")).as("codes"))
  }

  /** Loud-failure read of the IVF-PQ parameters recorded at write time:
    * (bits, dim, m, subDim, codesK). */
  private def readIvfPqParams(spark: SparkSession,
      path: String): (Int, Int, Int, Int, Int) = {
    val Seq(bits, dim, m, subDim, codesK) = graft.util.IndexMeta
      .readInts(spark, path, "bits", "dim", "m", "sub_dim", "codes_k")
    (bits, dim, m, subDim, codesK)
  }

  /** Persist an IVF-PQ index for [[topKAgainstIvfPqIndex]]: sign-bucket
    * inverted lists (partitioned by bucket — a probe reads only the
    * probed directories) holding PQ codes, with the CODEBOOK stored as
    * index state. `codebook` is any (j, code, cvec) frame —
    * [[pqSeedCodebook]] keeps the whole lifecycle deterministic and
    * oracle-checkable (the llm_sim_index_pq key), [[pqTrainCodebook]]
    * drops in for production recall with zero plan change (float
    * training ⇒ that path is test-pinned, the topKIvfTrained rule).
    * The PQ geometry must tile the vector width exactly (m·subDim =
    * dim) — a silent tail of unencoded dimensions would make every
    * ADC score wrong. Layout: `path/params.txt` = (bits, dim, m, sub_dim,
    * codes_k), `path/codebook`, `path/lists/bucket=*` = (vec_id,
    * codes). [[removeFromIvfIndex]]/[[compactIvfIndex]] work on the
    * lists table unchanged (same layout contract). Same non-atomic
    * multi-table caveat as [[writeIvfIndex]]. */
  def writeIvfPqIndex(corpus: DataFrame, id: Column, vec: Column,
      codebook: DataFrame, path: String, bits: Int = 8, m: Int = 8,
      subDim: Int = 8): Unit = {
    require(bits >= 1 && bits <= 30, s"bits must be in [1, 30], got $bits")
    val cols = codebook.columns.toSet
    require(Seq("j", "code", "cvec").forall(cols.contains),
      s"codebook frame must have columns 'j', 'code' and 'cvec' (got: " +
        s"${codebook.columns.mkString(", ")})")
    val spark = corpus.sparkSession
    import spark.implicits._
    val dim = vecDim(corpus, vec)
    require(m * subDim == dim,
      s"PQ geometry m=$m × subDim=$subDim must tile the vector width " +
        s"$dim exactly — a silent unencoded tail would corrupt every " +
        "ADC score")
    require(bits <= dim,
      s"bits=$bits exceeds the vector width $dim — signBucket reads " +
        "the first `bits` dimensions")
    val cdim = vecDim(codebook, col("cvec"))
    require(cdim == subDim,
      s"codebook centroids are $cdim-dim but subDim=$subDim")
    codebook.select(col("j"), col("code"), col("cvec"))
      .write.mode("overwrite").parquet(s"$path/codebook")
    val cb = spark.read.parquet(s"$path/codebook")
    val rows = ivfPqRows(corpus, id, vec, cb, bits, dim, m, subDim)
    // NOTE kept estimate-free (r16): Catalyst sizeInBytes for these
    // join-rooted encode plans is multiplied garbage — feeding it to
    // listWritePartitions over-partitioned the trained write (measured
    // 2.72 -> 3.10 s isolated) — so fresh writes keep the floor/cap
    // formula; only the REWRITE paths size by the live table's true FS
    // bytes.
    // the codes_k aggregate (recorded so the probe's LUT slot
    // arithmetic j·codesK + code can never drift from the stored
    // codebook — a bounded 1-row job, the centroid-fetch class) and
    // the corpus-sized lists write are INDEPENDENT once the codebook
    // is on disk: stage them from two driver threads (guide §2.6) so
    // the tiny count and the params sidecar hide under the lists
    // write's task tail (r16). Both sides are idempotent overwrites.
    graft.util.Par.both(
      {
        val codesK = cb.agg(countDistinct(col("code")).as("ck")).head()
          .getAs[Long]("ck").toInt
        graft.util.IndexMeta.writeInts(spark, path, "bits" -> bits,
          "dim" -> dim, "m" -> m, "sub_dim" -> subDim,
          "codes_k" -> codesK)
      },
      rows
        // one file per non-empty inverted list
        .repartition(listWritePartitions(spark, Some(1 << bits)),
          col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$path/lists"))
    ()
  }

  /** Append a delta shard to an IVF-PQ index: the shard encodes against
    * the STORED codebook at the recorded geometry — bucket and codes
    * are deterministic per vector given the stored state ⇒ append ≡
    * rebuild, the same certificate as [[appendToIvfIndex]]. Loud dim
    * mismatch; an empty shard is a no-op. */
  def appendToIvfPqIndex(delta: DataFrame, id: Column, vec: Column,
      path: String): Unit = {
    val spark = delta.sparkSession
    val (bits, dim, m, subDim, _) = readIvfPqParams(spark, path)
    vecDimOpt(delta, vec) match {
      case None => // empty shard: nothing to add (appendToIvfIndex rule)
      case Some(dDim) =>
        require(dDim == dim,
          s"IVF-PQ index at $path stores $dim-dim vectors but the " +
            s"delta carries $dDim-dim vectors — re-embed the shard or " +
            "rebuild the index")
        ivfPqRows(delta, id, vec,
            spark.read.parquet(s"$path/codebook"), bits, dim, m, subDim)
          // one file per touched list
          .repartition(listWritePartitions(spark, Some(1 << bits)),
            col("bucket"))
          .write.mode("append").partitionBy("bucket")
          .parquet(s"$path/lists")
    }
  }

  /** Top-k against a persisted IVF-PQ index by TRUE asymmetric-distance
    * computation: each query pre-computes its m·codesK LUT of
    * sub-dot-products against the stored codebook ONCE (query-side,
    * broadcast-sized), probes its own sign bucket plus `nprobe − 1`
    * one-bit-flip neighbor lists, and scores a stored row as the
    * j-sequential sum of m LUT lookups — the probe scan touches ONLY
    * the 1-byte codes (8 bytes/vector at m=8), never a reconstructed
    * vector, which is the whole IVFPQ point at 10⁹ rows: probe cost is
    * memory-bandwidth over Σ|probed lists| · m bytes. Scores equal
    * dot(query, pqReconstruct(row)) up to FP addition order (ApiSpec
    * pins the equivalence at 1e-6); deterministic per engine (fixed
    * fold order), so the seed-codebook key is oracle-checkable.
    * Same (qid, qe) contract and excludeSelf semantics as [[topK]].
    * Output: (qid, vec_id, sim_r, rk ≤ k). */
  def topKAgainstIvfPqIndex(spark: SparkSession, indexPath: String,
      queries: DataFrame, k: Int, nprobe: Int = 2,
      excludeSelf: Boolean = true): DataFrame = {
    requireQuerySchema(queries)
    require(k >= 1, s"k=$k must be positive")
    val (bits, dim, m, subDim, codesK) = readIvfPqParams(spark, indexPath)
    require(nprobe >= 1 && nprobe <= bits + 1,
      s"nprobe must be in [1, bits + 1 = ${bits + 1}], got $nprobe")
    // empty query micro-batches probe nothing (topKAgainstIvfIndex rule)
    vecDimOpt(queries, col("qe")).foreach { qDim =>
      require(qDim == dim,
        s"IVF-PQ index at $indexPath stores $dim-dim vectors but the " +
          s"query frame carries $qDim-dim vectors")
    }
    val cb = spark.read.parquet(s"$indexPath/codebook")
    val lists = spark.read.parquet(s"$indexPath/lists")
    // per-query ADC LUT: slot j·codesK + code → dot(query sub-slice,
    // centroid); assembled as one flat array per query via the
    // slot-sorted collect (the pqReconstruct idiom) — m·codesK doubles,
    // always broadcast-sized
    val qlut = queries
      .select(col("qid"), col("qe"),
        signBucket(col("qe"), bits).as("__qb"))
      .crossJoin(broadcast(cb))
      .select(col("qid"), col("__qb"),
        (col("j") * codesK + col("code")).as("__slot"),
        dot(slice(col("qe"), col("j") * subDim + 1, lit(subDim)),
          col("cvec")).as("__pdot"))
      .groupBy("qid", "__qb")
      .agg(transform(
        array_sort(collect_list(struct(col("__slot"), col("__pdot")))),
        s => s.getField("__pdot")).as("__lut"))
    val probes = Seq(col("__qb")) ++
      (0 until (nprobe - 1)).map(i => col("__qb").bitwiseXOR(lit(1 << i)))
    val qp = qlut.withColumn("__probe", explode(array(probes: _*)))
    val selfCond = if (excludeSelf) col("vec_id") =!= col("qid") else lit(true)
    // ADC score: Σ_j lut[j·codesK + codes[j]] in subspace order — a
    // fixed-order double fold over m lookups, codegen'd, no join to the
    // codebook on the corpus side
    val adc = aggregate(
      transform(col("codes"), (c, j) =>
        element_at(col("__lut"), j * codesK + c.cast("int") + 1)),
      lit(0.0), (acc, x) => acc + x)
    val scored = lists.join(broadcast(qp),
        col("bucket") === col("__probe") && selfCond)
      .select(col("qid"), col("vec_id"), round(adc, 6).as("sim_r"))
    val w = Window.partitionBy("qid").orderBy(col("sim_r").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
  }
}
