package graft.api

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import graft.functions.VectorExprs
import graft.util.{Pin, Store}

/** User-facing deduplication API over arbitrary DataFrames — the generic
  * forms behind the fixture-bound `SparkEntry` queries. A reference-library
  * user points these at their own corpus:
  *
  * {{{
  *   import graft.api.TextDedup
  *   val dups  = TextDedup.exact(docs, $"text", $"doc_id")
  *   val cands = TextDedup.nearMinhash(docs, $"doc_id", $"text")
  * }}}
  *
  * Scale contracts are inherited from the engine design (SCALE.md): hash
  * groupBys, streaming LSH self-joins, no O(n²), no driver collects.
  */
object TextDedup {

  /** Exact-duplicate groups by content hash: one row per distinct text,
    * with the kept (minimum) id and the copy count. */
  def exact(df: DataFrame, text: Column, id: Column): DataFrame =
    df.groupBy(md5(text).as("h"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup after whitespace/case normalization. */
  def normalized(df: DataFrame, text: Column, id: Column): DataFrame =
    exact(df, trim(regexp_replace(lower(text), "\\s+", " ")), id)

  /** MinHash-LSH near-duplicate pairs verified by shingle jaccard ≥
    * `minJaccard`, hashed in-engine with xxhash64 (shingles, minhashes
    * and band keys — [[Xxhash]]). Bands × rowsPerBand minhashes;
    * candidate generation is a streaming self-join on (band, signature)
    * — bounded state at any corpus size. Output: (doc_a, doc_b,
    * jaccard). */
  def nearMinhash(df: DataFrame, id: Column, text: Column,
      shingleWidth: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
      minJaccard: Double = 0.8): DataFrame =
    selfPairs(signShard(df, id, text, shingleWidth, bands, rowsPerBand,
      Xxhash), minJaccard)

  /** [[nearMinhash]] with ENGINE-PORTABLE hashing: the k minhash
    * functions are h_i(s) = md5(i ‖ ':' ‖ shingle) with the min taken
    * lexicographically on the hex digest, and band buckets are
    * md5-of-concatenated-rows — every step reproducible in any engine
    * with an md5 builtin, so unlike the xxhash64 variant this one is
    * DuckDB-oracle-checkable end to end (same banding theory, same
    * LSH-bounded candidate generation, exact jaccard verify on distinct
    * shingle sets). md5 costs ~4× xxhash64 per call — at 100 TB prefer
    * [[nearMinhash]] inside one engine and this variant when signatures
    * must match across engines (e.g. incremental dedup against an
    * external corpus index). Output: (doc_a, doc_b, jaccard 4 dp). */
  def nearMinhashMd5(df: DataFrame, id: Column, text: Column,
      shingleWidth: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
      minJaccard: Double = 0.8): DataFrame =
    selfPairs(signShard(df, id, text, shingleWidth, bands, rowsPerBand),
      minJaccard)

  /** Cross-frame variant of [[nearMinhashMd5]]: near-dup pairs BETWEEN
    * two corpora — the fuzzy-decontamination primitive (screen training
    * docs against a benchmark/eval set where exact n-gram matching
    * misses paraphrased leakage). Candidates come from a band-bucket
    * equi-join of the two signature sets (LSH-bounded, never |L|×|R|);
    * at 100 TB the right side is typically the small benchmark corpus,
    * and its signature frame — not its text — is what the join
    * broadcasts. Output: (doc_a from `left`, doc_b from `right`,
    * jaccard 4 dp). */
  def nearMinhashMd5Between(left: DataFrame, leftId: Column,
      leftText: Column, right: DataFrame, rightId: Column,
      rightText: Column, shingleWidth: Int = 3, bands: Int = 4,
      rowsPerBand: Int = 4, minJaccard: Double = 0.8): DataFrame = {
    // the two sides' pin chains are independent, so they run from two
    // driver threads (guide §2.6, r16): serially, four eager pin jobs
    // ran back to back with each underusing the cores; overlapped, one
    // side's k-digest pass back-fills the other's task tail. Both sides
    // collapse identical signatures — the big (train) side is the one
    // that really needs the hot-bucket guard.
    def side(df: DataFrame, id: Column, text: Column) =
      signShard(df, id, text, shingleWidth, bands, rowsPerBand)
    val (a, b) = graft.util.Par.both(side(left, leftId, leftText),
      side(right, rightId, rightText))
    crossPairs(a, b.bandSigs, Some(b.members), b.sh, minJaccard)
  }

  /** [[nearMinhashMd5]] with Kirsch–Mitzenmacher double hashing
    * ("Less Hashing, Same Performance", ESA 2006 — public): ONE md5
    * digest per shingle, split into two 32-bit halves (h1, h2); the k
    * minhash functions are h_i = h1 + i·h2 (exact in 64-bit — values
    * stay < 2³⁶, so the arithmetic is portable to engines with strict
    * BIGINT overflow like DuckDB). The same lattice ([[signShard]])
    * under the [[Km]] spec — at ~1/k of the md5 work, which is the
    * dominant cost of the 16-digest scheme. Use THIS
    * variant for portable signatures when both engines agree on the
    * scheme; [[nearMinhashMd5]]'s independent-digest form stays for
    * compatibility with already-written signature indexes. Output:
    * (doc_a, doc_b, jaccard 4 dp). */
  def nearMinhashKM(df: DataFrame, id: Column, text: Column,
      shingleWidth: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
      minJaccard: Double = 0.8): DataFrame =
    selfPairs(signShard(df, id, text, shingleWidth, bands, rowsPerBand,
      Km), minJaccard)

  /** Persist an md5-MinHash signature index for [[screenAgainstIndex]]
    * — the nightly-production incremental-dedup shape: the accumulated
    * corpus is signed ONCE and written as a parquet index
    * (__id, sh, band, sig); each new delta shard then screens against
    * the index with a band equi-join instead of re-signing (or even
    * re-reading) the corpus text. Signatures are the ENGINE-PORTABLE
    * md5 family ([[nearMinhashMd5]]), so an index written by any engine
    * with an md5 builtin interoperates — the reason to pay md5 over
    * xxhash64 here. Refresh cadence at scale: signatures are
    * deterministic per doc, so accepting a screened shard = appending
    * its signature rows to the index (no rebuild); compact
    * periodically, and rebuild only when shingle/band parameters
    * change. See SCALE.md.
    *
    * Layout: `path/sigs` = (__id, band, sig) band-bucket keys,
    * `path/shingles` = (__id, sh) verify operands — normalized so the
    * shingle arrays are stored ONCE per doc, not once per band row
    * (×bands), and the candidate join scans only the 32-byte key
    * table. */
  def writeSignatureIndex(df: DataFrame, id: Column, text: Column,
      path: String, shingleWidth: Int = 3, bands: Int = 4,
      rowsPerBand: Int = 4): Unit = {
    val spark = df.sparkSession
    // record the signature parameters IN the index: a parameter
    // mismatch at screen/append time changes every bucket key and would
    // otherwise silently screen nothing — readers require() a match
    Store.record(spark, path, "shingleWidth" -> shingleWidth,
      "bands" -> bands, "rowsPerBand" -> rowsPerBand)
    // shingles land first; the sig table derives from the WRITTEN
    // parquet, so the corpus is tokenized exactly once regardless of
    // scale (re-deriving from text would re-run split+distinct per
    // output; a pin would hold corpus-sized arrays in executor
    // memory). The multi-table write is not atomic: a failure
    // between writes leaves a partial index — re-run the write (it
    // overwrites), or stage to a temp path and rename on stores that
    // support atomic rename.
    // re-read with the schema just written: inferring it from the
    // files is one more Spark job per write
    val shingles = md5Shingles(df, id, text, shingleWidth)
    shingles.write.mode("overwrite").parquet(s"$path/shingles")
    val sh = spark.read.schema(shingles.schema).parquet(s"$path/shingles")
    md5BandSigs(sh, bands, rowsPerBand)
      .write.mode("overwrite").parquet(s"$path/sigs")
  }

  /** The COMPLETE nightly accept-screen over a delta shard: near-dups
    * vs the persisted index ([[screenAgainstIndex]]) AND within the
    * shard itself ([[nearMinhashMd5]] — pairs arriving together never
    * meet the index; pairwise keep-min retains the earliest id).
    * Returns the shard's surviving rows with all original columns —
    * exactly what [[appendToSignatureIndex]] then accepts. Streams per
    * micro-batch through [[graft.ops.Streaming.perBatch]]. */
  def dedupShardAgainstIndex(shard: DataFrame, id: Column, text: Column,
      indexPath: String, shingleWidth: Int = 3, bands: Int = 4,
      rowsPerBand: Int = 4, minJaccard: Double = 0.8): DataFrame = {
    // params first (before any pin job): a mismatch must fail before the
    // shard pays its signing pass
    openSignatureIndex(shard.sparkSession, indexPath, shingleWidth, bands,
      rowsPerBand)
    dedupSignedShardAgainstIndex(shard, id,
      signShard(shard, id, text, shingleWidth, bands, rowsPerBand),
      indexPath, minJaccard)
  }

  /** Eagerly-pinned MinHash signature lattice of one frame — the one
    * thing every MinHash entry point composes from (self pairs, cross
    * pairs against another lattice or against a persisted index, the
    * accept-screen), whatever its [[MinhashSpec]]. ONE shingle pass, ONE
    * k-minhash pass, ONE identical-signature collapse feed every screen
    * over it (the r12 rule). Built apart from the screens (r16, guide
    * §2.6) so a caller that pays an index WRITE in the same timed path
    * can sign the shard CONCURRENTLY with the write from a second driver
    * thread (graft.util.Par.both): the lattice is a pure function of its
    * frame and never touches an index. */
  private[graft] final case class SignedShard(sh: DataFrame,
      members: DataFrame, bandSigs: DataFrame,
      shingleWidth: Int, bands: Int, rowsPerBand: Int, spec: MinhashSpec)

  /** Build a [[SignedShard]]: the two pins run NOW (eager checkpoint
    * jobs — the shingle frame has three map-side consumers, the k-minhash
    * pass is the expensive step and the collapse reads it three times);
    * everything else stays lazy. Band rows carry ONLY (__id, band, sig)
    * and only REPRESENTATIVE rows reach them (the r6 exchange-volume
    * rule, the r10 hot-bucket guard). The default spec is [[Md5]], the
    * family of every persisted signature index. */
  private[graft] def signShard(df: DataFrame, id: Column, text: Column,
      shingleWidth: Int = 3, bands: Int = 4, rowsPerBand: Int = 4,
      spec: MinhashSpec = Md5): SignedShard = {
    val sh = Pin(spec.shingles(df, id, text, shingleWidth))
    val mh = Pin(spec.sigs(sh, bands * rowsPerBand))
    val (reps, members) = collapseSigGroups(mh, fullSigKey(col("mh")))
    SignedShard(sh, members, spec.banded(reps, bands, rowsPerBand),
      shingleWidth, bands, rowsPerBand, spec)
  }

  /** Verified near-dup pairs WITHIN one lattice: band self-join over the
    * representatives, member expansion, exact jaccard ≥ `minJaccard`.
    * Output: (doc_a, doc_b, jaccard 4 dp), doc_a < doc_b. */
  private def selfPairs(s: SignedShard, minJaccard: Double): DataFrame =
    jaccardVerify(joinShingles(
        expandSelfPairs(selfBandCandidates(s.bandSigs), s.members),
        s.sh, s.sh),
      s.spec, minJaccard)

  /** Verified near-dup pairs BETWEEN a lattice and another side given as
    * its band keys, member map (None when the side was not collapsed — a
    * persisted index, see [[expandCrossPairs]]) and shingle frame. The
    * candidate frame is LSH-bounded and broadcasts, so attaching the
    * other side's shingles is a map-side probe — never a shuffle of its
    * arrays. Output: (doc_a from `a`, doc_b from the other side,
    * jaccard 4 dp). */
  private def crossPairs(a: SignedShard, bSigs: DataFrame,
      bMembers: Option[DataFrame], bSh: DataFrame,
      minJaccard: Double): DataFrame =
    jaccardVerify(joinShingles(
        expandCrossPairs(crossBandCandidates(a.bandSigs, bSigs),
          Some(a.members), bMembers),
        a.sh, bSh),
      a.spec, minJaccard)

  /** [[crossPairs]] against the persisted index at `indexPath`, after the
    * index-params contract is re-checked against the lattice's. */
  private def indexPairs(a: SignedShard, indexPath: String,
      minJaccard: Double): DataFrame = {
    val spark = a.sh.sparkSession
    openSignatureIndex(spark, indexPath, a.shingleWidth, a.bands,
      a.rowsPerBand)
    crossPairs(a, spark.read.parquet(s"$indexPath/sigs"), None,
      spark.read.parquet(s"$indexPath/shingles"), minJaccard)
  }

  /** [[dedupShardAgainstIndex]] over a pre-built [[SignedShard]] —
    * bit-identical output (the public entry point delegates here). */
  private[graft] def dedupSignedShardAgainstIndex(shard: DataFrame,
      id: Column, signed: SignedShard, indexPath: String,
      minJaccard: Double = 0.8): DataFrame = {
    val inter = indexPairs(signed, indexPath, minJaccard)
      .select(col("doc_a"))
    val intra = selfPairs(signed, minJaccard)
      .select(col("doc_b").as("doc_a"))
    shard.join(inter.union(intra).distinct(), id === col("doc_a"),
      "left_anti")
  }

  /** [[Store.open]] a signature index with the caller's signing
    * params; an interrupted [[removeFromSignatureIndex]] is finished by
    * re-running it. */
  private def openSignatureIndex(spark: SparkSession, path: String,
      shingleWidth: Int, bands: Int, rowsPerBand: Int): Unit =
    Store.open(spark, path, "signature index", Seq(
        "shingleWidth" -> shingleWidth, "bands" -> bands,
        "rowsPerBand" -> rowsPerBand),
      "re-run removeFromSignatureIndex with the same ids (it is " +
        "idempotent) before screening or appending")

  /** Append a shard's signatures to an existing index — the accept step
    * of the nightly cycle ([[screenAgainstIndex]] survivors join the
    * corpus, so the NEXT delta must screen against them too).
    * Signatures are deterministic per doc, which is what makes append
    * (not rebuild) sufficient; parameters are checked against the
    * index's recorded write-time values (loud mismatch). Caller
    * guarantees the shard's ids are not already in the index (screen
    * survivors by construction). */
  def appendToSignatureIndex(df: DataFrame, id: Column, text: Column,
      path: String, shingleWidth: Int = 3, bands: Int = 4,
      rowsPerBand: Int = 4): Unit = {
    // materialize the SHARD-sized shingle frame once (not corpus-sized —
    // safe to pin) so the shard isn't tokenized twice; deriving sigs
    // from a re-read of the appended table would re-sign the WHOLE
    // index, defeating the append
    openSignatureIndex(df.sparkSession, path, shingleWidth, bands,
      rowsPerBand)
    Pin.scope { p =>
      val sh = p(md5Shingles(df, id, text, shingleWidth))
      sh.write.mode("append").parquet(s"$path/shingles")
      md5BandSigs(sh, bands, rowsPerBand)
        .write.mode("append").parquet(s"$path/sigs")
    }
  }

  /** DELETE docs from a persisted signature index — the
    * right-to-be-forgotten step every production index needs: both
    * tables (shingles, sigs) are rewritten WITHOUT the given ids via an
    * anti-join, staged in full, then committed together by
    * [[Store.replace]] (its crash contract applies; screens and
    * appends refuse a half-swapped index, and re-running the removal
    * is idempotent and repairs it). Params are untouched. After
    * removal, a screen behaves exactly as if the index had been
    * rebuilt without those docs (certified by the llm_dedup_forget
    * oracle). Do not run concurrently with an append or screen on the
    * same index.
    *
    * `ids` must carry a `doc_id` column. Cost: one scan+rewrite of each
    * table (the index is ~1% of corpus bytes — a cheap pass); the
    * removal set shuffles as bare ids. */
  def removeFromSignatureIndex(spark: SparkSession, path: String,
      ids: DataFrame): Unit = {
    // no broadcast hint: a typical forget list is tiny (AQE will
    // broadcast it), but a bulk purge can be corpus-scale — the
    // anti-join must stay valid either way. Both tables key docs as
    // `__id` (the md5Shingles/md5BandSigs contract).
    val rm = ids.select(col("doc_id").as("__id")).distinct()
    // the two anti-join rewrites are independent jobs, so Store stages
    // them from two driver threads and Spark back-fills one job's task
    // tail with the other's tasks (optimization guide §2.6 — r15,
    // measured: remove phase 0.95 → 0.55 s warm)
    Store.replace(spark, s"$path/shingles", s"$path/sigs") {
      (live, staged) => spark.read.parquet(live)
        .join(rm, Seq("__id"), "left_anti")
        .write.mode("overwrite").parquet(staged)
    }
  }

  /** Screen a delta shard against a PERSISTED signature index written
    * by [[writeSignatureIndex]]: candidate pairs from the (band, sig)
    * equi-join of the delta's signatures against the index — LSH-
    * bounded, never |delta| × |index| — then exact jaccard ≥
    * `minJaccard` on the stored shingle sets. The delta side is
    * typically a day's shard vs a corpus-sized index: what shuffles is
    * the delta's signature frame (tiny) and only the index rows whose
    * band buckets collide; the index parquet is read column-pruned
    * (sh loads only for verified candidates' rows). Parameters are
    * checked against the values recorded in the index at write time —
    * a mismatch changes every bucket key, so it fails loudly instead
    * of silently screening nothing. Output: (doc_a = delta id,
    * doc_b = index id, jaccard 4 dp). */
  def screenAgainstIndex(delta: DataFrame, id: Column, text: Column,
      indexPath: String, shingleWidth: Int = 3, bands: Int = 4,
      rowsPerBand: Int = 4, minJaccard: Double = 0.8): DataFrame = {
    // params first (before any pin job), as dedupShardAgainstIndex
    openSignatureIndex(delta.sparkSession, indexPath, shingleWidth, bands,
      rowsPerBand)
    indexPairs(signShard(delta, id, text, shingleWidth, bands, rowsPerBand),
      indexPath, minJaccard)
  }

  /** (doc_a, doc_b) distinct candidate pairs from ONE signature frame's
    * (band, sig) self-join, doc_a < doc_b — the LSH candidate stage
    * every self-dedup variant shares (xxhash64, md5, K-M, SimHash): one
    * definition, so a join fix lands everywhere at once. `near`, over
    * the `a.`/`b.` sides of the band rows, drops pairs inside the join,
    * before the dedup shuffle, when the rows carry what the verify
    * reads. */
  private[graft] def selfBandCandidates(sigs: DataFrame,
      near: Option[Column] = None): DataFrame = {
    val a = sigs.alias("a"); val b = sigs.alias("b")
    val band = col("a.band") === col("b.band") &&
      col("a.sig") === col("b.sig") && col("a.__id") < col("b.__id")
    a.join(b, near.fold(band)(band && _))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Cross-frame sibling of [[selfBandCandidates]]: candidates BETWEEN
    * two signature frames (no id-order constraint — the frames are
    * different id domains), with the same optional `near` predicate. */
  private def crossBandCandidates(aSigs: DataFrame, bSigs: DataFrame,
      near: Option[Column] = None): DataFrame = {
    val a = aSigs.alias("a"); val b = bSigs.alias("b")
    val band = col("a.band") === col("b.band") && col("a.sig") === col("b.sig")
    a.join(b, near.fold(band)(band && _))
      .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------------
  // Hot-LSH-bucket guard (r10): identical-signature collapse
  // ---------------------------------------------------------------------

  /** Collapse rows with an IDENTICAL full signature to one min-id
    * representative — the hot-LSH-bucket guard: g rows with the same
    * signature vector share EVERY band, so they all land in one bucket
    * and the band self-join emits g² candidate rows × bands (the one
    * latent quadratic at 100 TB — think a million boilerplate pages
    * that dodged exact dedup by a counter byte). Collapsing before the
    * band join caps each group's band-join contribution at ONE row per
    * band; [[expandSelfPairs]] / [[expandCrossPairs]] restore
    * member-level pairs afterwards, and the candidate SET is provably
    * identical: band keys are a pure function of the signature, so a
    * member pair matches some band iff its rep pair does, and same-sig
    * pairs — candidates by construction (all bands equal) — come back
    * as within-group expansion. The exact-jaccard / exact-hamming
    * verify downstream is untouched, so outputs are bit-identical.
    *
    * Grouping is by `groupKey` (a pure function of the signature — the
    * full vector itself, or its md5 when the vector is wide; the 128-bit
    * key's collision tolerance is the same one every band bucket here
    * already accepts) via groupBy + min, NOT a window: partial
    * aggregation combines the hot key map-side, which is exactly the
    * skew this guard exists for — a window would funnel the whole group
    * through one task. `frame` is consumed three times (groups, member
    * map, rep rows) — PIN it upstream.
    *
    * Returns (reps: `frame` restricted to representative rows minus the
    * key column, members: (__id, __rep)). */
  private[graft] def collapseSigGroups(frame: DataFrame,
      groupKey: Column): (DataFrame, DataFrame) = {
    val keyed = frame.withColumn("__fs", groupKey)
    val groups = keyed.groupBy("__fs").agg(min(col("__id")).as("__rep"))
    val members = keyed.select(col("__id"), col("__fs"))
      .join(groups, "__fs").select(col("__id"), col("__rep"))
    val reps = frame.join(groups.select(col("__rep").as("__id")),
      Seq("__id"), "left_semi")
    (reps, members)
  }

  /** Expand representative-level self-join candidates back to member
    * level: cross-group pairs route through the member map on both
    * sides (least/greatest restores the doc_a < doc_b order — rep order
    * does not imply member order), and every within-group pair is a
    * candidate by construction (all bands equal). The two sets are
    * disjoint (same group ⇔ same signature), so the union needs no
    * dedup. Output: (doc_a, doc_b), doc_a < doc_b. */
  private[graft] def expandSelfPairs(repPairs: DataFrame,
      members: DataFrame): DataFrame = {
    val cross = repPairs
      .join(members.select(col("__rep").as("doc_a"),
        col("__id").as("__ma")), "doc_a")
      .join(members.select(col("__rep").as("doc_b"),
        col("__id").as("__mb")), "doc_b")
      .select(least(col("__ma"), col("__mb")).as("doc_a"),
        greatest(col("__ma"), col("__mb")).as("doc_b"))
    val within = members.alias("x")
      .join(members.alias("y"),
        col("x.__rep") === col("y.__rep") && col("x.__id") < col("y.__id"))
      .select(col("x.__id").as("doc_a"), col("y.__id").as("doc_b"))
    cross.unionByName(within)
  }

  /** Cross-frame sibling of [[expandSelfPairs]]: each side expands
    * through its own member map when collapsed (None = that side was
    * not collapsed — e.g. a persisted index, which the accept-screen
    * discipline keeps free of identical-signature groups: a shard doc
    * whose signature already exists in the index is a jaccard-1 /
    * hamming-0 near-dup and is dropped before append). No within-group
    * component — the frames are different id domains. */
  private[graft] def expandCrossPairs(repPairs: DataFrame,
      membersA: Option[DataFrame],
      membersB: Option[DataFrame]): DataFrame = {
    val a = membersA.fold(repPairs)(m => repPairs
      .join(m.select(col("__rep").as("doc_a"), col("__id").as("__ma")),
        "doc_a")
      .select(col("__ma").as("doc_a"), col("doc_b")))
    membersB.fold(a)(m => a
      .join(m.select(col("__rep").as("doc_b"), col("__id").as("__mb")),
        "doc_b")
      .select(col("doc_a"), col("__mb").as("doc_b")))
  }

  /** Full-signature group key for an array-typed signature column:
    * md5 of the joined string forms — 32 bytes through the collapse
    * shuffles instead of the full vector. */
  private[graft] def fullSigKey(mh: Column): Column =
    md5(concat_ws("|", transform(mh, v => v.cast("string"))))

  /** (\_\_id, sh) distinct `shingleWidth`-gram shingles per doc — the
    * jaccard-verify operand of the md5 MinHash family. */
  private def md5Shingles(df: DataFrame, id: Column, text: Column,
      shingleWidth: Int): DataFrame =
    df.select(id.as("__id"), split(text, " ").as("tk"))
      .filter(size(col("tk")) >= shingleWidth)
      .select(col("__id"),
        VectorExprs.wordShingles(col("tk"), shingleWidth).as("sh"))

  /** What one MinHash variant is; everything else — the two pins, the
    * identical-signature collapse, the band join, member expansion and
    * the exact jaccard verify — is the one lattice ([[signShard]],
    * [[selfPairs]], [[crossPairs]]). `shingles` builds the (\_\_id, sh)
    * verify operand, `minhash` the k-vector signature of `sh`,
    * `bandKey(mh, b, rowsPerBand)` band b's bucket key, `interSize` the
    * verify's set-intersection size. The three instances below are the
    * variants, not an extension point. */
  private[graft] final class MinhashSpec private[TextDedup] (
      val shingles: (DataFrame, Column, Column, Int) => DataFrame,
      minhash: (Column, Int) => Column,
      bandKey: (Column, Int, Int) => Column,
      val interSize: (Column, Column) => Column) {

    /** (\_\_id, mh) k-vector signatures of a [[shingles]] frame — the
      * banding-independent half, apart so [[lshAudit]] computes the ONE
      * k=16 signature pass its bands options share (r9). */
    def sigs(sh: DataFrame, k: Int): DataFrame =
      sh.select(col("__id"), minhash(col("sh"), k).as("mh"))

    /** (\_\_id, band, sig) band-bucket rows of a [[sigs]] frame.
      * Deliberately does NOT carry `sh`: band rows ride the candidate
      * self-join exchange, and shuffling the full shingle array ×bands
      * was 4× the bytes the join needs (r6 fix) — the verify joins
      * candidates back to the shingle frame instead, map-side (the
      * candidate side is LSH-bounded and broadcasts). */
    def banded(mh: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
      val bandCols = (0 until bands).map(b => struct(lit(b).as("band"),
        bandKey(col("mh"), b, rowsPerBand).as("sig")))
      mh.select(col("__id"), explode(array(bandCols: _*)).as("bs"))
        .select(col("__id"),
          col("bs.band").as("band"), col("bs.sig").as("sig"))
    }
  }

  /** The engine-portable variant and the family of every persisted
    * signature index: string shingles ([[VectorExprs.wordShingles]]),
    * k md5 minhashes (ONE native-expression traversal keeping the k
    * minima as raw digests — bit-identical to the k-chain
    * array_min(transform(sh, s => md5(concat(lit(s"$i:"), s)))) it
    * replaces; ApiSpec, golden and oracle pin the equality), md5 of each
    * band's joined rows. */
  private val Md5 = new MinhashSpec(md5Shingles,
    VectorExprs.minhashMd5,
    (mh, b, r) => md5(concat_ws("|", slice(mh, b * r + 1, r))),
    (a, b) => size(array_intersect(a, b)))

  /** [[nearMinhash]]'s in-engine variant: sorted distinct xxhash64
    * shingle hashes (8-byte values, never text), xxhash64 minhashes and
    * band keys, and a merge-walk intersection over the sorted arrays. */
  private val Xxhash = new MinhashSpec(
    (df, id, text, w) => df.select(id.as("__id"),
        array_sort(VectorExprs.shingleHashes(split(text, " "), w)).as("sh"))
      .filter(size(col("sh")) > 0),
    VectorExprs.minhashSig,
    (mh, b, r) =>
      xxhash64((0 until r).map(i => element_at(mh, b * r + i + 1)): _*),
    VectorExprs.sortedInterSize)

  /** [[nearMinhashKM]]'s Kirsch–Mitzenmacher variant: [[Md5]]'s shingles
    * and verify; k minima from ONE digest per shingle in one
    * native-expression traversal (the HOF spelling pays an interpreted
    * closure per (i, shingle) — measured 5× slower than even the
    * 16-digest scheme; bit-identity to the HOF chain is pinned in
    * ApiSpec); mh is array<long>, so the band key stringifies each value
    * before the md5-of-joined-rows. */
  private val Km = new MinhashSpec(md5Shingles, VectorExprs.minhashKM,
    (mh, b, r) => md5(concat_ws("|",
      transform(slice(mh, b * r + 1, r), v => v.cast("string")))),
    Md5.interSize)

  /** (\_\_id, band, sig) [[Md5]] band-bucket keys of a [[md5Shingles]]
    * frame — the persisted `sigs` table. */
  private def md5BandSigs(sh: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame =
    Md5.banded(Md5.sigs(sh, bands * rowsPerBand), bands, rowsPerBand)

  /** Attach both sides' shingle arrays to a (doc_a, doc_b) candidate
    * frame: (doc_a, doc_b, sa, sb) for [[jaccardVerify]]. */
  private def joinShingles(cand: DataFrame, shA: DataFrame,
      shB: DataFrame): DataFrame =
    cand
      .join(shA.select(col("__id").as("doc_a"), col("sh").as("sa")),
        "doc_a")
      .join(shB.select(col("__id").as("doc_b"), col("sh").as("sb")),
        "doc_b")

  /** Exact jaccard on distinct shingle sets over (doc_a, doc_b, sa, sb)
    * candidate pairs, intersected by the lattice's spec; keeps pairs at
    * or above `minJaccard`. */
  private def jaccardVerify(pairs: DataFrame, spec: MinhashSpec,
      minJaccard: Double): DataFrame = {
    val inter = spec.interSize(col("sa"), col("sb")).cast("double")
    val union = (size(col("sa")) + size(col("sb"))).cast("double") - inter
    pairs.select(col("doc_a"), col("doc_b"),
        round(inter / union, 4).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Token-set jaccard near-dups on pairs bounded by an equi-key bucket
    * (`bucket` column) — never all-pairs. Output: (bucket, doc_a, doc_b,
    * jac rounded 4 dp). `prefilterSlack` must stay below the rounded
    * threshold (see LlmOps scaladoc on the 0.9499 edge).
    *
    * Candidate enumeration joins on (bucket, size-band), not bucket alone
    * — the length filter from the similarity-join literature (Arasu et al.
    * VLDB'06; Bayardo et al. WWW'07 "All-Pairs"). Any pair passing the
    * token-count ratio prefilter `min/max ≥ r` has sizes within factor
    * 1/r, so with geometric bands of base g where ln(1/r)/ln(g) < 1 the
    * two docs land in the same or adjacent band; the left side emits
    * {band, band+1} and the right side its own band, which finds every
    * such pair exactly once. Within a bucket this turns the O(n²) pair
    * scan into Σ|band|·|adjacent band| — the difference between a skewed
    * 5-task enumeration and an evenly-spread equi-join at corpus scale. */
  def jaccardWithinBucket(df: DataFrame, id: Column, bucket: Column,
      text: Column, minJaccard: Double = 0.95,
      prefilterSlack: Double = 0.0001): DataFrame =
    jaccardWithinBucketOnLattice(hashedTokenLattice(df, id, bucket, text),
      minJaccard, prefilterSlack)

  /** The PINNED hashed-token lattice [[jaccardWithinBucket]] runs on —
    * (__id, __bucket, tk = sorted distinct xxhash64 token array, ntk) —
    * exposed so a downstream re-scorer can share the one tokenize +
    * hash + sort pass instead of re-reading corpus text (the
    * llm_lang_segments lattice-sharing precedent; see
    * [[weightedJaccardOnLattice]]).
    *
    * PINNED (r12): the frame has FOUR consumers on DIFFERENT shuffle
    * keys — both sides of the (bucket, band) pair join plus the
    * doc_a / doc_b verify joins — so ReuseExchange never unifies them
    * and the tokenize + hash + sort lineage would re-evaluate four
    * times per call (the opposite situation from the r8
    * weightedJaccardOnPairs tok finding, whose consumers share one
    * exchange). */
  def hashedTokenLattice(df: DataFrame, id: Column, bucket: Column,
      text: Column): DataFrame =
    Pin(df.select(id.as("__id"), bucket.as("__bucket"),
        array_sort(array_distinct(transform(split(text, " "),
          w => xxhash64(w)))).as("tk"))
      .withColumn("ntk", size(col("tk"))))

  /** [[jaccardWithinBucket]] over an already-built (already-pinned)
    * [[hashedTokenLattice]] frame — the lattice-sharing entry point. */
  def jaccardWithinBucketOnLattice(t: DataFrame,
      minJaccard: Double = 0.95,
      prefilterSlack: Double = 0.0001): DataFrame = {
    val r = minJaccard - prefilterSlack
    val banded = if (r > 0.01) {
      // g chosen so the band gap of a ratio-passing pair is ≤ 0.9 < 1
      val g = math.exp(math.log(1.0 / r) / 0.9)
      t.withColumn("band",
        floor(log(greatest(col("ntk"), lit(1)).cast("double")) /
          math.log(g)).cast("long"))
    } else t.withColumn("band", lit(0L)) // no usable prefilter: one band
    // candidate rows carry keys only — shipping each doc's token-hash
    // array through the pair exchange (×2 for the a-side's two bandkeys)
    // was most of the shuffle bytes; the verify joins the bounded
    // candidate set back to `t` instead (r6 exchange-volume rule)
    val keyed = banded.select(col("__id"), col("__bucket"), col("ntk"),
      col("band"))
    val a = keyed
      .withColumn("bandkey", explode(array(col("band"), col("band") + 1)))
      .alias("a")
    val b = keyed.withColumn("bandkey", col("band")).alias("b")
    // equal bands pair once via the id order; adjacent bands pair once via
    // the lower side's band+1 key (the reverse orientation never matches)
    val cand = a.join(b, col("a.__bucket") === col("b.__bucket") &&
          col("a.bandkey") === col("b.bandkey") &&
          (col("a.band") =!= col("b.band") || col("a.__id") < col("b.__id")) &&
          least(col("a.ntk"), col("b.ntk")).cast("double") >=
            greatest(col("a.ntk"), col("b.ntk")) * r)
      .select(col("a.__bucket").as("bucket"),
        least(col("a.__id"), col("b.__id")).as("doc_a"),
        greatest(col("a.__id"), col("b.__id")).as("doc_b"))
    // no pair dedup needed: the equal/adjacent band orientation rules
    // above make every candidate pair match exactly once
    val pairs = cand
      .join(t.select(col("__id").as("doc_a"), col("tk").as("ta")), "doc_a")
      .join(t.select(col("__id").as("doc_b"), col("tk").as("tb")), "doc_b")
    val inter = VectorExprs.sortedInterSize(col("ta"), col("tb"))
      .cast("double")
    val union = (size(col("ta")) + size(col("tb"))).cast("double") - inter
    pairs.select(col("bucket"), col("doc_a"), col("doc_b"),
        round(inter / union, 4).as("jac"))
      .filter(col("jac") >= minJaccard)
  }

  /** Exact jaccard near-dup pairs within an equi-key bucket with
    * PREFIX-FILTERED candidate generation — [[jaccardWithinBucket]]'s
    * skew-proof sibling and the candidate stage `llm_dedup_apply` runs.
    *
    * Why a prefix filter and not MinHash banding in front of this
    * verify: the operator's contract is EXACT (every pair with token-set
    * jaccard ≥ `minJaccard` is found), so the candidate stage needs
    * deterministic 100% recall — a probabilistically-missed borderline
    * pair would silently keep a duplicate document. LSH banding is the
    * right candidate stage for [[nearMinhash]]'s own sketch-based
    * contract; the prefix filter (Chaudhuri et al. ICDE'06 "SSJoin";
    * Bayardo et al. WWW'07 "All-Pairs") is its deterministic equivalent:
    * with every doc's distinct hashed tokens sorted in one global order,
    * emit only the first p = n − ⌈r·n⌉ + 1 of them; any pair with
    * jaccard ≥ r must share at least one EMITTED token. (Proof: the
    * globally-smallest common token e has only non-shared tokens before
    * it on either side, and each side has at most n − ⌈r·n⌉ = p − 1 of
    * those, so e sits within both prefixes.) Candidate generation is
    * then an equi-join on (bucket, prefix-token) with the size-ratio
    * prefilter riding in the join condition.
    *
    * Scale shape vs [[jaccardWithinBucket]]'s size-band join: the pair
    * space groups by (bucket, prefix-token), and prefix tokens are the
    * r-tail's smallest xxhash64 values — effectively a ~(1−r) uniform
    * random sample of each doc's vocabulary, so a bucket that one
    * source dominates no longer yields a |bucket|²-shaped join; group
    * sizes are bounded by per-token document frequency × the ~(1−r)
    * sampling. At minJaccard = 0.95 each doc emits ~5% of its distinct
    * tokens + 1. Output: (bucket, doc_a, doc_b, jac 4 dp) — identical
    * contract to [[jaccardWithinBucket]] (equivalence property-pinned
    * in ApiSpec). */
  def jaccardPrefixFiltered(df: DataFrame, id: Column, bucket: Column,
      text: Column, minJaccard: Double = 0.95,
      prefilterSlack: Double = 0.0001): DataFrame = {
    val r = minJaccard - prefilterSlack
    require(r > 0.0 && r < 1.0,
      s"minJaccard - prefilterSlack = $r must be in (0, 1) for the " +
        "prefix-length bound n - ceil(r*n) + 1 to hold")
    val t = df.select(id.as("__id"), bucket.as("__bucket"),
        array_sort(array_distinct(transform(split(text, " "),
          w => xxhash64(w)))).as("tk"))
      .withColumn("ntk", size(col("tk")))
    // p = n − ceil(r·n) + 1; the slack keeps the rounded-threshold edge
    // (a true jaccard of 0.94995 rounding up to the 0.95 gate) inside
    // the guarantee, exactly as in jaccardWithinBucket's ratio prefilter
    // prefix rows carry keys only — each exploded prefix token would
    // otherwise duplicate the doc's whole token-hash array through the
    // pair exchange (×p per side); the verify joins the bounded
    // candidate set back to `t` instead (r6 exchange-volume rule)
    val pref = t.select(col("__id"), col("__bucket"), col("ntk"),
      explode(slice(col("tk"), lit(1),
        (col("ntk") - ceil(col("ntk") * r) + 1).cast("int"))).as("__ptok"))
    val a = pref.alias("a"); val b = pref.alias("b")
    val cand = a.join(b, col("a.__bucket") === col("b.__bucket") &&
          col("a.__ptok") === col("b.__ptok") &&
          col("a.__id") < col("b.__id") &&
          least(col("a.ntk"), col("b.ntk")).cast("double") >=
            greatest(col("a.ntk"), col("b.ntk")) * r)
      .select(col("a.__bucket").as("bucket"),
        col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b") // pairs sharing >1 prefix token
    val pairs = cand
      .join(t.select(col("__id").as("doc_a"), col("tk").as("ta")), "doc_a")
      .join(t.select(col("__id").as("doc_b"), col("tk").as("tb")), "doc_b")
    val inter = VectorExprs.sortedInterSize(col("ta"), col("tb"))
      .cast("double")
    val union = (size(col("ta")) + size(col("tb"))).cast("double") - inter
    pairs.select(col("bucket"), col("doc_a"), col("doc_b"),
        round(inter / union, 4).as("jac"))
      .filter(col("jac") >= minJaccard)
  }

  /** CONTAINMENT near-dup pairs within an equi-key bucket: pairs where
    * the smaller doc's shingle set is ≥ `minContainment` contained in
    * the larger's — |A∩B| / |A| with A the shingle-smaller side. This is
    * the asymmetric case jaccard-based dedup structurally misses: a
    * 100-shingle doc fully embedded in a 10 000-shingle doc has jaccard
    * ≈ 0.01 but containment 1.0 (quote farms, boilerplate wrappers,
    * re-posts with long prefaces).
    *
    * Candidate generation adapts the prefix filter to the asymmetric
    * overlap bound: containment ≥ c needs |A∩B| ≥ ⌈c·|A|⌉ shared
    * shingles, so if NONE of A's (|A| − ⌈c·|A|⌉ + 1) smallest shingles
    * were shared, the remaining overlap tops out at ⌈c·|A|⌉ − 1 — at
    * least one prefix shingle must be shared (100% recall). The big
    * side cannot be prefix-bounded (its share of A can sit anywhere in
    * it), so the join probes A's prefix against the big side's FULL
    * shingle inventory on (bucket, shingle): pair-space is bounded by
    * per-shingle document frequency, and w-token shingles (not tokens)
    * keep that df small — the selectivity knob. Output: (bucket,
    * doc_small, doc_big, containment 4 dp). The shingle frame is
    * corpus-sized and pinned for four consumers ([[graft.util.Pin]]
    * states what a pin survives). */
  def containmentWithinBucket(df: DataFrame, id: Column, bucket: Column,
      text: Column, minContainment: Double = 0.9,
      shingleWidth: Int = 3,
      prefilterSlack: Double = 0.0001): DataFrame = {
    // the slack keeps the rounded-threshold edge inside the recall
    // guarantee (a true containment of 0.89995 rounds up to the 0.9
    // gate — the prefix bound must be computed at r, not c; same rule
    // as jaccardWithinBucket)
    val c = minContainment
    val r = c - prefilterSlack
    require(r > 0.0 && c <= 1.0,
      s"minContainment - prefilterSlack = $r must be in (0, 1]")
    // MATERIALIZED once for its four consumers (prefix explode, full
    // inventory explode, both verify joins) — without the pin each one
    // re-runs the corpus tokenization + shingle sort (the
    // langIdConfusion multiple-consumer hazard)
    val base = Pin(df.select(id.as("__id"), bucket.as("__bucket"),
        split(text, " ").as("tk"))
      .filter(size(col("tk")) >= shingleWidth)
      .select(col("__id"), col("__bucket"), array_sort(
        VectorExprs.wordShingles(col("tk"), shingleWidth)).as("sh"))
      .withColumn("nsh", size(col("sh"))))
    // prefix rows carry keys only (the exchange-volume rule); the
    // verify joins the bounded candidate set back to `base`
    val pref = base.select(col("__id"), col("__bucket"), col("nsh"),
      explode(slice(col("sh"), lit(1),
        (col("nsh") - ceil(col("nsh") * r) + 1).cast("int"))).as("__ps"))
    val inv = base.select(col("__id"), col("__bucket"), col("nsh"),
      explode(col("sh")).as("__ps"))
    val a = pref.alias("a"); val b = inv.alias("b")
    val cand = a.join(b, col("a.__bucket") === col("b.__bucket") &&
          col("a.__ps") === col("b.__ps") &&
          (col("a.nsh") < col("b.nsh") ||
            (col("a.nsh") === col("b.nsh") &&
              col("a.__id") < col("b.__id"))))
      .select(col("a.__bucket").as("bucket"),
        col("a.__id").as("doc_small"), col("b.__id").as("doc_big"))
      .dropDuplicates("doc_small", "doc_big")
    val pairs = cand
      .join(base.select(col("__id").as("doc_small"), col("sh").as("sa")),
        "doc_small")
      .join(base.select(col("__id").as("doc_big"), col("sh").as("sb")),
        "doc_big")
    pairs.select(col("bucket"), col("doc_small"), col("doc_big"),
        round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(col("sa")).cast("double"), 4).as("containment"))
      .filter(col("containment") >= c)
  }

  /** Connected components over an undirected near-duplicate edge list —
    * the pairs→clusters step that turns pairwise dedup output into "keep
    * one doc per cluster". Each node maps to the minimum id reachable in
    * its component (the canonical cluster id); nodes with no edge are not
    * emitted (singletons are their own cluster by definition).
    *
    * Two-phase execution. Phase 1 (only when the edge list exceeds
    * `localFinishEdges`): min-label propagation to a fixpoint — every
    * round is one shuffle equi-join + partial-agg min, state is exactly
    * one (node, label) row per member, rounds bounded by component
    * diameter. Each round MUST truncate lineage (a pin): the
    * step references `labels` twice, so without truncation the logical
    * plan doubles every round and Catalyst analysis alone goes
    * exponential — the classic iterative-Spark failure mode. Phase 2
    * ("local finish", the standard endgame of every production CC engine):
    * once the edge list fits one task's memory, a single-task union-find
    * replaces further O(diameter) rounds, whose per-round scheduling cost
    * would dominate on a shrinking graph. Near-dup edge lists after
    * LSH/jaccard verification are tiny relative to the corpus (pairs, not
    * documents), so at ANY corpus scale the distributed rounds run only
    * while they genuinely pay for themselves. At extreme scale prefer the
    * large-star/small-star variant [[clustersStar]] (O(log²) rounds
    * regardless of diameter). Round state is pinned through
    * [[graft.util.Pin]], which states what survives executor loss.
    */
  /** Canonical-member election under a QUALITY policy: given cluster
    * membership (doc_id, cluster_id, …) and a per-doc `score`, mark the
    * highest-scoring member of each cluster as the survivor (doc_id
    * tie-break) — the production keep rule: near-dup groups keep their
    * BEST document, not their first-seen one (keep-first is what the
    * `llm_dedup_apply` family does; this is the quality-aware upgrade,
    * typically fed by the learned [[Quality]] margin).
    *
    * Scale shape: ONE window partitioned by cluster_id — per-cluster
    * sort only, bounded by cluster size (the connected-components output
    * already bounds components via its own fixpoint), never a global
    * sort. */
  def keepBestByScore(members: DataFrame, score: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(score.desc, col("doc_id"))
    members.withColumn("keep", row_number().over(w) === 1)
  }

  def clusters(pairs: DataFrame, a: Column, b: Column,
      maxIters: Int = 25,
      localFinishEdges: Long = DefaultLocalFinishEdges): DataFrame =
    Pin.scope { p =>
      // each round's pin supersedes the previous generation — a
      // long-lived session that kept them degraded ~25 % over ~170 bench
      // queries
      val fwd = p.next(pairs.select(a.as("x"), b.as("y")))
      if (fwd.count() <= localFinishEdges) localComponents(p.keep(fwd))
      else {
        val edges = p(fwd.union(fwd.select(col("y").as("x"),
          col("x").as("y"))))
        var labels = p.next(edges.select(col("x").as("node")).distinct()
          .withColumn("label", col("node")))
        var changed = 1L
        var iter = 0
        while (changed > 0 && iter < maxIters) {
          val nbrMin = edges.join(labels, col("y") === col("node"))
            .groupBy(col("x")).agg(min(col("label")).as("nbr_label"))
          val joined = p.next(labels.join(nbrMin,
              col("node") === col("x"), "left")
            .select(col("node"), col("label"),
              least(col("label"), coalesce(col("nbr_label"), col("label")))
                .as("newl")))
          changed = joined.filter(col("newl") < col("label")).count()
          labels = joined.select(col("node"), col("newl").as("label"))
          iter += 1
        }
        // a silently non-converged result would split one component into
        // several cluster_ids and callers would KEEP duplicate docs — fail
        // loudly instead (raise maxIters, or switch to large-star/small-star)
        require(changed == 0,
          s"clusters() did not converge within $maxIters rounds — " +
            "component diameter exceeds the cap; raise maxIters or use " +
            "the large-star/small-star variant for deep-chain graphs")
        p.keep(labels.select(col("node"), col("label").as("cluster_id")))
      }
    }

  /** Connected components by alternating large-star/small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC 2014 —
    * public): the deep-graph alternative to [[clusters]]' plain min-label
    * propagation. Plain propagation needs O(diameter) rounds — a chain of
    * near-dup docs (common in crawl data: A≈B≈C≈…) makes that linear;
    * star contraction converges in O(log² n) rounds regardless of shape.
    *
    * Per round (both halves are groupBy-min + shuffle equi-join — no
    * neighbor-list collect, state one row per edge):
    *  - large-star: every neighbor v > u links to m = min(N(u) ∪ {u});
    *  - small-star: with edges directed high→low, every neighbor (all
    *    ≤ u) and u itself link to m.
    * Fixpoint: the edge set stops changing; every edge then points at its
    * component's minimum, which is exactly [[clusters]]' labeling (the
    * equivalence is property-tested on random graphs). Same pin
    * discipline as [[clusters]]: truncate lineage every round, release
    * superseded generations, pin the labeling and release the rest. */
  def clustersStar(pairs: DataFrame, a: Column, b: Column,
      maxIters: Int = 50,
      localFinishEdges: Long = DefaultLocalFinishEdges): DataFrame =
    Pin.scope { p =>
      // the pairs input is typically the expensive stage (an LSH/jaccard
      // self-join): pin the projection ONCE so the edge canonicalization
      // and the self-pair branch below both read the materialization,
      // never re-running the join
      val fwd0 = p.next(pairs.select(a.as("u"), b.as("v")))
      // same two-phase contract as clusters(): star rounds only while the
      // edge list exceeds one task's memory, then a single-task finish
      if (fwd0.count() <= localFinishEdges) localComponents(p.keep(fwd0))
      else {
        // self-pairs carry no connectivity but DO declare their node: keep
        // them as singleton components, exactly like clusters() does
        // (tiny, pinned so fwd0 can release after the initial edge set)
        val selfs = p(fwd0.filter(col("u") === col("v"))
          .select(col("u").as("n")).distinct())
        var e = p.next(fwd0.filter(col("u") =!= col("v"))
          .select(greatest(col("u"), col("v")).as("u"),
            least(col("u"), col("v")).as("v"))
          .distinct())
        var eCount = e.count()
        var changed = 1L
        var iter = 0
        while (changed > 0 && iter < maxIters) {
          // large-star over the BIDIRECTIONAL view: m(u) = min(N(u) ∪ {u});
          // strictly-larger neighbors re-link to m
          val bidir = e.union(e.select(col("v").as("u"), col("u").as("v")))
          val mL = bidir.groupBy("u")
            .agg(least(min(col("v")), first(col("u"))).as("m"))
          val afterLarge = bidir.filter(col("v") > col("u"))
            .join(mL, "u")
            .select(col("v").as("u"), col("m").as("v"))
            .filter(col("u") =!= col("v"))
          // small-star over the high→low direction: u and every (≤)
          // neighbor link to m
          val mS = afterLarge.groupBy("u")
            .agg(least(min(col("v")), first(col("u"))).as("m"))
          val withM = afterLarge.join(mS, "u")
          // held, not `next`: the fixpoint check below still reads e
          val next = p(withM.select(col("v").as("u"), col("m").as("v"))
            .union(withM.select(col("u"), col("m").as("v")))
            .filter(col("u") =!= col("v"))
            .select(greatest(col("u"), col("v")).as("u"),
              least(col("u"), col("v")).as("v"))
            .distinct())
          // set equality in 1 count + at most 1 anti-join: |next| = |e|
          // plus next ⊆ e (both distinct sets) ⇒ next = e — halves the
          // old two-exceptAll check's per-round job cost
          val nextCount = next.count()
          changed =
            if (nextCount != eCount) 1L
            else next.exceptAll(e).limit(1).count()
          Pin.release(e)
          e = next
          eCount = nextCount
          iter += 1
        }
        require(changed == 0,
          s"clustersStar() did not converge within $maxIters rounds")
        // at the fixpoint every edge is (member, component-min): members
        // read off the u side, centers label themselves from the v side —
        // every connected node appears (real edges are u ≠ v, so
        // components have ≥ 2 members), no join back to the input needed
        val connected = e.select(col("u").as("node"),
            col("v").as("cluster_id"))
          .union(e.select(col("v").as("node"), col("v").as("cluster_id"))
            .distinct())
        // nodes seen ONLY as self-pairs become singleton components
        val singletons = selfs
          .join(connected.select(col("node").as("n")), Seq("n"), "left_anti")
          .select(col("n").as("node"), col("n").as("cluster_id"))
        // one pin for the labeling, so the round state and selfs release
        p.keep(p(connected.union(singletons)))
      }
    }

  /** Edge-count bound for the single-task union-find finish: 4M edges ≈
    * two ids + map entry per edge ≈ a few hundred MB in one task — far
    * below executor memory, far above any near-dup edge list a bounded
    * LSH candidate stage emits per corpus shard. Callers pass 0 to force
    * the distributed rounds (tests do, to drive phase 1 end-to-end). */
  val DefaultLocalFinishEdges: Long = 4000000L

  /** Phase-2 "local finish": exact union-find (path compression) over an
    * edge list known to fit one task. NOT a driver collect — the fold
    * runs inside a single executor task via `mapPartitions`, and the
    * caller's threshold bounds its memory. Ids may be any Catalyst
    * atomic type (external forms are all `Comparable`); the emitted
    * cluster_id is the component minimum, identical to the distributed
    * engines' labeling. Null ids cannot join in the distributed path and
    * are skipped here too. */
  private def localComponents(edges: DataFrame): DataFrame = {
    val dt = edges.schema.head.dataType
    val out = edges.coalesce(1).rdd.mapPartitions { it =>
      val parent = new java.util.HashMap[Any, Any]()
      def find(x: Any): Any = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) {
          val nx = parent.get(c); parent.put(c, r); c = nx
        }
        r
      }
      def add(x: Any): Unit =
        if (!parent.containsKey(x)) parent.put(x, x)
      it.foreach { row =>
        val u = row.get(0); val v = row.get(1)
        if (u != null && v != null) {
          add(u); add(v)
          val ru = find(u); val rv = find(v)
          if (ru != rv) parent.put(ru, rv)
        }
      }
      val keys = new scala.collection.mutable.ArrayBuffer[Any](parent.size)
      val ki = parent.keySet.iterator()
      while (ki.hasNext) keys += ki.next()
      val minOf = new java.util.HashMap[Any, Any]()
      keys.foreach { k =>
        val r = find(k)
        val cur = minOf.get(r)
        if (cur == null || k.asInstanceOf[Comparable[Any]].compareTo(cur) < 0)
          minOf.put(r, k)
      }
      keys.iterator.map(k => Row(k, minOf.get(find(k))))
    }
    edges.sparkSession.createDataFrame(out, StructType(Seq(
      StructField("node", dt), StructField("cluster_id", dt))))
  }

  /** 64-bit SimHash signature per row (one-pass native expression). */
  def simhash(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("doc_id"),
      VectorExprs.simhash64(array_distinct(split(text, " "))).as("simhash"))

  /** SimHash near-dup pairs from PRECOMPUTED signatures: the 64-bit value
    * splits into `bands` equal bands; by pigeonhole any pair within
    * hamming distance `bands - 1` shares at least one intact band, so
    * candidate generation is an equi-join on (band, value) — bounded per
    * bucket, never all-pairs — through the shared band engine
    * ([[selfBandCandidates]], hot buckets collapsed by
    * [[collapseSigGroups]] and restored by [[expandSelfPairs]]), and the
    * verify is one codegen'd bit_count(xor), applied inside the band join
    * and again over each expanded pair's signatures. `maxHamming` must
    * stay ≤ bands - 1 or recall silently drops; when 64 is not a multiple
    * of `bands` the top 64 mod bands bits lie in no band, which the exact
    * verify still counts. Null signatures never pair. Output: (doc_a,
    * doc_b, hamming). */
  def simhashPairs(sigs: DataFrame, id: Column, sig: Column,
      maxHamming: Int = 3, bands: Int = 4): DataFrame = {
    require(bands >= 2 && bands <= 64,
      s"bands=$bands out of range [2,64]: bands=1 would make the band mask " +
        "(1L << 64) wrap to 0 (JVM shifts are mod 64) and degenerate the " +
        "candidate join to all-pairs; bands>64 gives zero-width bands")
    require(maxHamming <= bands - 1,
      s"pigeonhole broken: maxHamming=$maxHamming needs > $maxHamming bands")
    val width = 64 / bands
    val mask = -1L >>> (64 - width)
    // the signature frame is 16 bytes/doc — pinned, three consumers (the
    // collapse and both verify sides). Null signatures never equi-join
    // in the band buckets — keep that contract by excluding them before
    // the collapse (a null GROUP would otherwise emit within-group pairs
    // the band join never made)
    val sigsSel = Pin(sigs.select(id.as("__id"), sig.as("__sig"))
      .filter(col("__sig").isNotNull))
    val (reps, members) = collapseSigGroups(sigsSel, col("__sig"))
    def ham(a: String, b: String) = bit_count(col(a).bitwiseXOR(col(b)))
    val banded = reps.select(col("__id"), col("__sig"),
        explode(array((0 until bands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("__sig"), b * width)
              .bitwiseAND(lit(mask)).as("sig"))): _*)).as("bs"))
      .select(col("__id"), col("__sig"),
        col("bs.band").as("band"), col("bs.sig").as("sig"))
    // band rows carry the signature, so far pairs that merely share one
    // band are dropped inside the band join: most of its output on
    // low-entropy text, and none of it need reach the dedup shuffle
    val near = ham("a.__sig", "b.__sig") <= maxHamming
    expandSelfPairs(selfBandCandidates(banded, Some(near)), members)
      .join(sigsSel.select(col("__id").as("doc_a"), col("__sig").as("__sa")),
        "doc_a")
      .join(sigsSel.select(col("__id").as("doc_b"), col("__sig").as("__sb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), ham("__sa", "__sb").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** The classic signature-based near-dup dedup: [[simhash]] signatures →
    * [[simhashPairs]] banded pairing. */
  def nearSimhash(df: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3): DataFrame = {
    val sigs = simhash(df, id, text)
    simhashPairs(sigs, col("doc_id"), col("simhash"), maxHamming)
  }

  /** Near-dup pairs from FOUR 16-bit hamming-LSH bands — the shared
    * verify core of the dHash (sources.Multimodal) and md5-SimHash
    * families. `bw` must be the PINNED (\_\_id, \_\_bd ARRAY<INT> of 4)
    * band frame (three consumers). Candidates are pairs sharing ≥ 1
    * band (equi-join, LSH-bounded, hot buckets collapsed via
    * [[collapseSigGroups]] — within-group pairs are hamming-0
    * candidates by construction). Far pairs are dropped inside the band
    * join ([[nearBands]]), before the dedup shuffle and the member
    * expansion: a rep pair's hamming is each of its member pairs'. The
    * verify is [[hammingVerify]], which produces the output column.
    * Output: (doc_a, doc_b, hamming), doc_a < doc_b. */
  private[graft] def bandedHammingPairs(bw: DataFrame,
      maxDist: Int): DataFrame = {
    requireHammingComplete(maxDist)
    val (reps, members) = collapseSigGroups(bw, col("__bd"))
    hammingVerify(
      expandSelfPairs(
        selfBandCandidates(bandRows(reps), Some(nearBands(maxDist))),
        members),
      bw, bw, maxDist)
  }

  /** Cross-frame sibling of [[bandedHammingPairs]] — shard band frame
    * `sb` (PINNED (\_\_id, \_\_bd)) against an index band frame `ib`.
    * BOTH sides run the [[collapseSigGroups]] hot-bucket guard (r11):
    * nothing enforces the accept-screen's no-identical-signatures
    * precondition on an arbitrary index (a rebuilt one, a fixture with
    * planted dups), and g identical index rows would turn every matching
    * probe into g band-join rows. The member expansion reinstates every
    * (shard, index) pair before the verify, so outputs are identical;
    * far pairs are dropped inside the band join ([[nearBands]]).
    * Output: (doc_a = shard id, doc_b = index id, hamming ≤ maxDist). */
  private[graft] def bandedHammingCrossPairs(sb: DataFrame, ib: DataFrame,
      maxDist: Int): DataFrame = {
    requireHammingComplete(maxDist)
    val (reps, members) = collapseSigGroups(sb, col("__bd"))
    val (repsB, membersB) = collapseSigGroups(ib, col("__bd"))
    hammingVerify(
      expandCrossPairs(crossBandCandidates(bandRows(reps), bandRows(repsB),
          Some(nearBands(maxDist))),
        Some(members), Some(membersB)),
      sb, ib, maxDist)
  }

  /** PIGEONHOLE: hamming ≤ 3 differs in ≤ 3 of 4 bands ⇒ every pair the
    * verify keeps shares a band, so recall is deterministically 1.0 —
    * `maxDist` is capped at 3 to keep that guarantee. */
  private def requireHammingComplete(maxDist: Int): Unit =
    require(maxDist >= 0 && maxDist <= 3,
      s"maxDist=$maxDist: the 4-band screen is complete only for " +
        "hamming <= 3 (pigeonhole); shrink maxDist or add bands")

  /** (\_\_id, \_\_bd, band, sig) band-bucket rows of a (\_\_id, \_\_bd)
    * frame — each row keeps its full band array for [[nearBands]]. */
  private def bandRows(bd: DataFrame): DataFrame =
    bd.select(col("__id"), col("__bd"),
      posexplode(col("__bd")).as(Seq("band", "sig")))

  /** Exact 64-bit hamming of two 4-band arrays: Σ bit_count(xor). */
  private def bandHamming(x: Column, y: Column): Column =
    (0 until 4).map(k =>
      bit_count(element_at(x, k + 1).bitwiseXOR(element_at(y, k + 1))))
      .reduce(_ + _)

  /** The band-join `near` predicate of the 4-band families: the `a.`
    * and `b.` band rows' full hamming is at most `maxDist`. */
  private def nearBands(maxDist: Int): Column =
    bandHamming(col("a.__bd"), col("b.__bd")) <= maxDist

  /** Exact 64-bit hamming ([[bandHamming]]) of (doc_a, doc_b)
    * candidates, doc_a's bands from `a`, doc_b's from `b`; keeps pairs
    * at or below `maxDist`. */
  private def hammingVerify(cand: DataFrame, a: DataFrame, b: DataFrame,
      maxDist: Int): DataFrame = {
    val ham = bandHamming(col("__ba"), col("__bb"))
    cand
      .join(a.select(col("__id").as("doc_a"), col("__bd").as("__ba")),
        "doc_a")
      .join(b.select(col("__id").as("doc_b"), col("__bd").as("__bb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"), ham.cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** Persist a 4-band hamming index: the (\_\_id, \_\_bd) frame lands as
    * `path/bands`, ~20 bytes/doc — the one layout the md5-SimHash and
    * dHash indexes share. Band rows are deterministic per input, so
    * accepting a screened shard = appending its rows (mode("append")). */
  private[graft] def writeBandIndex(bd: DataFrame, path: String): Unit =
    bd.select(col("__id"), col("__bd"))
      .write.mode("overwrite").parquet(s"$path/bands")

  /** The keep-min DROP SET of a 4-band accept-screen — the one
    * definition both band families use: `bd` is the shard's PINNED
    * (\_\_id, \_\_bd) frame (it feeds both screens), output is one
    * `__drop_id` column naming every shard member with a near-dup in the
    * [[writeBandIndex]] index at `path` or an EARLIER near-dup within
    * the shard itself (pairs arriving together never meet the index;
    * keep-min retains the smallest id). */
  private[graft] def bandDrops(bd: DataFrame, path: String,
      maxDist: Int = 3): DataFrame = {
    val inter = bandedHammingCrossPairs(bd,
        bd.sparkSession.read.parquet(s"$path/bands"), maxDist)
      .select(col("doc_a"))
    val intra = bandedHammingPairs(bd, maxDist)
      .select(col("doc_b").as("doc_a"))
    inter.union(intra).distinct().select(col("doc_a").as("__drop_id"))
  }

  /** md5-derived SimHash band signature: per-doc DISTINCT tokens, token
    * bit i = bit i of md5(token) (hex nibble c = i/4, bit 3−i%4), per-bit
    * balance = Σ over tokens of ±1, sign bits (balance > 0; exact-zero
    * ties → 0, deterministic) packed as FOUR 16-bit band values — the
    * dHash band geometry. The engine-reproducible twin of the native
    * xxhash [[simhash]]: every step (md5, integer balances, sign packs,
    * band join, hamming) is expressible in DuckDB, so the whole pipeline
    * is hash-checkable end to end — the same upgrade the MinHash family
    * got from `llm_dedup_minhash_md5`. One token-stream scan: 64 integer
    * sums ride a single partial aggregation (map-side combine; the
    * shuffle carries 64 ints + id per doc, never tokens). */
  def simhashMd5Bands(df: DataFrame, id: Column, text: Column): DataFrame =
    // ONE row-level pass ([[VectorExprs.md5SimhashBands]], r16): one md5
    // per distinct token, 64 integer votes, sign bits packed as the four
    // 16-bit bands — bit-identical to the previous (doc, bit) LATTICE
    // spelling (64 exploded rows per token + two shuffled aggregations;
    // isolated llm_dedup_simhash_apply 3.3 → ~1.9 s warm, and the bands
    // phase itself 1.54 → ~0.15 s). The 64-sum(CASE)-aggregates
    // alternative the lattice replaced in r10 is moot now — the
    // expression is one tight JIT'd loop per row, no aggregation at
    // all. NULL-vote and empty-array semantics mirror the lattice
    // exactly (see the expression scaladoc); the isNotNull filter
    // reproduces explode's drop of token-less docs.
    df.select(id.as("__id"),
        graft.functions.VectorExprs.md5SimhashBands(
          array_distinct(split(text, " "))).as("__bd"))
      .filter(col("__bd").isNotNull)

  /** md5-SimHash near-dup pairs over [[simhashMd5Bands]] signatures via
    * [[bandedHammingPairs]] (pigeonhole-complete ≤ 3, hot buckets
    * collapsed). Output: (doc_a, doc_b, hamming), doc_a < doc_b. */
  def nearSimhashMd5(df: DataFrame, id: Column, text: Column,
      maxDist: Int = 3): DataFrame =
    bandedHammingPairs(Pin(simhashMd5Bands(df, id, text)), maxDist)

  /** Persist an md5-SimHash band index ([[writeBandIndex]]) — the
    * nightly form of SimHash dedup: deltas screen with a band equi-join
    * instead of re-tokenizing the corpus. */
  def writeSimhashMd5Index(df: DataFrame, id: Column, text: Column,
      path: String): Unit =
    writeBandIndex(simhashMd5Bands(df, id, text), path)

  /** The complete nightly accept-screen for md5-SimHash dedup: shard
    * members in the [[bandDrops]] keep-min drop set are dropped;
    * survivors keep all original columns. ONE pinned band frame feeds
    * both screens (r12) — the per-token md5 fold is the expensive step. */
  def simhashMd5DedupShardAgainstIndex(shard: DataFrame, id: Column,
      text: Column, path: String, maxDist: Int = 3): DataFrame =
    shard.join(
      bandDrops(Pin(simhashMd5Bands(shard, id, text)), path, maxDist),
      id === col("__drop_id"), "left_anti")

  /** min-k shingle-hash fingerprint per row (winnowing-style). */
  def fingerprint(df: DataFrame, id: Column, text: Column,
      shingleWidth: Int = 3, k: Int = 8): DataFrame =
    df.withColumn("__hs",
        VectorExprs.shingleHashes(split(text, " "), shingleWidth))
      .filter(size(col("__hs")) >= k)
      .select(id.as("doc_id"),
        slice(array_sort(col("__hs")), 1, k).as("fingerprint"))

  /** Corpus-wide duplicate-chunk fraction — the shardable approximation
    * of exact-substring dedup (a suffix array doesn't partition; disjoint
    * fixed-width chunk hashing does): each doc splits into disjoint
    * `chunkTokens`-token chunks, chunks hash to md5, and a doc's score is
    * the fraction of its chunks whose hash occurs more than once in the
    * WHOLE corpus (in-doc repeats count — templated self-repetition is
    * the same signal). Output: (doc_id, n_chunks, n_dup_chunks,
    * dup_chunk_frac RAW double).
    *
    * Scale shape: one explode → md5 (map-side), one groupBy on the
    * 32-byte hash, one equi-join back, one per-doc aggregate — shuffle
    * volume is hashes, never text. High dup_chunk_frac with a unique
    * full-text hash = partial template reuse, the case document-level
    * dedup misses (complements [[exact]]/[[nearMinhash]]). */
  /** Rolling-shingle exact-substring duplication stats — the shardable
    * approximation of suffix-array substring dedup ("Deduplicating
    * Training Data Makes Language Models Better", Lee et al. 2022,
    * public; a suffix array doesn't partition, overlapping window
    * hashing does). Every w = `windowTokens` consecutive tokens hash at
    * EVERY position, so any exact repeat of ≥ w tokens is caught
    * regardless of alignment — the case [[dupChunkFrac]]'s disjoint
    * chunks provably miss (a repeat shifted by one token straddles its
    * chunk boundaries; the recall pin in ApiSpec plants exactly that).
    * Output per doc: (doc_id, n_windows, n_dup_windows, dup_window_frac
    * RAW double, max_dup_run, max_dup_span_tokens), where a window is
    * "dup" when its text occurs at more than one (doc, position)
    * corpus-wide (in-doc repeats count — templated self-repetition is
    * the same signal), max_dup_run is the longest streak of consecutive
    * dup windows and max_dup_span_tokens = run + w − 1 is the length of
    * the longest exactly-duplicated token span it certifies.
    *
    * Scale shape: one explode → md5 (map-side), one groupBy on the
    * 32-byte hash, one equi-join back, one per-doc aggregate plus a
    * per-doc window pass for the run length — shuffle volume is hashes
    * and positions, never text. Overlap costs w× the hash rows of
    * [[dupChunkFrac]] — that is the recall price, and why both exist:
    * chunk hashing for a cheap screen, rolling windows when alignment
    * robustness matters (it usually does before training). `xxHash =
    * true` switches the window key to the 8-byte xxhash64 long — 4×
    * fewer hash bytes in the shuffle than the 32-byte md5 hex, the
    * in-engine production spelling (survivor-equality vs the md5 path
    * pinned in ApiSpec); the md5 default is what keeps the stats
    * engine-portable and DuckDB-oracle-checkable. `skewSafe = true`
    * swaps the occurrence window for a pinned groupBy +
    * join-back — map-side partial counts + AQE-splittable equi-join —
    * for corpora with heavy-hitter boilerplate windows (same output,
    * pinned). */
  def dupSubstringStats(df: DataFrame, id: Column, text: Column,
      windowTokens: Int = 8, xxHash: Boolean = false,
      skewSafe: Boolean = false): DataFrame = {
    require(windowTokens >= 2,
      s"windowTokens=$windowTokens must be >= 2 (1 would degrade to " +
        "token frequency)")
    val w = windowTokens
    // occurrence counts via a window over the hash, not groupBy + join
    // back: the join spelling re-derives the corpus tokenization for
    // the probe side (two full passes); the window shuffles the same
    // (doc, pos, h) rows by h ONCE and flags in place. TRADE-OFF: the
    // window gives up map-side partial agg and AQE skewed-partition
    // splitting, so one ubiquitously repeated window (license
    // boilerplate at web scale) funnels all its occurrences through a
    // single task. `skewSafe = true` is the heavy-hitter spelling: the
    // window frame materializes ONCE (a pin), the
    // occurrence counts come from a map-side-combinable groupBy over it
    // (a boilerplate hash arrives at its reducer as ≤ #map-tasks
    // partial counts, not raw occurrences), and the flag join back is
    // an AQE-splittable equi-join. Same rows out, pinned in ApiSpec;
    // SCALE.md r8 entry prices the crossover.
    val wins = rollingWindows(
      df.select(id.as("doc_id"), split(text, " ").as("__tk")), w, xxHash)
    val flagged =
      if (skewSafe) {
        val w0 = Pin(wins)
        val freq = w0.groupBy("h").agg(count(lit(1)).as("__n_occ"))
        w0.join(freq, Seq("h"))
          .select(col("doc_id"), col("pos"), (col("__n_occ") > 1).as("dup"))
      } else {
        val hW = org.apache.spark.sql.expressions.Window.partitionBy("h")
        wins.withColumn("dup", count(lit(1)).over(hW) > 1)
          .select(col("doc_id"), col("pos"), col("dup"))
      }
    val perDoc = flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("dup"), 1L).otherwise(0L)).as("n_dup_windows"))
    // longest consecutive-dup streak: gaps-and-islands on the dup
    // positions (pos − row_number is constant within a streak) — one
    // per-doc window pass over dup windows only
    val runW = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val runs = flagged.filter(col("dup"))
      .withColumn("__g", col("pos") - row_number().over(runW))
      .groupBy(col("doc_id"), col("__g"))
      .agg(count(lit(1)).as("__len"))
      .groupBy("doc_id").agg(max(col("__len")).as("__max_run"))
    perDoc.join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        (col("n_dup_windows").cast("double") /
          col("n_windows").cast("double")).as("dup_window_frac"),
        coalesce(col("__max_run"), lit(0L)).as("max_dup_run"),
        when(col("__max_run").isNull, 0L)
          .otherwise(col("__max_run") + (w - 1)).as("max_dup_span_tokens"))
  }

  /** The APPLY step of [[dupSubstringStats]] — materialize the corpus
    * with exactly-duplicated token spans REMOVED, keeping the globally
    * first occurrence (Lee et al. 2022's substring-dedup transform, in
    * its shardable rolling-window realization): a token is cut when any
    * w-token window covering it occurs at an earlier (doc, position)
    * anywhere in the corpus. Earlier = the minimum of the packed key
    * doc_id·10⁶ + pos, so `id` must be a non-negative integral column
    * and docs must stay under 10⁶ tokens (any corpus shards to that).
    *
    * Output: (doc_id, n_tokens, n_kept, text_dedup) — docs whose entire
    * content duplicates earlier text come back with n_kept = 0 and an
    * empty string, exactly what a training-set materialization wants.
    *
    * Scale shape: the window/canonical stages are [[dupSubstringStats]]'s
    * (hash shuffles only); the removal join is an equi-join on doc_id
    * with the coverage band as a residual predicate — per-doc bounded,
    * never corpus×corpus — and the rebuild is one per-doc aggregate
    * (sort inside the row, no global sort). */
  def dedupSubstrings(df: DataFrame, id: Column, text: Column,
      windowTokens: Int = 8, xxHash: Boolean = false): DataFrame = {
    require(windowTokens >= 2,
      s"windowTokens=$windowTokens must be >= 2")
    val w = windowTokens
    val toks = df.select(id.as("doc_id"), split(text, " ").as("__tk"))
    removeCoveredSpans(toks,
      laterOccurrences(rollingWindows(toks, w, xxHash)), w)
  }

  /** Windows whose text occurs at an earlier packed (doc·10⁶ + pos) key
    * — the non-canonical occurrences a substring apply cuts. One window
    * pass over the hash (count + min in the same shuffle); the groupBy
    * + join-back spelling would tokenize the corpus twice. Output:
    * (__fd, __fp). */
  private def laterOccurrences(wins: DataFrame): DataFrame = {
    val hW = org.apache.spark.sql.expressions.Window.partitionBy("h")
    wins
      // the packed key needs doc_id >= 0 and < 10⁶ window positions per
      // doc; a violating corpus would silently elect WRONG canonical
      // spans, so the precondition is enforced per row, not just
      // documented (assert_true is codegen'd — two integer compares in
      // the exchange that already moves every window; a filter, so
      // column pruning cannot drop it). Mirrors the loud windowTokens-
      // mismatch check in dedupSubstringsAgainstIndex.
      .filter(assert_true(col("doc_id") >= 0L && col("pos") < 1000000L,
        lit("substring dedup packed-key precondition violated: needs " +
          "doc_id >= 0 and < 1e6 tokens per doc — split oversized docs " +
          "or remap ids")).isNull)
      .withColumn("__n_occ", count(lit(1)).over(hW))
      .withColumn("__cn",
        min(col("doc_id") * 1000000L + col("pos")).over(hW))
      .filter(col("__n_occ") > 1 &&
        col("doc_id") * 1000000L + col("pos") =!= col("__cn"))
      .select(col("doc_id").as("__fd"), col("pos").as("__fp"))
  }

  /** (doc_id, pos, h) rolling w-token window hashes over a
    * (doc_id, __tk) token frame — the lattice both substring engines
    * share. `xx` switches the window key from the 32-byte md5 hex
    * (engine-portable, oracle-checkable) to the 8-byte xxhash64 long
    * (4× fewer shuffle bytes — the in-engine production spelling; all
    * downstream plumbing is hash-type-agnostic: grouping, semi-joins
    * and packed-key election never look inside `h`). */
  private def rollingWindows(toks: DataFrame, w: Int,
      xx: Boolean = false): DataFrame =
    toks
      .filter(size(col("__tk")) >= w)
      .select(col("doc_id"), explode(transform(
          sequence(lit(1), size(col("__tk")) - (w - 1)),
          i => {
            val winText = concat_ws(" ", slice(col("__tk"), i, lit(w)))
            struct(i.as("pos"),
              (if (xx) xxhash64(winText) else md5(winText)).as("h"))
          }))
        .as("__w"))
      .select(col("doc_id"), col("__w.pos").as("pos"), col("__w.h").as("h"))

  /** Cut every token covered by a flagged (doc, window-start) span and
    * rebuild the docs — the shared apply stage: equi-join on doc_id
    * with the coverage band as residual, per-doc rebuild sorting inside
    * the row. `flagged` carries (__fd, __fp). */
  private[graft] def removeCoveredSpans(toks: DataFrame,
      flagged: DataFrame, w: Int): DataFrame = {
    val tok = toks
      .select(col("doc_id"),
        posexplode(col("__tk")).as(Seq("__p0", "token")))
      .select(col("doc_id"), (col("__p0") + 1).as("t"), col("token"))
    val kept = tok.join(flagged,
      col("doc_id") === col("__fd") && col("t") >= col("__fp") &&
        col("t") <= col("__fp") + (w - 1), "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("t"), col("token")))),
          s => s("token"))).as("text_dedup"))
    toks.select(col("doc_id"), size(col("__tk")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** Persist the corpus's distinct rolling-window hashes as a parquet
    * index for INCREMENTAL substring dedup — the nightly sibling of
    * [[writeSignatureIndex]]: the accumulated corpus is windowed once;
    * each delta shard then cuts spans against the index without
    * re-reading corpus text ([[dedupSubstringsAgainstIndex]]). The
    * index stores one 32-byte md5 per DISTINCT window (engine-portable,
    * any md5-capable engine can write or probe it); `windowTokens` is
    * recorded and checked at read time — a mismatch changes every hash
    * and would silently cut nothing. Accepting a screened shard =
    * appending its distinct window hashes (`mode("append")` on the
    * hashes table); compact periodically. */
  def writeSubstringIndex(df: DataFrame, id: Column, text: Column,
      path: String, windowTokens: Int = 8): Unit = {
    Store.record(df.sparkSession, path, "windowTokens" -> windowTokens)
    rollingWindows(df.select(id.as("doc_id"), split(text, " ").as("__tk")),
        windowTokens)
      .select("h").distinct()
      .write.mode("overwrite").parquet(s"$path/hashes")
  }

  /** ACCEPT a screened delta shard into a [[writeSubstringIndex]] index:
    * append the shard's distinct window hashes to the hashes table —
    * the nightly loop GROWS its index instead of re-windowing the whole
    * accumulated corpus each refresh (the [[appendToSignatureIndex]]
    * pattern). Set-correct by construction: the probe is a semi-join on
    * the hash, so rows duplicated between the index and the shard change
    * nothing — distinct-of-union ≡ union-of-distincts (grown ≡ rebuilt,
    * pinned in ApiSpec). Duplicates and per-append small files DO
    * accumulate bytes; [[compactSubstringIndex]] on its own cadence.
    * `windowTokens` is checked against the recorded width. */
  def appendToSubstringIndex(df: DataFrame, id: Column, text: Column,
      path: String, windowTokens: Int = 8): Unit = {
    Store.open(df.sparkSession, path, "substring index",
      Seq("windowTokens" -> windowTokens))
    rollingWindows(df.select(id.as("doc_id"), split(text, " ").as("__tk")),
        windowTokens)
      .select("h").distinct()
      .write.mode("append").parquet(s"$path/hashes")
  }

  /** Compact a substring index in place: global re-distinct of the
    * hashes table + one rewrite — collapses cross-append duplicate rows
    * and the per-append small files (a bytes/file-count concern, never
    * a correctness one; the probe semi-join is duplicate-blind).
    * Committed by [[Store.replace]]. Do not run concurrently with a
    * probe or append on the same index. */
  def compactSubstringIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = compactHashes(spark, path)

  /** Re-distinct `<path>/hashes` (substring and line indexes). */
  private def compactHashes(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    Store.replace(spark, s"$path/hashes") { (live, staged) =>
      spark.read.parquet(live).distinct()
        .write.mode("overwrite").parquet(staged)
    }

  /** Incremental substring dedup of a delta shard against a
    * [[writeSubstringIndex]] corpus index: a delta token is cut when a
    * covering window's text exists ANYWHERE in the indexed corpus
    * (every corpus occurrence is by definition earlier than the delta)
    * OR at an earlier packed (doc, pos) within the shard itself — so
    * when delta ids sort after corpus ids, the result equals
    * [[dedupSubstrings]] over corpus ∪ delta restricted to the delta
    * (pinned in ApiSpec). The join probes the hashes table on the
    * 32-byte key — corpus text is never re-read, and the index is a
    * fraction of corpus bytes. Output: [[dedupSubstrings]]'s schema,
    * delta rows only. */
  def dedupSubstringsAgainstIndex(shard: DataFrame, id: Column,
      text: Column, indexPath: String, windowTokens: Int = 8): DataFrame = {
    // params first (before any pin job): a mismatch must fail before the
    // shard pays its window pass
    Store.open(shard.sparkSession, indexPath, "substring index",
      Seq("windowTokens" -> windowTokens))
    dedupWindowedShardAgainstIndex(
      windowShard(shard, id, text, windowTokens), indexPath)
  }

  /** The eagerly-pinned window lattice of a delta shard, with the width
    * its windows were cut at — built apart from the screen (r16, guide
    * §2.6) so a caller that also pays the index WRITE in the same timed
    * path can window the shard concurrently with the write
    * (graft.util.Par.both). SHARD-sized — safe to pin (the
    * appendToSignatureIndex precedent): `toks` feeds the window lattice
    * plus removeCoveredSpans' two projections, `wins` feeds the index
    * probe plus the intra-shard rule; without the pins each consumer
    * re-tokenizes the shard. */
  private[graft] final case class WindowedShard(toks: DataFrame,
      wins: DataFrame, windowTokens: Int)

  private[graft] def windowShard(shard: DataFrame, id: Column,
      text: Column, windowTokens: Int): WindowedShard = {
    val toks = Pin(shard.select(id.as("doc_id"), split(text, " ").as("__tk")))
    WindowedShard(toks, Pin(rollingWindows(toks, windowTokens)), windowTokens)
  }

  /** [[dedupSubstringsAgainstIndex]] over a pre-built [[WindowedShard]]
    * — bit-identical output (the public entry point delegates here),
    * with the index's recorded width checked against the width the
    * lattice was cut at. */
  private[graft] def dedupWindowedShardAgainstIndex(shard: WindowedShard,
      indexPath: String): DataFrame = {
    val spark = shard.toks.sparkSession
    Store.open(spark, indexPath, "substring index",
      Seq("windowTokens" -> shard.windowTokens))
    val inCorpus = shard.wins
      .join(spark.read.parquet(s"$indexPath/hashes"), Seq("h"), "left_semi")
      .select(col("doc_id").as("__fd"), col("pos").as("__fp"))
    removeCoveredSpans(shard.toks,
      inCorpus.unionByName(laterOccurrences(shard.wins)).distinct(),
      shard.windowTokens)
  }

  def dupChunkFrac(df: DataFrame, id: Column, text: Column,
      chunkTokens: Int = 8): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens=$chunkTokens must be >= 1")
    val chunks = df
      .select(id.as("doc_id"), split(text, " ").as("__tk"))
      .select(col("doc_id"), explode(transform(
          sequence(lit(0),
            ceil(size(col("__tk")) / chunkTokens.toDouble).cast("int") - 1),
          i => concat_ws(" ",
            slice(col("__tk"), i * chunkTokens + 1, lit(chunkTokens)))))
        .as("__chunk"))
      .select(col("doc_id"), md5(col("__chunk")).as("__h"))
    // occurrence counts via a window over the hash (one shuffle, one
    // tokenization) — the groupBy + join-back spelling re-derives the
    // chunk lattice for the probe side (see dedupSubstrings)
    val chunkW = org.apache.spark.sql.expressions.Window.partitionBy("__h")
    chunks.withColumn("__n_occ", count(lit(1)).over(chunkW))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__n_occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        (col("n_dup_chunks").cast("double") / col("n_chunks").cast("double"))
          .as("dup_chunk_frac"))
  }

  // === Line-level (paragraph) dedup — the CCNet/Dolma spelling ==========
  // Wenzek et al. 2019 (CCNet) dedupe web text at PARAGRAPH granularity:
  // hash each normalized line, drop repeats corpus-wide. Dolma and
  // FineWeb ship the same transform. It complements the token-window
  // family above: lines follow AUTHOR-drawn boundaries (nav bars,
  // footers, license blocks repeat as whole lines), so line dedup
  // catches structured boilerplate at a fraction of the rolling-window
  // cost (one hash per line vs one per token position), while
  // dupSubstringStats catches repeats that ignore line boundaries.

  /** Shared line lattice: (doc_id, ln_no, line, h) — one row per
    * NON-BLANK line, ln_no the 1-based position in the original split
    * (blank lines keep their slot so reconstruction order is stable),
    * h = md5 of the CCNet-normalized spelling (lower + trim), so case/
    * padding variants of a line dedupe together while reconstruction
    * keeps the original bytes. `delim` is a Java regex (split) whose
    * literal spelling is also the rebuild joiner — the default "\n"
    * reads both ways. */
  private def lineFrame(df: DataFrame, id: Column, text: Column,
      delim: String): DataFrame =
    df.select(id.as("doc_id"),
        posexplode(split(text, delim)).as(Seq("__p", "line")))
      .select(col("doc_id"), (col("__p") + 1L).as("ln_no"), col("line"))
      .filter(trim(col("line")) =!= "")
      .withColumn("h", md5(lower(trim(col("line")))))

  /** Per-doc line-duplication stats — the screen that decides whether a
    * corpus needs [[dedupLines]] at all. A line is "dup" when its
    * normalized text occurs at more than one (doc, line) corpus-wide
    * (in-doc repeats count — templated self-repetition is the same
    * signal, matching [[dupSubstringStats]]'s convention). Docs with no
    * non-blank line are absent (no denominator). Output: (doc_id,
    * n_lines, n_dup_lines, dup_line_frac RAW double).
    *
    * Scale shape: one split (map-side) → one groupBy on the 32-byte
    * line hash with map-side partial counts → one AQE-splittable
    * equi-join back → one per-doc aggregate. The groupBy + join-back
    * spelling is chosen OVER the window-over-hash one deliberately:
    * boilerplate lines are heavy hitters BY CONSTRUCTION (a footer
    * repeated on every page of a mirrored site funnels all its
    * occurrences through one window task), and re-deriving the line
    * lattice for the probe side costs one extra split — cheap at one
    * hash per LINE (unlike the per-token-position window lattice where
    * the same trade-off goes the other way, see dupSubstringStats). */
  def lineStats(df: DataFrame, id: Column, text: Column,
      delim: String = "\n"): DataFrame = {
    val ln = lineFrame(df, id, text, delim)
    val occ = ln.groupBy("h").agg(count(lit(1)).as("__n_occ"))
    ln.join(occ, Seq("h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("__n_occ") > 1, 1L).otherwise(0L)).as("n_dup_lines"))
      .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
        (col("n_dup_lines").cast("double") / col("n_lines").cast("double"))
          .as("dup_line_frac"))
  }

  /** The APPLY step of [[lineStats]] — materialize the corpus with every
    * REPEATED line removed, keeping the globally first occurrence
    * (CCNet's paragraph dedup): first = minimum packed doc_id·10⁶ +
    * ln_no, so `id` must be non-negative integral and docs must stay
    * under 10⁶ lines (enforced per row like the substring family — a
    * violating corpus would silently elect wrong canonicals). Output:
    * (doc_id, n_lines, n_kept, text_dedup) for EVERY input doc — docs
    * whose every line duplicates earlier text come back n_kept = 0 with
    * an empty string.
    *
    * Scale shape: canonical election is a map-side-combinable groupBy
    * on the line hash (min + count in one pass) joined back on an
    * AQE-splittable equi-key — the skew-safe spelling, mandatory here
    * because the lines being deduped are heavy hitters by definition;
    * the rebuild is one per-doc aggregate sorting INSIDE the row. Line
    * text travels only lattice→rebuild (output-sized), never through
    * the election shuffle. The lattice is not pinned: the probe side
    * re-derives it, two cheap map-side splits. */
  def dedupLines(df: DataFrame, id: Column, text: Column,
      delim: String = "\n"): DataFrame = {
    val ln = guardedLineFrame(df, id, text, delim)
    val kept = keepFirstLines(ln)
    rebuildFromLines(df, id, ln, kept, delim, "text_dedup")
  }

  /** [[lineFrame]] with the packed-key precondition enforced per row. */
  private def guardedLineFrame(df: DataFrame, id: Column, text: Column,
      delim: String): DataFrame =
    lineFrame(df, id, text, delim)
      .filter(assert_true(col("doc_id") >= 0L && col("ln_no") < 1000000L,
        lit("line dedup packed-key precondition violated: needs doc_id " +
          ">= 0 and < 1e6 lines per doc — split oversized docs or remap " +
          "ids")).isNull)

  /** Keep-first election over a (doc_id, ln_no, line, h) lattice: the
    * globally first (min packed doc·10⁶+line) occurrence of each hash
    * survives. */
  private def keepFirstLines(ln: DataFrame): DataFrame = {
    val can = ln.groupBy("h")
      .agg(min(col("doc_id") * 1000000L + col("ln_no")).as("__cn"))
    ln.join(can, Seq("h"))
      .filter(col("doc_id") * 1000000L + col("ln_no") === col("__cn"))
      .select(col("doc_id"), col("ln_no"), col("line"))
  }

  /** Corpus-wide boilerplate report — the normalized lines that appear
    * in at least `minDocs` DISTINCT documents, with their document and
    * occurrence counts: the "most common lines" audit a curator reads
    * before choosing [[stripBoilerplateLines]]'s threshold. Output:
    * (line_norm, n_docs, n_occ), the normalized spelling (what the
    * dedup key sees). Scale: distinct-doc counting groups (h, doc_id)
    * first — both aggregates map-side combinable; output is the
    * boilerplate inventory, ≪ corpus. */
  def boilerplateLines(df: DataFrame, id: Column, text: Column,
      delim: String = "\n", minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2 (1 would " +
      "report every line in the corpus)")
    lineFrame(df, id, text, delim)
      .groupBy(lower(trim(col("line"))).as("line_norm"), col("doc_id"))
      .agg(count(lit(1)).as("__n"))
      .groupBy("line_norm")
      .agg(count(lit(1)).as("n_docs"), sum(col("__n")).as("n_occ"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Remove EVERY occurrence of boilerplate lines (normalized lines
    * present in ≥ `minDocs` distinct docs) — unlike [[dedupLines]] no
    * occurrence survives: a footer on 10⁶ pages is noise on all 10⁶,
    * first included. This is C4's "remove repeated lines" and Dolma's
    * paragraph-frequency filter. Output: (doc_id, n_lines, n_kept,
    * text_strip) for every input doc.
    *
    * Scale shape: the boilerplate set is a two-level map-side-
    * combinable aggregate (Heaps-bounded inventory); removal is a
    * left_anti equi-join of the lattice against it on the 32-byte hash
    * (AQE broadcasts when it fits — usually: thresholds keep the set
    * tiny relative to the corpus); rebuild as in [[dedupLines]]. */
  def stripBoilerplateLines(df: DataFrame, id: Column, text: Column,
      delim: String = "\n", minDocs: Int = 3): DataFrame = {
    require(minDocs >= 2, s"minDocs=$minDocs must be >= 2")
    val ln = lineFrame(df, id, text, delim)
    val bp = ln.groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("__n"))
      .groupBy("h").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select("h")
    val kept = ln.join(bp, Seq("h"), "left_anti")
      .select(col("doc_id"), col("ln_no"), col("line"))
    rebuildFromLines(df, id, ln, kept, delim, "text_strip")
  }

  /** Shared rebuild: join surviving lines back in original order, one
    * per-doc aggregate (sort inside the row, no global sort), left join
    * from the full doc list so fully-removed and line-less docs appear
    * with n_kept = 0 / empty text. */
  private def rebuildFromLines(df: DataFrame, id: Column, ln: DataFrame,
      kept: DataFrame, delim: String, outCol: String): DataFrame = {
    val nLines = ln.groupBy("doc_id").agg(count(lit(1)).as("n_lines"))
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(delim, transform(
          array_sort(collect_list(struct(col("ln_no"), col("line")))),
          s => s("line"))).as(outCol))
    df.select(id.as("doc_id"))
      .join(nLines, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col(outCol), lit("")).as(outCol))
  }

  // --- Persisted line-hash index — the nightly paragraph dedup -------
  // The line family's incremental form (the signature-index /
  // substring-index pattern at LINE granularity): the accumulated
  // corpus's distinct normalized-line hashes persist once; each day's
  // delta shard dedups against the stored 32-byte hashes — corpus text
  // never re-read, and the index is the Heaps-bounded distinct-line
  // inventory, a small fraction of corpus bytes.

  /** Persist a corpus's distinct normalized-line hashes at `path`.
    * The index records the split delimiter — a mismatched probe would
    * hash different lines and silently miss everything, so
    * probes/appends verify it (the substring-index params guard). */
  def writeLineIndex(df: DataFrame, id: Column, text: Column,
      path: String, delim: String = "\n"): Unit = {
    Store.record(df.sparkSession, path, "delim" -> delim)
    lineFrame(df, id, text, delim).select("h").distinct()
      .write.mode("overwrite").parquet(s"$path/hashes")
  }

  /** ACCEPT a screened delta into the index: append its distinct line
    * hashes — set-correct by construction (the probe is an anti-join
    * on the hash, so distinct-of-union ≡ union-of-distincts; grown ≡
    * rebuilt pinned in ApiSpec). Bytes and small files accumulate;
    * [[compactLineIndex]] on its own cadence. */
  def appendToLineIndex(df: DataFrame, id: Column, text: Column,
      path: String, delim: String = "\n"): Unit = {
    Store.open(df.sparkSession, path, "line index", Seq("delim" -> delim))
    lineFrame(df, id, text, delim).select("h").distinct()
      .write.mode("append").parquet(s"$path/hashes")
  }

  /** Collapse appended generations to distinct hashes + one rewrite,
    * committed by [[Store.replace]]. Not concurrent-safe with
    * appends/probes. */
  def compactLineIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = compactHashes(spark, path)

  /** The nightly screen: [[dedupLines]] for a DELTA shard against the
    * persisted index — every line whose hash is already indexed is cut
    * (the index always wins: its occurrence predates the shard), and
    * lines new to the index dedup keep-first WITHIN the shard (intra-
    * shard repeats never meet the index — the
    * dedupSubstringsAgainstIndex convention; cross-shard dups arriving
    * in different deltas are the append cadence's job). Same output
    * contract as [[dedupLines]]; survivors' hashes are what
    * [[appendToLineIndex]] accepts after the screen.
    *
    * Scale shape: the index probe is a left_anti equi-join on the
    * 32-byte hash (shard lattice vs the Heaps-bounded index — AQE
    * broadcasts the smaller side); election and rebuild are the batch
    * spelling over the SHARD only. */
  def dedupLinesAgainstIndex(df: DataFrame, id: Column, text: Column,
      path: String, delim: String = "\n"): DataFrame = {
    val spark = df.sparkSession
    Store.open(spark, path, "line index", Seq("delim" -> delim))
    val idx = spark.read.parquet(s"$path/hashes")
    val ln = guardedLineFrame(df, id, text, delim)
    val fresh = ln.join(idx, Seq("h"), "left_anti")
    rebuildFromLines(df, id, ln, keepFirstLines(fresh), delim,
      "text_dedup")
  }

  /** Cross-group boilerplate provenance matrix — WHERE duplication
    * lives, the audit that turns [[dupSubstringStats]]'s per-doc scores
    * into a per-source-pair map (which crawls share templates/licenses/
    * mirrored content with which): for every pair of `group` values
    * (a < b), the number of distinct w-token window TEXTS present in
    * both, their per-group inventory sizes, and the jaccard overlap of
    * the two window sets. Pairs sharing nothing are absent (the matrix
    * is sparse by construction).
    *
    * Scale shape: windows collapse to DISTINCT (group, hash) first —
    * the per-group inventory, Heaps-bounded ≪ corpus windows — so the
    * hash equi-join explodes each window hash to at most
    * |groups-containing-it|² pairs, never an occurrence product; the
    * matrix aggregate is ≤|groups|² rows and the totals join a
    * |groups|-row broadcast. Shuffles carry 32-byte hashes, never text.
    * KNOWN SKEW: a window present in EVERY group emits |groups|²/2 rows
    * from one hash — bounded, AQE-splittable (equi-join), and exactly
    * the boilerplate the matrix exists to surface. Overlap is a RAW
    * double (one IEEE division of exact counts — no rounding boundary).
    * Output: (source_a, source_b, n_a, n_b, n_shared, jaccard). */
  def sourceOverlapMatrix(df: DataFrame, id: Column, text: Column,
      group: Column, windowTokens: Int = 8): DataFrame = {
    require(windowTokens >= 2,
      s"windowTokens=$windowTokens must be >= 2")
    val w = windowTokens
    // PINNED (r16): the distinct (group, window-hash) frame feeds THREE
    // consumers — the per-group totals and both sides of the self-join
    // — and the executed plan re-ran the corpus explode + distinct
    // under every one (8 parquet scans / 0 reused exchanges in the
    // sweep). One corpus pass; consumers read the pinned narrow rows.
    val gh = Pin(
      df.select(group.as("g"), split(text, " ").as("__tk"))
        .filter(size(col("__tk")) >= w)
        .select(col("g"), explode(transform(
            sequence(lit(1), size(col("__tk")) - (w - 1)),
            i => md5(concat_ws(" ", slice(col("__tk"), i, lit(w))))))
          .as("h"))
        .distinct())
    val totals = gh.groupBy("g").agg(count(lit(1)).as("n"))
    gh.as("a").join(gh.as("b"),
        col("a.h") === col("b.h") && col("a.g") < col("b.g"))
      .groupBy(col("a.g").as("source_a"), col("b.g").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(totals.select(col("g"), col("n").as("n_a"))),
        col("source_a") === col("g")).drop("g")
      .join(broadcast(totals.select(col("g"), col("n").as("n_b"))),
        col("source_b") === col("g")).drop("g")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        (col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"))
          .as("jaccard"))
  }

  /** LSH parameter planner — the analytic S-curve table that answers
    * "how do I split my k minhashes into bands" BEFORE paying for a
    * corpus pass (Leskovec/Rajaraman/Ullman, MMDS ch.3): for every
    * (bands b, rows r) factorization of `k`, the probability
    * 1 − (1 − s^r)^b that a pair with jaccard s collides in ≥1 band,
    * tabulated over `sGrid`. Small r catches low-similarity pairs
    * (recall, more false candidates to verify); large r sharpens the
    * threshold (precision, misses borderline pairs) — the table prices
    * that trade exactly, and the repo's own 4×4 default is one row.
    *
    * Engine-reproducible by construction: powers are FIXED-POINT decimal
    * chains — left-to-right multiplies rounded HALF-UP to 9 dp at every
    * step (the integer-micro-unit discipline in decimal clothing), so a
    * SQL oracle re-deriving the chain by recursive CTE lands on
    * bit-identical doubles; no `pow`, whose libm rounding the engines
    * need not share. Exponents are plan-time constants, so each chain
    * unrolls into a constant expression Catalyst folds at optimization —
    * the "query" is 100% driver-free arithmetic on a |divisors(k)|-row
    * literal frame (a planner op: zero data, zero shuffle, zero scale
    * hazard). Output: (b, r, p<s*100>… one column per grid point). */
  def lshPlan(spark: org.apache.spark.sql.SparkSession, k: Int,
      sGrid: Seq[BigDecimal]): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(k >= 1, s"k=$k must be >= 1")
    require(sGrid.nonEmpty && sGrid.forall(s => s > 0 && s < 1),
      s"sGrid must be strictly inside (0, 1): $sGrid")
    val dec = DecimalType(12, 9)
    val one = lit(java.math.BigDecimal.ONE).cast(dec)
    // x^n as the rounded chain x·x·…·x (left-to-right, 9 dp each step)
    def powFixed(base: Column, n: Int): Column =
      (2 to n).foldLeft(base)((acc, _) => round(acc * base, 9).cast(dec))
    val frames = (1 to k).filter(k % _ == 0).map { b =>
      val r = k / b
      val pCols = sGrid.map { s =>
        val sLit = lit(s.underlying).cast(dec)
        val pb = powFixed((one - powFixed(sLit, r)).cast(dec), b)
        (one - pb).cast("double")
          .as("p" + (s * 100).toBigInt.toString)
      }
      spark.range(1).select(lit(b).as("b") +: lit(r).as("r") +: pCols: _*)
    }
    frames.reduce(_ unionByName _).orderBy("b")
  }

  /** MEASURED LSH screen audit — the empirical twin of [[lshPlan]]'s
    * analytic S-curve at the same k-minhash budget: for each `bands`
    * factorization of k, the band screen's ACTUAL candidate count,
    * recall, and precision against exact shingle-jaccard ≥ `minJaccard`
    * ground truth on the audited corpus (a SAMPLE at production scale —
    * the planner prices settings a priori, this verifies them on the
    * data the pipeline actually sees; the [[Similarity.recallAudit]]
    * idea applied to the dedup screen).
    *
    * Ground truth itself never goes all-pairs: enumeration uses the
    * All-Pairs PREFIX filter ([[jaccardPrefixFiltered]]'s engine
    * applied to shingle sets) — deterministic 100% recall with the
    * pair space bounded by per-shingle document frequency, which holds
    * up even when every doc has the same length (where a size-band
    * bound degenerates). The screen side replays the EXACT
    * [[nearMinhashMd5]] candidate stage (md5 minhashes, band-signature
    * keys, distinct pairs), so measured recall is what the production
    * screen would really achieve — and because md5 minhash is
    * engine-reproducible, the whole audit is oracle-checkable (an
    * xxhash64-screen audit would be sanctioned no-oracle; the md5-twin
    * rule applied to measurement).
    *
    * When each bands option divides the next (2|4|8 with the aligned
    * i/r grouping), a coarser band is a concatenation of finer bands,
    * so its collisions are a SUBSET — candidates/hits/recall are
    * provably monotone in `bands` (pinned in ApiSpec). Counts are exact
    * integers; recall/precision single IEEE divisions of exact counts.
    *
    * The shingle frame, its hashed-set form, and the ground-truth pair
    * set are PINNED (r9/r13, measured): `sh` feeds the minhash pass and
    * the hashed-set derivation, `hs` feeds the prefix filter plus both
    * sides of the truth verify (which intersects the sorted LONG hash
    * arrays — r12 verdict #5; the r12 shape re-joined the full string
    * shingle arrays), and `truth` feeds the count + the per-option hit
    * joins — left as live lineage, the interpreted-HOF md5-shingle
    * construction below the exchanges re-evaluates per consumer, which
    * made this audit contention-sensitive (7 s alone, 38 s in-suite in
    * the r8 driver run). All pinned frames are hash-sized, never
    * corpus text ([[graft.util.Pin]]).
    *
    * "Exact" ground truth is exact MODULO 64-BIT HASHING (r13 ADVICE):
    * the truth verify intersects sorted xxhash64 shingle arrays, so a
    * 64-bit collision within a doc's set or across a pair could perturb
    * a truth jaccard — probability ~2⁻⁶⁴ per pair, deterministic when it
    * happens (both engines hash identically), and tolerated by design:
    * the string-array verify it replaced cost ~20% of the whole audit.
    * Output: (bands, rows_per_band, n_truth, candidates, hits, recall,
    * precision), bands ascending. */
  def lshAudit(df: DataFrame, id: Column, text: Column,
      shingleWidth: Int = 3, k: Int = 16,
      bandsOptions: Seq[Int] = Seq(2, 4, 8),
      minJaccard: Double = 0.8): DataFrame = {
    require(bandsOptions.nonEmpty && bandsOptions == bandsOptions.sorted,
      s"bandsOptions must be non-empty ascending, got $bandsOptions")
    require(bandsOptions.forall(b => b >= 1 && k % b == 0),
      s"every bands option must divide k=$k, got $bandsOptions")
    val sh = Pin(md5Shingles(df, id, text, shingleWidth))
    // ground truth with deterministic 100% recall via the All-Pairs
    // PREFIX filter on the hashed shingle inventory (the
    // jaccardPrefixFiltered engine applied to shingle sets): a pair at
    // J ≥ r must share one of each side's first n − ⌈r·n⌉ + 1 sorted
    // shingle hashes, so candidates group by prefix hash with
    // per-shingle-df-bounded groups. A size-band join is the WRONG
    // bound here: homogeneous doc lengths put the whole corpus in one
    // band and the pair space degenerates to all-pairs (measured 64 s
    // at sf0.1; the prefix spelling is sub-second). The size-ratio
    // prefilter still rides the join condition.
    val r = minJaccard - 0.0001
    // The TRUTH CHAIN (hs → prefix candidates → verified pairs) and the
    // MINHASH PASS are independent given the pinned shingle frame, and
    // both sides are eager pin chains — stage them from two driver
    // threads so their jobs back-fill each other's task tails (guide
    // §2.6, the forget-rewrite/training-export pattern; r16).
    val (truth, mh) = graft.util.Par.both({
      // hashed shingle sets, PINNED (r12 verdict #5): THREE consumers —
      // the prefix-filter derivation below plus BOTH sides of the truth
      // verify join — where r12 re-joined the candidate pairs back to the
      // full STRING shingle arrays (`joinShingles`) and intersected
      // strings; intersecting the sorted xxhash64 LONG arrays instead is
      // the same jaccard modulo a 64-bit hash collision (the tolerance
      // the prefix filter riding these hashes already accepts) at a
      // fraction of the compare + shuffle bytes.
      val hs = Pin(sh.select(col("__id"),
          array_sort(transform(col("sh"), x => xxhash64(x))).as("hs"))
        .withColumn("nsh", size(col("hs"))))
      // pinned too: the self-join below consumes it TWICE, and its
      // lineage (slice + explode over the hash arrays) re-evaluates per
      // consumer otherwise
      val pref = Pin(hs.select(col("__id"), col("nsh"),
        explode(slice(col("hs"), lit(1),
          (col("nsh") - ceil(col("nsh") * r) + 1).cast("int"))).as("__pk")))
      val a = pref.alias("a"); val b = pref.alias("b")
      val tCand = a.join(b, col("a.__pk") === col("b.__pk") &&
          col("a.__id") < col("b.__id") &&
          least(col("a.nsh"), col("b.nsh")).cast("double") >=
            greatest(col("a.nsh"), col("b.nsh")) * r)
        .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"))
        .dropDuplicates("doc_a", "doc_b") // pairs sharing >1 prefix hash
      // exact verify on the pinned hashed arrays; pair-distinct enforced
      // HERE, not assumed (r12 ADVICE): the nested-bands branch counts
      // hits via a LEFT JOIN against truth, where a duplicate truth pair
      // would multiply `flagged` rows and inflate both candidates and
      // hits. tCand is already pair-distinct so this is a no-op today,
      // but the invariant all three consumers (truthCnt, the nested left
      // join, the semi join) rely on is now local.
      val inter = size(array_intersect(col("__ha"), col("__hb")))
        .cast("double")
      Pin(tCand
        .join(hs.select(col("__id").as("doc_a"), col("hs").as("__ha"),
          col("nsh").as("__na")), "doc_a")
        .join(hs.select(col("__id").as("doc_b"), col("hs").as("__hb"),
          col("nsh").as("__nb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          round(inter / ((col("__na") + col("__nb")).cast("double") - inter),
            4).as("__j"))
        .filter(col("__j") >= minJaccard)
        .select(col("doc_a"), col("doc_b"))
        .dropDuplicates("doc_a", "doc_b"))
    }, {
      // ONE k-vector minhash pass shared by every bands option (banding
      // only re-slices the same mh vector), pinned like its consumers'
      // other inputs — 3 options otherwise re-run the k×|shingles| md5
      // traversal three times
      Pin(Md5.sigs(sh, k))
    })
    val truthCnt = truth.agg(count(lit(1)).as("n_truth"))
    // ONE band self-join shared by every bands option (r12): when the
    // options form a divisibility chain (the default 2|4|8), a coarse
    // band is a concatenation of fine bands, so a pair collides at
    // bands=c iff some aligned group of fineBn/c FINE bands all collide
    // — derivable from the finest join's per-band match set with a
    // collect_set + array predicate per option, no second or third
    // self-join and ONE truth join for all options. (Band sigs are md5
    // of the slice, so "all sub-slices equal" vs "the concatenated
    // slice equal" differ only on an md5 collision — the same tolerance
    // every band bucket here already accepts.)
    val nested = bandsOptions.zip(bandsOptions.tail)
      .forall { case (c, f) => f % c == 0 }
    if (nested) {
      val fineBn = bandsOptions.last
      val sigs = Md5.banded(mh, fineBn, k / fineBn)
      val a = sigs.alias("a"); val b = sigs.alias("b")
      // ≤ fineBn match rows per candidate pair (one row per doc per
      // band on each side, so (pair, band) is already distinct)
      val matched = a.join(b,
          col("a.band") === col("b.band") &&
            col("a.sig") === col("b.sig") &&
            col("a.__id") < col("b.__id"))
        .select(col("a.__id").as("doc_a"), col("b.__id").as("doc_b"),
          col("a.band").as("band"))
      val optFlags = bandsOptions.map { bn =>
        val gs = fineBn / bn // fine bands per coarse band, aligned
        exists(sequence(lit(0), lit(bn - 1)), g =>
          forall(sequence(lit(0), lit(gs - 1)), j =>
            array_contains(col("__mb"), g * gs + j))).as(s"__c$bn")
      }
      val flagged = matched.groupBy("doc_a", "doc_b")
        .agg(collect_set(col("band")).as("__mb"))
        .select(col("doc_a") +: col("doc_b") +: optFlags: _*)
        .join(truth.withColumn("__t", lit(true)),
          Seq("doc_a", "doc_b"), "left")
      val one = flagged.agg(
        count(lit(1)).as("__n"), // keeps the agg shape total
        bandsOptions.flatMap(bn => Seq(
          sum(when(col(s"__c$bn"), 1L).otherwise(0L)).as(s"__cand$bn"),
          sum(when(col(s"__c$bn") && col("__t"), 1L).otherwise(0L))
            .as(s"__hit$bn"))): _*)
      one.select(explode(array(bandsOptions.map(bn =>
          struct(lit(bn).as("bands"), lit(k / bn).as("rows_per_band"),
            coalesce(col(s"__cand$bn"), lit(0L)).as("candidates"),
            coalesce(col(s"__hit$bn"), lit(0L)).as("hits"))): _*))
          .as("__r"))
        .select(col("__r.*"))
        .crossJoin(broadcast(truthCnt))
        .select(col("bands"), col("rows_per_band"), col("n_truth"),
          col("candidates"), col("hits"),
          (col("hits").cast("double") / col("n_truth").cast("double"))
            .as("recall"),
          (col("hits").cast("double") / col("candidates").cast("double"))
            .as("precision"))
        .orderBy("bands")
    } else {
      val per = bandsOptions.map { bn =>
        val cand = selfBandCandidates(Md5.banded(mh, bn, k / bn))
        val nc = cand.agg(count(lit(1)).as("candidates"))
        cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .crossJoin(broadcast(nc))
          .withColumn("bands", lit(bn))
          .withColumn("rows_per_band", lit(k / bn))
      }
      per.reduce(_.unionByName(_))
        .crossJoin(broadcast(truthCnt))
        .select(col("bands"), col("rows_per_band"), col("n_truth"),
          col("candidates"), col("hits"),
          (col("hits").cast("double") / col("n_truth").cast("double"))
            .as("recall"),
          (col("hits").cast("double") / col("candidates").cast("double"))
            .as("precision"))
        .orderBy("bands")
    }
  }

  // === Fragment stitching — reassembly candidates =======================
  // Crawled corpora carry SPLIT documents: pagination ("page 2 of 7"),
  // chunked uploads, continuation posts. The tell is a w-token overlap
  // where one fragment's TAIL equals another's HEAD (page footers repeat
  // the page header of the next page; chunkers overlap on purpose).
  // dupSubstringStats sees these as generic repeats; this operator
  // recovers the DIRECTED prev→next structure a reassembly job needs.

  /** Tail→head overlap candidates: pairs (prev_id, next_id) where
    * prev's LAST `w` tokens equal next's FIRST `w` tokens (exact,
    * order-sensitive — this is alignment, not similarity). Docs under
    * `w` tokens can't anchor an overlap and are skipped. `unambiguous`
    * marks pairs safe to auto-merge: prev has exactly one successor
    * candidate AND next exactly one predecessor — a repeated chapter
    * header can make one tail match many heads, and merging those
    * needs human review, not a join. Chains longer than two fragments
    * are the transitive closure of unambiguous pairs; group them with
    * [[clusters]] over these edges (each unambiguous component is a
    * simple path by construction).
    *
    * Scale shape: each doc contributes exactly TWO (id, 32-byte hash)
    * rows — head and tail of the token array, computed in-row; the
    * candidate join is a hash equi-join (never text), and the two
    * degree counts are map-side-combinable aggregates over the
    * candidate frame (≪ corpus), joined back by id. Output: (prev_id,
    * next_id, unambiguous). */
  def stitchCandidates(df: DataFrame, id: Column, text: Column,
      w: Int = 8): DataFrame = {
    require(w >= 2, s"w=$w: a 1-token overlap is noise, use w >= 2")
    val t = df.select(id.as("__id"), split(text, " ").as("__tk"))
      .filter(size(col("__tk")) >= w)
    val heads = t.select(col("__id").as("next_id"),
      md5(concat_ws(" ", slice(col("__tk"), 1, w))).as("__h"))
    val tails = t.select(col("__id").as("prev_id"),
      md5(concat_ws(" ", slice(col("__tk"), -w, w))).as("__h"))
    // PINNED (r16): the candidate-pair frame (≪ corpus — one row per
    // overlap hit) feeds BOTH degree aggregates and the final join;
    // unpinned, the corpus head/tail hash join replayed under every
    // consumer, and every downstream caller (stitchApply's three edge
    // consumers, stitchChains) multiplied it again — the doc_stitch
    // keys' executed plans carried up to 40 parquet scans.
    val cand = Pin(tails.join(heads, "__h")
      .filter(col("prev_id") =!= col("next_id"))
      .select(col("prev_id"), col("next_id")))
    val outd = cand.groupBy("prev_id").agg(count(lit(1)).as("__out"))
    val ind = cand.groupBy("next_id").agg(count(lit(1)).as("__in"))
    cand.join(outd, "prev_id").join(ind, "next_id")
      .select(col("prev_id"), col("next_id"),
        (col("__out") === 1L && col("__in") === 1L).as("unambiguous"))
  }

  /** The APPLY step of [[stitchCandidates]] for UNAMBIGUOUS pairs of
    * length-2 chains: materialize merged documents with the w-token
    * overlap de-duplicated (prev's text + next's text minus its first
    * `w` tokens), for pairs where neither side participates in a longer
    * chain (prev is not itself some doc's next, and next not some doc's
    * prev — longer chains need the iterative [[clusters]] pass and are
    * deliberately left to it; merging a 3-chain pairwise would emit the
    * middle fragment twice). Output: (prev_id, next_id, text_merged)
    * for each merged pair — callers drop the two fragment rows and add
    * the merged one.
    *
    * Scale shape: candidate edges are hash-joined ids; the two
    * chain-interior screens are self-anti-joins on id; text rides only
    * the final output-sized join back to the corpus (twice, id-keyed
    * equi-joins). */
  def stitchApply(df: DataFrame, id: Column, text: Column,
      w: Int = 8): DataFrame = Pin.scope { pin =>
    // edge frame pinned (r16): three consumers below (the pair frame
    // and both chain-interior anti-join probes) — same rule as the
    // stitchCandidates cand pin, which `edges` supersedes
    val edges = pin(pin.adopt(stitchCandidates(df, id, text, w))
      .filter(col("unambiguous")))
    // pair-only chains: prev must not be a next, next must not be a prev
    val pairOnly = edges
      .join(edges.select(col("next_id").as("prev_id")), Seq("prev_id"),
        "left_anti")
      .join(edges.select(col("prev_id").as("next_id")), Seq("next_id"),
        "left_anti")
    val body = df.select(id.as("__id"), text.as("__tx"))
    pin.keep(pairOnly
      .join(body.select(col("__id").as("prev_id"), col("__tx").as("__ta")),
        "prev_id")
      .join(body.select(col("__id").as("next_id"), col("__tx").as("__tb")),
        "next_id")
      .select(col("prev_id"), col("next_id"),
        // array concat then ONE join: a next-side fragment that is
        // nothing but the overlap contributes an empty array, not an
        // empty string (which concat_ws would render as a dangling
        // separator)
        concat_ws(" ", concat(split(col("__ta"), " "),
          slice(split(col("__tb"), " "), lit(w + 1),
            greatest(size(split(col("__tb"), " ")) - w, lit(0)))))
          .as("text_merged")))
  }

  /** Full chain assembly — the general form of [[stitchApply]]:
    * reassemble fragment chains of ANY length (A→B→C→…) into one
    * document per chain, the w-token overlap cut at every joint.
    * Unambiguous [[stitchCandidates]] edges have in/out degree ≤ 1 by
    * construction, so they form vertex-disjoint simple paths (or, with
    * adversarial input, cycles — detected and failed loudly below);
    * each fragment's position in its chain is computed by POINTER
    * DOUBLING (Wyllie's parallel list ranking, JACM 1979 — public):
    * every node tracks (ancestor, distance); each round it jumps to
    * its ancestor's ancestor and adds the distances, so a chain of
    * length L resolves in ⌈log₂ L⌉ rounds of shuffle equi-joins — a
    * 1M-fragment chain is 20 rounds, where naive edge-following would
    * be 10⁶. The same generation-release pin discipline as [[clusters]]
    * truncates lineage per round.
    *
    * Output: (chain_id, n_frags, text_merged) — chain_id = the head
    * fragment's id, one row per ≥2-fragment chain; singletons are not
    * chains and don't appear. Fragment text rides only the final
    * output-sized merge join; the doubling state is (id, id, long)
    * rows.
    *
    * A cycle (every node an interior node — possible only when the
    * corpus contains mutually-wrapping repeats) can never finish
    * ranking; after `maxIters` rounds (default 48 ≈ chains of 2⁴⁸) any
    * unresolved node fails the job with its id rather than silently
    * dropping or mis-merging. */
  def stitchChains(df: DataFrame, id: Column, text: Column,
      w: Int = 8, maxIters: Int = 48): DataFrame = Pin.scope { pin =>
    // the candidate pin inside stitchCandidates is superseded by `edges`
    val edges = pin(pin.adopt(stitchCandidates(df, id, text, w))
      .filter(col("unambiguous")).select(col("prev_id"), col("next_id")))
    // heads: chain starts — a prev that is nobody's next
    val heads = edges.select(col("prev_id").as("node"))
      .join(edges.select(col("next_id").as("node")), Seq("node"),
        "left_anti")
      .select(col("node"), col("node").as("anc"), lit(0L).as("d"),
        lit(true).as("done"))
    // every next starts pointing one hop back at its predecessor
    val tails = edges.select(col("next_id").as("node"),
      col("prev_id").as("anc"), lit(1L).as("d"), lit(false).as("done"))
    var state = pin.next(heads.unionByName(tails))
    var pending = state.filter(!col("done")).count()
    var iter = 0
    while (pending > 0 && iter < maxIters) {
      // uniform doubling step: jump to the ancestor's ancestor; landing
      // on a DONE ancestor inherits its head id and final distance
      val p = state.select(col("node").as("__pn"), col("anc").as("__pa"),
        col("d").as("__pd"), col("done").as("__pdone"))
      val stepped = state.filter(!col("done"))
        .join(p, col("anc") === col("__pn"))
        .select(col("node"), col("__pa").as("anc"),
          (col("d") + col("__pd")).as("d"), col("__pdone").as("done"))
      state = pin.next(state.filter(col("done")).unionByName(stepped))
      pending = state.filter(!col("done")).count()
      iter += 1
    }
    if (pending > 0) {
      val cyc = state.filter(!col("done")).select(col("node"))
        .limit(5).collect().map(_.getLong(0)).mkString(", ")
      throw new IllegalStateException(
        s"stitchChains: $pending fragment(s) never reached a chain head " +
          s"after $maxIters doubling rounds — cyclic overlap structure " +
          s"(sample ids: $cyc); fix the corpus or drop these fragments")
    }
    // interior/tail fragments drop their first w (overlap) tokens; the
    // merge is an in-row sort + flatten, never a global sort
    val body = df.select(id.as("node"), split(text, " ").as("__tk"))
    pin.keep(state.join(body, "node")
      .select(col("anc").as("chain_id"), col("d").as("__pos"),
        when(col("d") === 0L, col("__tk"))
          .otherwise(slice(col("__tk"), lit(w + 1),
            greatest(size(col("__tk")) - w, lit(0)))).as("__cut"))
      .groupBy("chain_id")
      .agg(count(lit(1)).as("n_frags"),
        concat_ws(" ", flatten(transform(
          array_sort(collect_list(struct(col("__pos"), col("__cut")))),
          s => s("__cut")))).as("text_merged")))
  }

  /** IDF-weighted jaccard re-score of a candidate pair frame — the
    * boilerplate-blind verifier. Unweighted jaccard treats every shared
    * token equally, so two unrelated pages sharing a fat license
    * header score as near-dups while two short rewrites of the same
    * rare content score low. Weighting each DISTINCT token by
    * idf = ln(N/df) (Spärck Jones 1972, public; the cosine/BM25
    * convention) makes ubiquitous tokens worth ~0 and rare tokens
    * dominate: wjac(A,B) = Σ_{t∈A∩B} idf(t) / Σ_{t∈A∪B} idf(t) — the
    * weighted-set jaccard with min/max over {0, idf}.
    *
    * This is a RE-SCORER, not a screen: `pairs` (doc_a, doc_b) comes
    * from any bounded candidate engine ([[jaccardWithinBucket]], the
    * minhash band screen, [[containmentWithinBucket]]) — the production
    * pattern of cheap-screen-then-informative-verify, so the pair space
    * is whatever the screen bounded it to, never all-pairs here.
    *
    * Determinism: idf is the integer MICRO unit round(ln((N+1)/df)·10⁶)
    * (the [[graft.api.NgramLm]] discipline; the +1 is the sklearn-style
    * smoothing, public) — strictly positive, so a non-empty doc always
    * has total weight > 0 and the score never degenerates to 0/0 (a
    * NaN whose ordering DIFFERS between engines: Spark drops it at the
    * threshold, DuckDB sorts it above every number). Per-pair
    * intersection / union weights are exact integer sums —
    * addition-order-free — and the score is ONE IEEE divide rounded
    * 4 dp. Tokens appearing in every doc get idf ≈ 0: present in the
    * sums, near-worthless, as intended.
    *
    * Scale shape: df counts are one map-side-combinable aggregate over
    * the exploded distinct-token frame (vocab-sized result); per-doc
    * total weights one more. The intersection join explodes only docs
    * REFERENCED by pairs (semi-join pushdown via the pair frame), keyed
    * (doc, token-hash) — the pair exchange carries 8-byte hashes and
    * long weights, never text. Output: (doc_a, doc_b, wjac) for pairs
    * at/above `minWJaccard`. */
  def weightedJaccardOnPairs(df: DataFrame, id: Column, text: Column,
      pairs: DataFrame, minWJaccard: Double = 0.8): DataFrame = {
    // the hashed token frame has FOUR consumers (df counts, per-doc
    // totals, both intersection sides) — deliberately NOT pinned:
    // every consumer sits above the same shuffle, and ReuseExchange
    // dedupes identical exchange subtrees within one query (measured
    // r8s4: an eager pin made the key ~1s SLOWER — the winnow fix only
    // applies where the duplication is map-side expression inlining
    // with no exchange to reuse)
    val tok = df.select(id.as("__id"),
        explode(array_distinct(split(text, " "))).as("__w"))
      .filter(col("__w") =!= "")
      .select(col("__id"), xxhash64(col("__w")).as("__th"))
    val nDocs = df.select(id.as("__id")).agg(count(lit(1)).as("__n"))
    weightedJaccardCore(tok, nDocs, pairs, minWJaccard)
  }

  /** [[weightedJaccardOnPairs]] over an already-pinned
    * [[hashedTokenLattice]] frame — the lattice-sharing form for the
    * screen-then-re-score composition: when the candidate stage already
    * paid the one tokenize + hash + sort corpus pass
    * ([[jaccardWithinBucketOnLattice]]), the re-scorer's exploded
    * (doc, token-hash) rows derive from the pinned arrays instead of
    * re-reading and re-hashing corpus text (the one double-pass the r13
    * plan audit still saw on llm_dedup_jaccard_idf). The lattice keeps
    * xxhash64("") for empty split tokens; the re-score drops that hash
    * (a foldable literal comparison) to stay bit-identical to the
    * text-input form, which filters "" before hashing. */
  def weightedJaccardOnLattice(t: DataFrame, pairs: DataFrame,
      minWJaccard: Double = 0.8): DataFrame = {
    val tok = t.select(col("__id"), explode(col("tk")).as("__th"))
      .filter(col("__th") =!= xxhash64(lit("")))
    val nDocs = t.select(col("__id")).agg(count(lit(1)).as("__n"))
    weightedJaccardCore(tok, nDocs, pairs, minWJaccard)
  }

  /** The IDF-weighted re-score body shared by [[weightedJaccardOnPairs]]
    * and [[weightedJaccardOnLattice]]: `tok` = per-doc DISTINCT
    * (__id, __th) token-hash rows, `nDocs` = 1-row corpus count.
    *
    * Shape (r16): per-doc SORTED (hash, idf) arrays + one merge pass
    * per pair ([[VectorExprs.sortedInterWeight]]). The previous
    * spelling computed the intersection weight by exploding every
    * pair's a-side tokens and equi-joining the b-side's (doc, hash)
    * rows — a pairs×|doc tokens| exchange keyed (doc_b, hash), plus a
    * weight join and a per-pair re-aggregate; at sf0.1 that one
    * exchange carried ~10M rows for 445k candidate pairs and dominated
    * llm_dedup_jaccard_idf (isolated 4.9 → 2.0 s warm). The weighted
    * arrays build costs the same two shuffles the per-doc totals
    * already paid (hash-keyed idf join + doc-keyed aggregate — the
    * total weight and the array come out of ONE agg), so the pair
    * exchange now carries doc-sized arrays exactly once per side, the
    * verify-join shape [[jaccardWithinBucketOnLattice]] already uses.
    * Intersection sums are exact longs, join-semantics-identical (see
    * the expression's run rule), and the final divide + 4-dp round is
    * unchanged — bit-identical output. */
  private def weightedJaccardCore(tok: DataFrame, nDocs: DataFrame,
      pairs: DataFrame, minWJaccard: Double): DataFrame = {
    val wts = tok.groupBy("__th").agg(count(lit(1)).as("__df"))
      .crossJoin(broadcast(nDocs))
      .select(col("__th"),
        round(log((col("__n") + 1L).cast("double")
          / col("__df").cast("double")) * 1e6).cast("long").as("__idf"))
    // ONE doc-keyed agg yields both the total weight and the sorted
    // (hash, idf) array; its idf join shares the hash-keyed exchange
    // with the df-count build (ReuseExchange)
    val wk = tok.join(wts, "__th")
      .groupBy("__id")
      .agg(sum(col("__idf")).as("__tw"),
        sort_array(collect_list(struct(col("__th"), col("__idf"))))
          .as("__wk"))
    val p = pairs.select(col("doc_a"), col("doc_b"))
    val iw = VectorExprs.sortedInterWeight(col("__wka"), col("__wkb"))
    p.join(wk.select(col("__id").as("doc_a"), col("__tw").as("__twa"),
        col("__wk").as("__wka")), "doc_a")
      .join(wk.select(col("__id").as("doc_b"), col("__tw").as("__twb"),
        col("__wk").as("__wkb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.util.Det.let(iw) { w =>
          round(w.cast("double")
            / (col("__twa") + col("__twb") - w).cast("double"), 4)
        }.as("wjac"))
      .filter(col("wjac") >= minWJaccard)
  }

  /** Positional WINNOWING fingerprints (Schleimer, Wilkerson & Aiken
    * 2003 "Winnowing: Local Algorithms for Document Fingerprinting",
    * public — the MOSS scheme): hash every `k`-token gram, slide a
    * `win`-window over consecutive gram hashes, keep each window's
    * MINIMUM. Guarantee: two documents sharing any exact run of
    * ≥ win + k − 1 tokens share at least one full gram-hash window, hence
    * at least one fingerprint VALUE — unlike [[fingerprint]]'s global
    * min-k (which samples the whole doc uniformly and can miss a short
    * planted overlap), winnowing's guarantee is LOCAL. This emits the
    * fingerprint value SET (per-window minima, deduplicated); on an
    * equal-hash tie inside a window both occurrences contribute the same
    * VALUE, so the set is identical to classic rightmost-tie winnowing.
    *
    * Gram hashes are md5-derived 60-bit ints (the llm_simhash_md5
    * parsing recipe), so the whole op is ORACLE-CHECKABLE; swap in
    * xxhash64 for 4× cheaper hashing at scale — the selection logic is
    * hash-agnostic.
    *
    * Scale shape: ENTIRELY map-side — grams, hashes, window minima,
    * dedup and sort are in-row higher-order functions; no explode, no
    * shuffle, no state. The natural screen on top is an explode →
    * equi-join on fingerprint value (LSH-bucket-shaped, df-bounded).
    * Output: (doc_id, n_grams, n_windows, fingerprints ARRAY<BIGINT>
    * sorted ascending); docs with fewer than win + k − 1 tokens yield
    * zero windows and an empty fingerprint set. */
  def winnowFingerprints(df: DataFrame, id: Column, text: Column,
      k: Int = 4, win: Int = 4): DataFrame = {
    require(k >= 1 && win >= 1, s"k and win must be >= 1, got k=$k win=$win")
    import graft.util.Det.let
    // every stage is LET-BOUND (Det.let): HOFs evaluate on the
    // interpreted path with no CSE, so an un-bound `tk` inside the gram
    // lambda would re-split the document per element_at (4 splits per
    // gram) and an un-bound `__h` inside the window lambda would
    // re-derive the whole gram+hash chain per window — measured 5.9 s
    // vs ~1 s at sf0.1 for the identical output. sequence(1, n)
    // DESCENDS when n < 1 (Spark semantics) — guard every sequence
    // with an explicit empty-array branch for short docs.
    val fpStruct = let(split(text, " ")) { tk =>
      let(when(size(tk) >= k, transform(
          sequence(lit(1), size(tk) - (k - 1)),
          i => concat_ws(" ",
            (0 until k).map(j => element_at(tk, i + j)): _*)))
        .otherwise(array().cast("array<string>"))) { grams =>
        let(transform(grams,
          g => conv(substring(md5(g), 1, 15), 16, 10).cast("long"))) { h =>
          struct(
            size(h).as("n_grams"),
            greatest(size(h) - (win - 1), lit(0)).as("n_windows"),
            when(size(h) >= win, array_sort(array_distinct(transform(
              sequence(lit(1), size(h) - (win - 1)),
              q => array_min(slice(h, q, lit(win)))))))
              .otherwise(array().cast("array<bigint>"))
              .as("fingerprints"))
        }
      }
    }
    df.select(id.as("doc_id"), fpStruct.as("__s"))
      .select(col("doc_id"), col("__s.n_grams").as("n_grams"),
        col("__s.n_windows").as("n_windows"),
        col("__s.fingerprints").as("fingerprints"))
  }

  /** Candidate near-dup pairs from [[winnowFingerprints]] — the screen
    * that makes winnowing actionable: documents sharing at least one
    * fingerprint VALUE, with the shared count as evidence strength
    * (plagiarism-detection's candidate stage; verify survivors with
    * [[jaccardWithinBucket]]-style exact scoring). By the winnowing
    * guarantee every pair sharing an exact ≥ win + k − 1 token run IS
    * in this output.
    *
    * Scale shape: explode the per-doc fingerprint set (a fraction of
    * the gram stream — that is winnowing's point), ONE equi-join on the
    * fingerprint value — pair space bounded by per-fingerprint document
    * frequency exactly like an LSH band bucket, never |corpus|²; a
    * ubiquitous boilerplate fingerprint is the same skew hazard as a hot
    * LSH bucket (AQE skew handling / df-cap the hot values).
    *
    * The fingerprint-set frame is PINNED before the explode + self-join
    * — and the pin is load-bearing, not a cache nicety (r8s4, measured
    * twice): left as live lineage, the optimizer's Generate handling
    * (projection collapse into the generator + inferred not-null/size
    * filters on the generator input) inlines the whole nested-HOF
    * fingerprint expression and re-evaluates it per consumer — and the
    * window lambda's `slice(__h, …)` then re-derives the full
    * grams→hashes chain PER WINDOW: 0.19 s of fingerprinting became
    * 1362 s at sf0.1 (7000×; pinning only the post-explode stream still
    * left 706 s — the bomb sits in the Generate node itself, so the cut
    * must be at the ARRAY level, the exact plan the fast
    * llm_fingerprint_winnow key runs). The pinned frame is
    * fingerprint-set-sized (id + ~n_windows 8-byte values — a fraction
    * of corpus bytes).
    *
    * Pin lifecycle (r10): the RESULT is pinned too (pair-sized), which
    * supersedes the fingerprint-set pin, released before returning;
    * repeated calls therefore accrete only pair-sized pins, not
    * fingerprint-set-sized ones (asserted in PropertiesSpec).
    * The final pin is caller-owned as everywhere: materialize, then
    * release (`spark.sparkContext.getPersistentRDDs.values.foreach(
    * _.unpersist(false))` — the Bench harness does exactly this between
    * keys).
    * Output: (doc_a, doc_b, n_shared_fp), doc_a < doc_b. */
  def winnowCandidates(df: DataFrame, id: Column, text: Column,
      k: Int = 4, win: Int = 4): DataFrame = Pin.scope { p =>
    val fpSets = p(winnowFingerprints(df, id, text, k, win)
      .select(col("doc_id"), col("fingerprints")))
    val fps = fpSets
      .select(col("doc_id"), explode(col("fingerprints")).as("__fp"))
    val pairs = fps.select(col("doc_id").as("doc_a"), col("__fp"))
      .join(fps.select(col("doc_id").as("doc_b"), col("__fp")), Seq("__fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared_fp"))
    p.keep(p(pairs))
  }
}
