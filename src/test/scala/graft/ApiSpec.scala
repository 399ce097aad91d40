package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{Similarity, TextDedup, TextQuality}

/** The graft.api surface must work on ARBITRARY frames and column names —
  * not just the benchmark fixtures. Synthetic inputs, different names. */
class ApiSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy dog tonight"), // dup of 1
    (3L, "the quick brown fox jumps over the lazy cat tonight"), // near-dup
    (4L, "completely different words about spark query engines here"),
    (5L, "Completely   DIFFERENT words about spark query engines here")
  ).toDF("id", "body")

  test("TextDedup.exact groups identical bodies, keeps min id") {
    val out = TextDedup.exact(corpus, col("body"), col("id"))
      .filter(col("n_copies") > 1).collect()
    assert(out.length == 1)
    assert(out(0).getLong(1) == 1L && out(0).getLong(2) == 2L)
  }

  test("TextDedup.normalized also folds case/whitespace variants") {
    val out = TextDedup.normalized(corpus, col("body"), col("id"))
      .filter(col("n_copies") > 1).collect()
    assert(out.map(_.getLong(1)).toSet == Set(1L, 4L))
  }

  test("Similarity.topK matches a local brute-force reference on random " +
      "vectors") {
    val rnd = new scala.util.Random(7)
    val dims = 12; val n = 40; val k = 3
    val corpus = (0L until n).map(i =>
      (i, Seq.fill(dims)(rnd.nextFloat() * 2 - 1)))
    val corpusDf = corpus.toDF("cid", "cvec")
    val queries = corpus.take(4).toDF("qid", "qe")
    // output columns: qid, vec_id, sim_r, rk
    val got = Similarity
      .topK(corpusDf, col("cid"), col("cvec"), queries, k)
      .collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSet
    // local reference: exact dot products, same rounding + tie-break
    val expected = corpus.take(4).flatMap { case (qid, qv) =>
      corpus.filter(_._1 != qid)
        .map { case (cid, cv) =>
          val dot = qv.zip(cv).foldLeft(0.0)((a, p) =>
            a + p._1.toDouble * p._2.toDouble)
          (cid, BigDecimal(dot).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .sortBy { case (cid, sim) => (-sim, cid) }
        .take(k).zipWithIndex
        .map { case ((cid, _), rk) => (qid, rk + 1, cid) }
    }.toSet
    assert(got == expected, s"topK diverges from brute force")
  }

  test("Similarity.assignClusters: every vector assigned to its argmax " +
      "centroid on random vectors, custom column names") {
    val rnd = new scala.util.Random(11)
    val dims = 8; val n = 30; val k = 4
    val vecs = (0L until n).map(i => (i, Seq.fill(dims)(rnd.nextFloat() * 2 - 1)))
    val corpusDf = vecs.toDF("row_key", "emb")
    val cents = vecs.take(k).map { case (i, v) => (i + 100L, v) }
    val centDf = cents.toDF("cid", "ce")
    val got = Similarity
      .assignClusters(corpusDf, col("row_key"), col("emb"), centDf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def dotD(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    val expected = vecs.map { case (i, v) =>
      val best = cents.map { case (cid, cv) =>
        (cid, BigDecimal(dotD(cv, v)).setScale(6, BigDecimal.RoundingMode.HALF_UP))
      }.minBy { case (cid, s) => (-s, cid) }
      i -> best._1
    }.toMap
    assert(got == expected, "assignment diverges from local argmax")
    // missing contract columns fail eagerly with a clear message
    val err = intercept[IllegalArgumentException] {
      Similarity.assignClusters(corpusDf, col("row_key"), col("emb"),
        centDf.withColumnRenamed("ce", "vec"))
    }
    assert(err.getMessage.contains("'cid' and 'ce'"))
  }

  test("Similarity.topKIvf multi-probe: recall never drops vs single " +
      "probe, and candidates stay a superset per query") {
    val emb = graft.util.Tables.embeddings(spark, SparkFixture.sf0001)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def res(np: Int) = Similarity
      .topKIvf(emb, col("vec_id"), col("embedding"), q, k = 5, nprobe = np)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet // (qid, vec_id, sim)
    val single = res(1); val multi = res(9)
    assert(multi.size >= single.size, "multi-probe must not lose results")
    // per query, the multi-probe top-1 similarity is >= the single-probe
    // top-1 (a wider candidate set can only improve the best hit)
    val bestS = single.groupBy(_._1).view.mapValues(_.map(_._3).max)
    val bestM = multi.groupBy(_._1).view.mapValues(_.map(_._3).max)
    bestS.foreach { case (qid, s) =>
      assert(bestM(qid) >= s, s"recall dropped for query $qid") }
  }

  test("Similarity.recallAudit: hits re-derived from the public pieces, " +
      "recall/candidates monotone in nprobe, ratio exact") {
    val emb = graft.util.Tables.embeddings(spark, SparkFixture.sf0001)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val audit = Similarity
      .recallAudit(emb, col("vec_id"), col("embedding"), q, k = 5,
        nprobes = Seq(1, 2, 4))
      .orderBy("nprobe").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(audit.map(_._1).toSeq == Seq(1, 2, 4))
    // n_exact = |queries|·k (fixture corpus far exceeds k+1 vectors)
    assert(audit.forall(_._2 == 10L * 5))
    // wider probing can only add candidates and never lose hits
    assert(audit.map(_._3).toSeq == audit.map(_._3).toSeq.sorted)
    assert(audit.map(_._4).toSeq == audit.map(_._4).toSeq.sorted)
    audit.foreach { case (_, ne, cd, h, rec) =>
      assert(h <= ne && cd >= h,
        s"hits $h must be <= n_exact $ne and <= candidates $cd")
      assert(rec == h.toDouble / ne.toDouble, "recall must be the exact " +
        "IEEE division of the integer counts")
    }
    // independent re-derivation of the nprobe=2 hit count from the two
    // public rankings the audit claims to compare
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select(col("qid"), col("vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.topK(emb, col("vec_id"),
      col("embedding"), q, k = 5))
    val approx2 = pairs(Similarity.topKIvf(emb, col("vec_id"),
      col("embedding"), q, k = 5, nprobe = 2))
    assert(audit(1)._4 == (exact intersect approx2).size.toLong,
      "audit hit count must equal the intersection of the two rankings")
  }

  test("TextDedup.lshAudit: exact-dup pair caught at every setting, " +
      "nested factorizations monotone, ratios exact") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // exact dup
      (3L, "one two three four five six seven eight"),
      (4L, "nine ten eleven twelve thirteen fourteen fifteen sixteen"))
      .toDF("doc_id", "text")
    val audit = TextDedup.lshAudit(docs, col("doc_id"), col("text"))
      .orderBy("bands").collect()
    assert(audit.map(_.getInt(0)).toSeq == Seq(2, 4, 8))
    // ground truth is exactly the planted exact-dup pair
    assert(audit.forall(_.getLong(2) == 1L), "n_truth must be 1")
    // identical docs have identical signatures — caught at EVERY setting
    assert(audit.forall(_.getLong(4) == 1L), "exact dup must always hit")
    // 2|4|8 with aligned grouping: a coarser band is a concatenation of
    // finer bands, so its collisions are a subset — candidates and hits
    // monotone non-decreasing in bands
    val cands = audit.map(_.getLong(3)).toSeq
    val hits = audit.map(_.getLong(4)).toSeq
    assert(cands == cands.sorted && hits == hits.sorted)
    audit.foreach { r =>
      assert(r.getLong(4) <= r.getLong(3),
        "hits cannot exceed candidates")
      assert(r.getDouble(5) ==
        r.getLong(4).toDouble / r.getLong(2).toDouble,
        "recall must be the exact IEEE division of the integer counts")
      assert(r.getDouble(6) ==
        r.getLong(4).toDouble / r.getLong(3).toDouble,
        "precision must be the exact IEEE division of the integer counts")
    }
  }

  test("Unigram.fertilityByGroup: hand-walked model gives exact counts " +
      "and ratios; uncoverable words excluded") {
    import graft.api.Unigram
    val docs = Seq(("s1", "ab ab cd"), ("s2", "abcd"), ("s3", "zq"))
      .toDF("source", "text")
    // single chars at cost 5 except z/q missing => "zq" is uncoverable
    // and s3 must be absent; "ab" as a cheaper fused piece (3 < 5+5)
    val model = Seq(("a", 5L), ("b", 5L), ("c", 5L), ("d", 5L), ("ab", 3L))
      .toDF("piece", "cost")
    val out = Unigram
      .fertilityByGroup(docs, col("text"), col("source"), model)
      .orderBy("group").collect()
    assert(out.map(_.getString(0)).toSeq == Seq("s1", "s2"),
      "uncoverable-word-only group must be absent")
    // s1: ab(x2) -> 1 piece each, cd -> 2 pieces
    val s1 = out(0)
    assert((s1.getLong(1), s1.getLong(2), s1.getLong(3)) == ((3L, 4L, 6L)))
    assert(s1.getDouble(4) == 4.0 / 3.0 && s1.getDouble(5) == 6.0 / 4.0)
    // s2: abcd -> ab + c + d (13 micro) beats all-singles (20)
    val s2 = out(1)
    assert((s2.getLong(1), s2.getLong(2), s2.getLong(3)) == ((1L, 3L, 4L)))
    assert(s2.getDouble(4) == 3.0 && s2.getDouble(5) == 4.0 / 3.0)
  }

  test("Quality.topFeatures: |w| ranking with bucket tie-break, corpus " +
      "profile counts distinct tokens, model-only bucket profiles null") {
    import graft.api.Quality
    // tokens "a" and "b" hash to distinct nibbles; repeat "a" across
    // docs to prove the profile is DISTINCT-token counting
    val docs = Seq((1L, "a b"), (2L, "a")).toDF("doc_id", "text")
    def nib(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 1)
    val aB = nib("a")
    val bB = nib("b")
    assume(aB != bB)
    // a spare bucket no corpus token hashes to
    val spare = (('0' to '9') ++ ('a' to 'f')).map(_.toString)
      .find(x => x != aB && x != bB).get
    val w = Seq((aB, -7L), (bB, 5L), (spare, 6L))
      .toDF("bucket", "w_micro")
    val out = Quality.topFeatures(docs, col("text"), w, k = 3)
      .orderBy("rk").collect()
    assert(out.map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSeq == Seq((1, aB, -7L), (2, spare, 6L), (3, bB, 5L)),
      "rank must follow |w| desc with bucket tie-break")
    val byBucket = out.map(r => r.getString(1) ->
      (r.getLong(3), Option(r.getString(4)))).toMap
    assert(byBucket(aB) == ((1L, Some("a"))),
      "repeated token must count once with itself as exemplar")
    assert(byBucket(bB) == ((1L, Some("b"))))
    assert(byBucket(spare) == ((0L, None)),
      "a bucket with no corpus tokens profiles as (0, null)")
  }

  test("Corpus.splitAssign: pure-Scala gate re-derivation, determinism; " +
      "splitLeakageSafe sends a planted cluster to one split") {
    import graft.api.Corpus
    def expected(id: Long): String = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"split|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val u = java.lang.Long.parseLong(h.substring(0, 8), 16)
      if (u * 1000L < 100L * 4294967296L) "test"
      else if (u * 1000L < 200L * 4294967296L) "val" else "train"
    }
    val ids = (1L to 400L).toDF("doc_id")
    val got = Corpus.splitAssign(ids, col("doc_id")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (1L to 400L).foreach(i => assert(got(i) == expected(i),
      s"id $i: engine ${got(i)} != re-derived ${expected(i)}"))
    assert(got.values.toSet == Set("train", "val", "test"),
      "400 uniform ids must populate all three splits")
    // a second run is bit-identical (pure function of salt+key)
    val again = Corpus.splitAssign(ids, col("doc_id")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == got)
    // planted cluster straddling two naive splits must ride together
    // under the cluster key — and land exactly where its rep's hash says
    val x = (1L to 400L).find(i => expected(i) == "train").get
    val y = (1L to 400L).find(i => expected(i) == "test").get
    val rep = math.min(x, y)
    val cl = Seq((x, rep), (y, rep)).toDF("node", "cluster_id")
    val safe = Corpus.splitLeakageSafe(Seq(x, y).toDF("doc_id"),
        col("doc_id"), cl).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(safe(x) == safe(y), "cluster members must share a split")
    assert(safe(x) == expected(rep),
      "the shared split must be the representative's hash gate")
  }

  test("Quality.crossValidate: folds partition the labels, confusion " +
      "partitions each fold, fold-0 eval matches independent " +
      "train+classify") {
    import graft.api.{Corpus, Quality}
    val docs = graft.util.Tables.documents(spark, SparkFixture.sf0001)
    val feats = Corpus.hashFeatures(docs, col("doc_id"), col("text"))
    val labels = docs.select(col("doc_id"),
      array_contains(split(col("text"), " "), "join").cast("int").as("y"))
    val cv = Quality.crossValidate(feats, labels).orderBy("fold").collect()
    assert(cv.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
    val total = labels.count()
    assert(cv.map(_.getLong(2)).sum == total,
      "test folds must partition the label set")
    cv.foreach { r =>
      assert(r.getLong(1) + r.getLong(2) == total,
        "train + test must cover every label per fold")
      assert(r.getLong(3) + r.getLong(4) + r.getLong(5) + r.getLong(6)
        == r.getLong(2), "confusion cells must partition the test fold")
    }
    // fold-0 confusion re-derived through the PUBLIC train + classify
    // path with a pure-Scala fold gate
    def fold(id: Long): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cv|$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(h.substring(0, 8), 16) % 3).toInt
    }
    val ids = labels.collect().map(r => (r.getLong(0), r.getInt(1)))
    val train0 = ids.filter(t => fold(t._1) != 0).map(_._1).toSet
    val model = Quality.train(feats,
      labels.filter(col("doc_id").isInCollection(train0)), epochs = 2)
    val keep = Quality.classify(feats, model).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val test0 = ids.filter(t => fold(t._1) == 0)
    val tp = test0.count(t => keep.getOrElse(t._1, false) && t._2 == 1)
    val tn = test0.count(t => !keep.getOrElse(t._1, false) && t._2 == 0)
    assert(cv(0).getLong(3) == tp.toLong && cv(0).getLong(6) == tn.toLong,
      "fold-0 tp/tn must match the independent train+classify eval")
  }

  test("Corpus.splitStratified: exact cumulative-floor quotas per " +
      "group, deterministic") {
    import graft.api.Corpus
    val docs = ((1L to 25L).map(i => (i, "A")) ++
      (26L to 32L).map(i => (i, "B"))).toDF("doc_id", "source")
    def run() = Corpus
      .splitStratified(docs, col("doc_id"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val out = run()
    val a = out.filter(_._2 == "A").groupBy(_._3).view
      .mapValues(_.length).toMap
    // 25 docs at 100/100 permille, CUMULATIVE floors: test = floor(2.5)
    // = 2, test+val = floor(5.0) = 5 => val = 3 (no gap between gates)
    assert(a == Map("test" -> 2, "val" -> 3, "train" -> 20),
      s"group A quotas must be exact cumulative floors, got $a")
    // 7 docs: test floors to 0, but the CUMULATIVE gate floor(1.4) = 1
    // still grants one eval row — a small group is never starved of
    // val representation by two independent floors
    val b = out.filter(_._2 == "B").groupBy(_._3).view
      .mapValues(_.length).toMap
    assert(b == Map("val" -> 1, "train" -> 6),
      s"group B must get one cumulative-floor val row, got $b")
    assert(run().toSeq == out.toSeq, "assignment must be deterministic")
  }

  test("llm_length_buckets_sweep: nested dyadic refinement never " +
      "increases padding waste; fractions track the shared denominator") {
    val rows = SparkEntry
      .queries("llm_length_buckets_sweep")(spark, SparkFixture.sf0001)
      .orderBy("n_buckets").collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(1, 2, 4, 8))
    // each finer setting's boundaries are a superset of the coarser's
    // (dyadic i/2^k fractions), and splitting a bucket can only lower
    // sum(max*n) — waste is monotone non-increasing
    val w = rows.map(_.getLong(1)).toSeq
    assert(w == w.sorted.reverse,
      s"waste must not increase under nested refinement: $w")
    // total real tokens T is the same in every row, so frac = w/(w+T)
    // must order exactly as waste does
    val f = rows.map(_.getDouble(2)).toSeq
    assert(f == f.sorted.reverse && f.forall(x => x >= 0 && x < 1))
  }

  test("Quality.labelNoiseAudit: rate 0 equals the clean fit, flip " +
      "cohort matches the pure-Scala gate, confusion partitions") {
    import graft.api.{Corpus, Quality}
    val docs = graft.util.Tables.documents(spark, SparkFixture.sf0001)
    val feats = Corpus.hashFeatures(docs, col("doc_id"), col("text"))
    val labels = docs.select(col("doc_id"),
      array_contains(split(col("text"), " "), "join").cast("int").as("y"))
    val audit = Quality.labelNoiseAudit(feats, labels)
      .orderBy("flip_permille").collect()
    assert(audit.map(_.getInt(0)).toSeq == Seq(0, 100, 300))
    val n = labels.count()
    audit.foreach { r =>
      assert(r.getLong(2) + r.getLong(3) + r.getLong(4) + r.getLong(5)
        == n, "confusion cells must partition the label set")
    }
    assert(audit(0).getLong(1) == 0L, "rate 0 flips nothing")
    // flip cohort re-derived with the pure-Scala hash gate
    def flipped(id: Long, rate: Long): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"noise|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(0, 8), 16) * 1000L <
        rate * 4294967296L
    }
    val ids = labels.select("doc_id").collect().map(_.getLong(0))
    assert(audit(1).getLong(1) == ids.count(flipped(_, 100L)).toLong)
    assert(audit(2).getLong(1) == ids.count(flipped(_, 300L)).toLong)
    // rate 0 reproduces the standard two-epoch fit: tp/tn equal an
    // independent train+classify eval on the clean labels
    val model = Quality.train(feats, labels, epochs = 2)
    val keep = Quality.classify(feats, model).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val ys = labels.collect().map(r => (r.getLong(0), r.getInt(1)))
    val tp = ys.count(t => keep.getOrElse(t._1, false) && t._2 == 1)
    val tn = ys.count(t => !keep.getOrElse(t._1, false) && t._2 == 0)
    assert(audit(0).getLong(2) == tp.toLong &&
      audit(0).getLong(5) == tn.toLong,
      "rate-0 row must equal the clean-fit eval")
  }

  test("Quality.writeModel/readModel: lossless round-trip, and a warm " +
      "start from the store equals never persisting") {
    import graft.api.{Corpus, Quality}
    val docs = graft.util.Tables.documents(spark, SparkFixture.sf0001)
    val feats = Corpus.hashFeatures(docs, col("doc_id"), col("text"))
    val labels = docs.select(col("doc_id"),
      array_contains(split(col("text"), " "), "join").cast("int").as("y"))
    val m2 = Quality.train(feats, labels, epochs = 2)
    val dest = new java.io.File(
      "target/test-qmodel-roundtrip").getAbsolutePath
    Quality.writeModel(m2, dest)
    def wmap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wmap(Quality.readModel(spark, dest)) == wmap(m2),
      "persisted model must read back weight-for-weight")
    val warm = wmap(Quality.trainStep(feats, labels,
      Quality.readModel(spark, dest)))
    val straight = wmap(Quality.train(feats, labels, epochs = 3))
    assert(warm == straight,
      "one warm-start epoch from the store must equal three straight " +
        "epochs")
  }

  test("TextQuality.gopherFilter flags degenerate docs on custom columns") {
    val docs = Seq(
      (10L, "a reasonable sentence with several ordinary words inside it " +
        "and a couple more tokens to clear the minimum"),
      (11L, "spam spam spam spam spam spam spam spam spam spam spam " +
        "spam spam"),                       // dominance ≈ 1 → reject
      (12L, "too short")                    // word count < 10 → reject
    ).toDF("key", "body")
    val out = TextQuality.gopherFilter(docs, col("key"), col("body"))
      .select("id", "keep")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(out == Map(10L -> true, 11L -> false, 12L -> false), s"$out")
  }

  test("TextQuality.scrub with a custom pattern and replacement") {
    val rows = Seq((1L, "call 555-0147 or 555-0199"), (2L, "no digits"))
      .toDF("k", "payload")
    val out = TextQuality
      .scrub(rows, col("k"), col("payload"), "[0-9]{3}-[0-9]{4}", "<TEL>")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(out.toSet == Set(
      (1L, "call <TEL> or <TEL>", 2), (2L, "no digits", 0)))
  }

  test("TextDedup.jaccardPrefixFiltered equals brute-force all-pairs AND " +
      "the size-band sibling on a maximally-skewed single-bucket corpus") {
    val rnd = new scala.util.Random(13)
    val vocab = (0 until 200).map(i => s"w$i")
    val base = (0L until 60L).map { i =>
      (i, "hub", rnd.shuffle(vocab).take(30).mkString(" "))
    }
    // planted near-dups: drop-one variants (jaccard 29/30 ≈ 0.9667, above
    // the 0.95 gate) and exact duplicates; everything lives in ONE bucket,
    // the skew case where a raw-bucket candidate join is |bucket|²
    val planted = base.take(8).zipWithIndex.map { case ((i, b, t), k) =>
      val v = if (k % 2 == 0) t.split(" ").drop(1).mkString(" ") else t
      (100L + i, b, v)
    }
    val all = base ++ planted
    val df = all.toDF("docid", "grp", "body")
    def pairsOf(out: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      out.collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    // local exact reference: all-pairs jaccard on distinct token sets,
    // same 4-dp HALF_UP rounding before the gate
    val sets = all.map { case (i, _, t) => i -> t.split(" ").toSet }.toMap
    val ids = all.map(_._1)
    // several thresholds = several prefix lengths (~5%, ~10%, ~20% of
    // each doc's tokens) — the recall guarantee must hold at each
    Seq(0.95, 0.9, 0.8).foreach { tau =>
      val got = pairsOf(TextDedup.jaccardPrefixFiltered(df, col("docid"),
        col("grp"), col("body"), minJaccard = tau))
      val expected = (for {
        a <- ids; b <- ids if a < b
        sa = sets(a); sb = sets(b)
        inter = (sa & sb).size.toDouble
        jac = inter / (sa.size + sb.size - inter)
        if BigDecimal(jac).setScale(4, BigDecimal.RoundingMode.HALF_UP) >=
          BigDecimal(tau)
      } yield (a, b)).toSet
      assert(expected.nonEmpty, s"planted dups must survive the $tau gate")
      assert(got == expected,
        s"prefix-filtered pairs diverge from brute force at tau=$tau")
      val sibling = pairsOf(TextDedup.jaccardWithinBucket(df, col("docid"),
        col("grp"), col("body"), minJaccard = tau))
      assert(got == sibling,
        s"prefix filter and size-band siblings disagree at tau=$tau")
    }
  }

  test("TextDedup signature index round trip: screenAgainstIndex over a " +
      "persisted parquet index equals nearMinhashMd5Between in-memory, " +
      "on arbitrary column names") {
    val rnd = new scala.util.Random(17)
    val vocab = (0 until 150).map(i => s"v$i")
    def doc() = Seq.fill(40)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val corpusRows = (0L until 40L).map(i => (i, doc()))
    // delta: one exact dup of corpus doc 0, one near-dup of doc 1 (last
    // token swapped: ~35/41 ≈ 0.85 shingle jaccard), rest fresh
    val nearDup = {
      val t = corpusRows(1)._2.split(" "); t(t.length - 1) = "swapped"
      t.mkString(" ")
    }
    val deltaRows = Seq((100L, corpusRows(0)._2), (101L, nearDup)) ++
      (102L until 110L).map(i => (i, doc()))
    val corpusDf = corpusRows.toDF("k", "txt")
    val deltaDf = deltaRows.toDF("dk", "dtxt")
    val dir = java.nio.file.Files.createTempDirectory("graft-sigidx")
      .resolve("idx").toString
    TextDedup.writeSignatureIndex(corpusDf, col("k"), col("txt"), dir)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val got = pairs(TextDedup.screenAgainstIndex(deltaDf, col("dk"),
      col("dtxt"), dir))
    val ref = pairs(TextDedup.nearMinhashMd5Between(deltaDf, col("dk"),
      col("dtxt"), corpusDf, col("k"), col("txt")))
    assert(got.map(p => (p._1, p._2)).contains((100L, 0L)),
      "exact dup must screen out")
    assert(got == ref && got.nonEmpty,
      "persisted-index screen diverges from the in-memory cross-frame run")
    // the nightly accept step: append the screen SURVIVORS to the index,
    // then a second delta containing a dup of a survivor must be caught
    // against the GROWN index (append, never rebuild — SCALE.md cadence)
    val dupIds = got.map(_._1)
    val survivors = deltaRows.filter(r => !dupIds.contains(r._1))
    assert(survivors.nonEmpty)
    TextDedup.appendToSignatureIndex(survivors.toDF("dk", "dtxt"),
      col("dk"), col("dtxt"), dir)
    val delta2 = Seq((200L, survivors.head._2), (201L, doc()))
      .toDF("dk", "dtxt")
    val got2 = pairs(TextDedup.screenAgainstIndex(delta2, col("dk"),
      col("dtxt"), dir))
    assert(got2.map(p => (p._1, p._2)).contains((200L, survivors.head._1)),
      "dup of an appended survivor must screen out against the grown index")
  }

  test("overlapped write∥sign spelling (Par.both + signed-shard screens) " +
      "equals the serial public path for all four index families") {
    // the r16 delta-screen overlap: the *_delta/forget keys sign the
    // shard on a second driver thread while the index writes — this
    // pins that the lattice spellings the keys call are bit-identical
    // to the serial public entry points
    val rnd = new scala.util.Random(23)
    val vocab = (0 until 120).map(i => s"w$i")
    def doc() = Seq.fill(30)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val corpusRows = (0L until 30L).map(i => (i, doc()))
    val nearDup = {
      val t = corpusRows(2)._2.split(" "); t(0) = "swapped"; t.mkString(" ")
    }
    val deltaRows = Seq((100L, corpusRows(0)._2), (101L, nearDup),
      (102L, deepClone(corpusRows(5)._2))) ++
      (103L until 110L).map(i => (i, doc()))
    val corpus = corpusRows.toDF("doc_id", "text")
    val delta = deltaRows.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val base = java.nio.file.Files.createTempDirectory("graft-ovl")

    // minhash signature family
    val sigIdx = base.resolve("sig").toString
    val (_, signed) = graft.util.Par.both(
      TextDedup.writeSignatureIndex(corpus, col("doc_id"), col("text"),
        sigIdx),
      TextDedup.signShard(delta, col("doc_id"), col("text")))
    val sigGot = rows(TextDedup.dedupSignedShardAgainstIndex(delta,
      col("doc_id"), signed, sigIdx))
    val sigRef = rows(TextDedup.dedupShardAgainstIndex(delta,
      col("doc_id"), col("text"), sigIdx))
    assert(sigGot == sigRef && sigGot.size < deltaRows.size,
      "signature family: overlapped spelling diverges from serial")

    // md5-SimHash band family (the llm_dedup_simhash_delta spelling)
    val shIdx = base.resolve("simhash").toString
    val (_, bd) = graft.util.Par.both(
      TextDedup.writeSimhashMd5Index(corpus, col("doc_id"), col("text"),
        shIdx),
      TextDedup.simhashMd5Bands(delta, col("doc_id"), col("text"))
        .localCheckpoint())
    val shGot = rows(delta.join(TextDedup.bandDrops(bd, shIdx),
      col("doc_id") === col("__drop_id"), "left_anti"))
    val shRef = rows(TextDedup.simhashMd5DedupShardAgainstIndex(delta,
      col("doc_id"), col("text"), shIdx))
    assert(shGot == shRef && shGot.size < deltaRows.size,
      "simhash family: overlapped spelling diverges from serial")

    // substring window family
    val ssIdx = base.resolve("substr").toString
    val (_, wind) = graft.util.Par.both(
      TextDedup.writeSubstringIndex(corpus, col("doc_id"), col("text"),
        ssIdx),
      TextDedup.windowShard(delta, col("doc_id"), col("text"),
        windowTokens = 8))
    def spans(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    val ssGot = spans(TextDedup.dedupWindowedShardAgainstIndex(wind,
      ssIdx))
    val ssRef = spans(TextDedup.dedupSubstringsAgainstIndex(delta,
      col("doc_id"), col("text"), ssIdx))
    assert(ssGot == ssRef && ssGot.nonEmpty,
      "substring family: overlapped spelling diverges from serial")

    // dHash band family (the llm_multimodal_phash_delta spelling): ONE
    // pinned band frame over corpus ∪ delta feeds the index write and
    // the delta's drop set
    def img() = Array.fill(72)(rnd.nextInt(256))
    val pxCorpus = (0L until 30L).map(i => (i, img()))
    val variant = pxCorpus(2)._2.clone()
    variant(40) = (variant(40) + 97) % 256
    val fresh = img()
    val pxDelta = Seq((100L, pxCorpus(0)._2.clone()), (101L, variant),
      (102L, fresh), (103L, fresh.clone())) ++
      (104L until 110L).map(i => (i, img()))
    val bands = (pxCorpus ++ pxDelta).toDF("doc_id", "px")
      .select(col("doc_id").as("__id"),
        graft.sources.Multimodal.dhashBands(col("px")).as("__bd"))
      .localCheckpoint()
    val pxIdx = base.resolve("phash").toString
    TextDedup.writeBandIndex(bands.filter(col("__id") < 100L), pxIdx)
    val deltaBd = bands.filter(col("__id") >= 100L)
    val pxGot = deltaBd
      .join(TextDedup.bandDrops(deltaBd, pxIdx),
        col("__id") === col("__drop_id"), "left_anti")
      .select(col("__id")).collect().map(_.getLong(0)).toSet
    val pxRefIdx = base.resolve("phash_ref").toString
    graft.sources.Multimodal.writePhashIndex(pxCorpus.toDF("doc_id", "px"),
      col("doc_id"), col("px"), pxRefIdx)
    val pxRef = rows(graft.sources.Multimodal.phashDedupShardAgainstIndex(
      pxDelta.toDF("doc_id", "px"), col("doc_id"), col("px"), pxRefIdx))
    assert(pxGot == pxRef && pxGot.size < pxDelta.size &&
        !pxGot.contains(100L) && !pxGot.contains(101L) &&
        !pxGot.contains(103L),
      s"dHash family: pinned-band spelling $pxGot diverges from serial " +
        s"$pxRef or misses a planted dup")
  }

  test("the substring screen refuses a window lattice cut at a width " +
      "other than the one its index was written with") {
    val text = (1 to 12).map(i => s"t$i").mkString(" ")
    val idx = java.nio.file.Files.createTempDirectory("graft-ss-width")
      .resolve("idx").toString
    TextDedup.writeSubstringIndex(Seq((1L, text)).toDF("doc_id", "text"),
      col("doc_id"), col("text"), idx, windowTokens = 8)
    val wind = TextDedup.windowShard(Seq((10L, text)).toDF("doc_id", "text"),
      col("doc_id"), col("text"), windowTokens = 5)
    val e = intercept[IllegalArgumentException] {
      TextDedup.dedupWindowedShardAgainstIndex(wind, idx)
    }
    assert(e.getMessage.contains("windowTokens=8"), e.getMessage)
  }

  test("a signature index refuses a caller signing param other than the " +
      "one it was written with, naming the param") {
    val docs = (1 to 6).map(i => (i.toLong, s"a$i b c d e f g")).toDF(
      "doc_id", "text")
    val idx = SparkFixture.tempDir("sig_params").getAbsolutePath
    TextDedup.writeSignatureIndex(docs, col("doc_id"), col("text"), idx,
      shingleWidth = 3, bands = 4, rowsPerBand = 4)
    val calls = Seq[(String, (Int, Int, Int) => Unit)](
      "screenAgainstIndex" -> ((w, b, r) => TextDedup.screenAgainstIndex(
        docs, col("doc_id"), col("text"), idx, w, b, r).collect()),
      "dedupShardAgainstIndex" -> ((w, b, r) => TextDedup
        .dedupShardAgainstIndex(docs, col("doc_id"), col("text"), idx, w,
          b, r).collect()),
      "appendToSignatureIndex" -> ((w, b, r) => TextDedup
        .appendToSignatureIndex(docs, col("doc_id"), col("text"), idx, w,
          b, r)))
    val params = Seq("shingleWidth=3" -> (2, 4, 4),
      "bands=4" -> (3, 2, 4), "rowsPerBand=4" -> (3, 4, 8))
    for ((name, call) <- calls; (param, (w, b, r)) <- params) {
      val e = intercept[IllegalArgumentException](call(w, b, r))
      assert(e.getMessage.contains(param), s"$name: ${e.getMessage}")
    }
  }

  /** identity helper so the planted exact dup is a distinct String
    * instance (guards against accidental reference-equality shortcuts
    * anywhere downstream). */
  private def deepClone(s: String): String = new String(s.toCharArray)

  test("VectorExprs.minhashKM is bit-identical to the declarative " +
      "conv(md5) HOF spelling the DuckDB oracle mirrors") {
    val rows = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("x y z")),
      (3L, Seq.empty[String])).toDF("rid", "sh")
    val k = 16
    val native = rows.select(col("rid"),
      graft.functions.VectorExprs.minhashKM(col("sh"), k).as("mh"))
    val hof = rows.select(col("rid"),
      transform(sequence(lit(0), lit(k - 1)),
        i => array_min(transform(col("sh"), s =>
          conv(substring(md5(s), 1, 8), 16, 10).cast("long")
            + i * conv(substring(md5(s), 9, 8), 16, 10).cast("long"))))
        .as("mh"))
    val n = native.collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val h = hof.collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(n == h, s"native vs HOF minhash diverge:\n$n\n$h")
    assert(n(3L).forall(_ == null), "empty shingle array must yield nulls")
  }

  /** rid → string-array column of a (rid, array<string>) frame. */
  private def byRid(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap

  test("VectorExprs.minhashMd5 is bit-identical to the k-chain " +
      "array_min(transform(md5)) spelling the DuckDB oracle mirrors") {
    val rnd = new scala.util.Random(11)
    val words = Seq("a", "b", "the", "fox", "ß", "ü", "日本", "𝔘𝔫𝔦", "😀",
      "x y", "")
    // ≥ 2 shingles per random set: the min then compares digests whose
    // leading bytes straddle 0x80, which a signed-byte compare orders
    // the other way
    val random = (1 to 240).map { r =>
      (100L + r, Seq.fill(2 + rnd.nextInt(12))(
        Seq.fill(1 + rnd.nextInt(3))(words(rnd.nextInt(words.size)))
          .mkString(" ")))
    }
    val fixed = Seq(
      (1L, Seq("a b c", "b c d", "c d e")),
      (2L, Seq("x y z")),
      (3L, Seq.empty[String]),
      (4L, Seq(null, "a b c", null)),
      (5L, Seq[String](null, null)),
      (6L, Seq("😀 𝔘𝔫𝔦 日本", "𝔘𝔫𝔦 日本 😀", "😀 𝔘𝔫𝔦 日本")))
    val rows = (fixed ++ random).toDF("rid", "sh")
    val k = 16
    val native = rows.select(col("rid"),
      graft.functions.VectorExprs.minhashMd5(col("sh"), k).as("mh"))
    val chain = rows.select(col("rid"), array((0 until k).map(i =>
      array_min(transform(col("sh"), s => md5(concat(lit(s"$i:"), s))))): _*)
      .as("mh"))
    val n = byRid(native)
    val c = byRid(chain)
    assert(n.size == fixed.size + random.size)
    val diff = n.keys.filter(r => n(r) != c(r)).toSeq.sorted
    assert(diff.isEmpty, s"native vs chain minhash diverge on rows " +
      s"${diff.take(5)}: ${diff.headOption.map(r => n(r) -> c(r))}")
    Seq(3L, 5L).foreach(r => assert(n(r) == Seq.fill(k)(null),
      s"row $r: an empty or all-null array must yield $k nulls"))
    assert(n(4L).forall(_ != null), "null elements are skipped, not minima")
  }

  test("VectorExprs.wordShingles equals the interpreted distinct-shingle " +
      "chain for widths 1-5, on any partitioning") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a  b   c  a  b", // double spaces: empty tokens inside shingles
      "x y x y x y x y z", // repeated shingles: first occurrence wins
      " leading and trailing ",
      "one",
      "two words",
      "😀 𝔘𝔫𝔦 日本 😀 𝔘𝔫𝔦 日本 ß",
      "") ++ {
      val rnd = new scala.util.Random(5)
      (1 to 60).map(_ => Seq.fill(rnd.nextInt(14))(
        Seq("a", "b", "", "c", "日本", "😀")(rnd.nextInt(6))).mkString(" "))
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("rid", "text")
      .select(col("rid"), split(col("text"), " ").as("tk"))
    def shingles(d: org.apache.spark.sql.DataFrame, w: Int) =
      d.select(col("rid"),
        graft.functions.VectorExprs.wordShingles(col("tk"), w).as("sh"))
    (1 to 5).foreach { w =>
      val native = shingles(docs, w)
      val chain = docs.filter(size(col("tk")) >= w).select(col("rid"),
        array_distinct(transform(
          sequence(lit(1), size(col("tk")) - (w - 1)),
          i => concat_ws(" ", slice(col("tk"), i, lit(w))))).as("sh"))
      val (n, c) = (byRid(native), byRid(chain))
      assert(c.nonEmpty && c.forall { case (r, sh) => n(r) == sh },
        s"width $w: native vs chain diverge")
      val short = n.keySet -- c.keySet
      // split never yields an empty array: width 1 has no short rows
      assert((w == 1 || short.nonEmpty) && short.forall(r => n(r).isEmpty),
        s"width $w: fewer than $w tokens must yield no shingles")
      assert(byRid(shingles(docs.repartition(16), w)) ==
          byRid(shingles(docs.repartition(1), w)),
        s"width $w: a 16-partition run differs from a 1-partition run")
    }
    assert(byRid(shingles(docs, 2))(2L) == Seq("x y", "y x", "y z"))
  }

  test("TextDedup.clusters equals a reference union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { _ =>
      val n = 30
      val edges = List.fill(25)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b } ++
        // a deliberate deep chain — the diameter case plain counters miss
        (0L until 12L).map(i => (100L + i, 101L + i))
      // reference: classic union-find, min id as canonical label
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      // default threshold → single-task local finish
      val got = graft.api.TextDedup
        .clusters(edges.toDF("a", "b"), col("a"), col("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"components diverge from union-find")
      // threshold 0 → forced distributed min-label propagation rounds
      val dist = graft.api.TextDedup
        .clusters(edges.toDF("a", "b"), col("a"), col("b"),
          localFinishEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == expected,
        s"distributed propagation diverges from union-find")
    }
  }

  test("TextDedup.clustersStar equals union-find AND clusters() on " +
      "random graphs with deep chains") {
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val n = 25
      val edges = List.fill(20)(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b } ++
        // the deep chain is the case star-contraction exists FOR: plain
        // propagation needs O(length) rounds, stars need O(log²)
        (0L until 15L).map(i => (200L + i, 201L + i)) ++
        // a self-pair-only node must survive as a singleton, like
        // clusters() keeps it
        Seq((999L, 999L))
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      // threshold 0 forces the distributed star rounds end-to-end; the
      // default threshold takes the local finish — both must agree with
      // the reference union-find
      val star = TextDedup
        .clustersStar(edges.toDF("a", "b"), col("a"), col("b"),
          localFinishEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == expected, "clustersStar diverges from union-find")
      val starLocal = TextDedup
        .clustersStar(edges.toDF("a", "b"), col("a"), col("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(starLocal == expected,
        "clustersStar local finish diverges from union-find")
      val plain = TextDedup
        .clusters(edges.toDF("a", "b"), col("a"), col("b"),
          localFinishEdges = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == plain, "the two component engines must agree")
    }
  }

  test("TextDedup.clusters: transitive chains collapse, components stay " +
      "apart, singletons are not emitted") {
    // chain 1-2, 2-3 (1 and 3 never paired directly) + separate pair 7-9
    val pairs = Seq((1L, 2L), (2L, 3L), (9L, 7L)).toDF("pa", "pb")
    val out = TextDedup.clusters(pairs, col("pa"), col("pb"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L),
      s"wrong components: $out")
  }

  test("TextDedup.simhashPairs: pigeonhole recall at hamming 1..3, " +
      "exclusion when every band differs") {
    val base = 0x123456789abcdefL
    val sigs = Seq(
      (1L, base),
      (2L, base ^ 1L),                        // hamming 1 (band 0)
      (3L, base ^ 0x7L),                      // hamming 3, one band
      (4L, base ^ (1L | (1L << 16) | (1L << 32))), // hamming 3, 3 bands —
                                              //   band 3 intact → found
      (5L, base ^ (1L | (1L << 16) | (1L << 32) | (1L << 48))),
                                              // hamming 4, NO intact band
      (6L, 0x5555555555555555L ^ base)        // far away
    ).toDF("sid", "sig")
    val pairs = TextDedup
      .simhashPairs(sigs, col("sid"), col("sig"), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(pairs.get((1L, 2L)).contains(1), s"hamming-1 pair lost: $pairs")
    assert(pairs.get((1L, 3L)).contains(3), s"hamming-3 pair lost: $pairs")
    assert(pairs.get((1L, 4L)).contains(3),
      s"hamming-3 across 3 bands must survive via the intact band: $pairs")
    assert(!pairs.contains((1L, 5L)),
      "hamming-4 with every band touched must NOT pair (beyond guarantee)")
    assert(!pairs.exists(p => p._1._2 == 6L && p._2 <= 3),
      "far signature must not appear under the threshold")
  }

  test("TextDedup.simhashPairs equals brute force at bands 3, 4 and 8: " +
      "identical groups, null signatures, a bit outside every band") {
    val rnd = new scala.util.Random(29)
    val random = Seq.fill(40)(rnd.nextLong())
    def flip(s: Long, bits: Int*) = bits.foldLeft(s)((x, b) => x ^ (1L << b))
    val planted = Seq(
      random(0), random(0), random(0),            // identical group of 3
      flip(random(0), 5), flip(random(0), 63),    // near the group
      flip(random(0), 63, 20),                    // bit 63: no band at 3
      random(1), random(1),                       // identical pair
      flip(random(1), 0, 21, 42),                 // one bit per 21-bit band
      flip(random(1), 15, 16, 31),
      flip(random(2), 61, 62, 63))
    val sigs = (random ++ planted).map(Option(_)) ++ Seq(None, None)
    val df = sigs.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("sid", "sig")
    val present = sigs.zipWithIndex.collect {
      case (Some(s), i) => (i.toLong, s) }
    Seq(3, 4, 8).foreach { bands =>
      val maxH = math.min(3, bands - 1)
      val expected = (for {
        (a, sa) <- present; (b, sb) <- present if a < b
        h = java.lang.Long.bitCount(sa ^ sb) if h <= maxH
      } yield (a, b, h)).sorted
      val got = TextDedup.simhashPairs(df, col("sid"), col("sig"),
          maxHamming = maxH, bands = bands)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSeq.sorted
      assert(expected.size > 10, s"bands=$bands: too few planted pairs")
      assert(got == expected, s"bands=$bands: extra ${got.diff(expected)}" +
        s", missing ${expected.diff(got)}")
    }
  }

  test("TextDedup.simhashPairs rejects bands outside [2,64] — bands=1 " +
      "would wrap the mask to 0 and degenerate to all-pairs") {
    val sigs = Seq((1L, 7L), (2L, 8L)).toDF("sid", "sig")
    intercept[IllegalArgumentException] {
      TextDedup.simhashPairs(sigs, col("sid"), col("sig"),
        maxHamming = 0, bands = 1)
    }
    intercept[IllegalArgumentException] {
      TextDedup.simhashPairs(sigs, col("sid"), col("sig"),
        maxHamming = 3, bands = 65)
    }
    // bands=64 is the edge: width 1, mask must be 1, not wrap
    assert(TextDedup.simhashPairs(sigs, col("sid"), col("sig"),
      maxHamming = 3, bands = 64).columns.toSeq ==
      Seq("doc_a", "doc_b", "hamming"))
  }

  test("TextQuality.gopherStats keeps NULL-text rows (left join, NULL " +
      "dominance) instead of silently dropping them") {
    val docs = Seq((1L, Some("one two three")), (2L, None))
      .toDF("key", "body")
    val out = TextQuality.gopherStats(docs, col("key"), col("body"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(4)).toMap
    assert(out.keySet == Set(1L, 2L), s"NULL-text row lost: $out")
    assert(!out(1L) && out(2L),
      "token-less doc must survive with NULL top_word_ratio")
  }

  test("TextQuality.repetitionFilter flags token- and bigram-repetition; " +
      "sub-2-token docs survive with 0.0 bigram fraction") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "go go go go go go go go go go"),  // one token repeated
      (3L, "tic toc tic toc tic toc tic toc tic toc"), // one bigram cycles
      (4L, "single")
    ).toDF("key", "body")
    // short test docs: a unique bigram is already 1/9 of doc 1, so the
    // bigram gate loosens to 0.2 (the 0.05 default suits real doc lengths)
    val out = TextQuality.repetitionFilter(docs, col("key"), col("body"),
        maxTopBigramFrac = 0.2)
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getDouble(3)), r.getBoolean(4))).toMap
    assert(out(1L)._2, "diverse doc must pass")
    assert(!out(2L)._2 && out(2L)._1._1 == 0.9, "repeated token must fail")
    assert(!out(3L)._2 && out(3L)._1._2 == 5.0 / 9,
      "cycling bigram must fail on top_bigram_frac")
    assert(out(4L)._1._2 == 0.0, "1-token doc gets 0.0 bigram fraction")
  }

  test("TextQuality.decontaminate flags only train docs sharing a gram " +
      "with the eval corpus") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the fence"),
      (2L, "completely unrelated words appear in this document body")
    ).toDF("key", "body")
    val eval0 = Seq((100L, "we saw the quick brown fox yesterday"))
      .toDF("key", "body")
    val out = TextQuality
      .decontaminate(train, eval0, col("key"), col("body"), width = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    // "the quick brown" + "quick brown fox" overlap; doc 2 shares nothing
    assert(out == Map(1L -> 2L), s"got $out")
  }

  test("TextDedup.clusters on an empty edge list returns empty, no error") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(TextDedup.clusters(empty, col("a"), col("b")).count() == 0)
  }

  test("TextQuality.scrub propagates NULL payloads as NULL") {
    val rows = Seq((1L, "has 42"), (2L, null)).toDF("k", "payload")
    val out = TextQuality.scrub(rows, col("k"), col("payload"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(out(1L) == "has <NUM>" && out(2L) == null)
  }

  test("TextDedup.nearMinhash finds the exact and near duplicates") {
    val pairs = TextDedup
      .nearMinhash(corpus, col("id"), col("body"), minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "exact dup pair must surface")
  }

  test("TextDedup.simhash: identical bodies identical, near-dups close") {
    val sh = TextDedup.simhash(corpus, col("id"), col("body"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    val hamming = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(hamming <= 16, s"near-dup hamming distance $hamming too large")
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(4L)) > hamming,
      "unrelated doc should be farther than the near-dup")
  }

  test("Similarity.topK ranks an obvious nearest neighbor first") {
    val vecs = Seq(
      (10L, Seq(1.0f, 0.0f, 0.0f)),
      (11L, Seq(0.99f, 0.1f, 0.0f)),
      (12L, Seq(0.0f, 1.0f, 0.0f)),
      (13L, Seq(0.0f, 0.0f, 1.0f))
    ).toDF("vid", "emb")
    val q = vecs.filter(col("vid") === 10L)
      .select(col("vid").as("qid"), col("emb").as("qe"))
    val top = Similarity.topK(vecs, col("vid"), col("emb"), q, k = 2)
      .orderBy("rk").collect()
    assert(top(0).getLong(1) == 11L, "nearest vector must rank first")
  }

  test("Similarity.thresholdJoin stays within the partition key") {
    val vecs = Seq(
      (1L, "a", Seq(1.0f, 0.0f)), (2L, "a", Seq(1.0f, 0.0f)),
      (3L, "b", Seq(1.0f, 0.0f))
    ).toDF("vid", "grp", "emb")
    val pairs = Similarity.thresholdJoin(vecs, col("vid"), col("emb"),
        col("grp"), minSim = 0.9)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L)),
      "cross-partition pair (1,3)/(2,3) must NOT appear")
  }

  test("TextDedup.dupChunkFrac flags shared chunks, in-doc repeats, and " +
      "uniques") {
    // chunkTokens=2: doc 1 and 2 share chunk "aa bb"; doc 3 repeats its
    // own chunk; doc 4 is all-unique; doc 5 has a short tail chunk
    val df = Seq(
      (1L, "aa bb cc dd"),
      (2L, "aa bb xx yy"),
      (3L, "pp qq pp qq"),
      (4L, "uu vv ww zz"),
      (5L, "mm nn tail")
    ).toDF("k", "body")
    val out = TextDedup.dupChunkFrac(df, col("k"), col("body"),
        chunkTokens = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) == ((2L, 1L)), "doc 1: one shared chunk of two")
    assert(out(2L) == ((2L, 1L)), "doc 2: one shared chunk of two")
    assert(out(3L) == ((2L, 2L)), "doc 3: in-doc repeat counts as dup")
    assert(out(4L) == ((2L, 0L)), "doc 4: all chunks unique")
    assert(out(5L) == ((2L, 0L)), "doc 5: short tail chunk is its own")
  }

  test("Corpus.shuffleShard: pos is a dense 1..n permutation per shard, " +
      "deterministic, salt changes the order") {
    val df = (1L to 200L).map(i => (i, s"row$i")).toDF("k", "payload")
    val a = graft.api.Corpus.shuffleShard(df, col("k")).collect()
    assert(a.length == 200, "every input row survives")
    val perShard = a.groupBy(_.getAs[String]("shard"))
    perShard.foreach { case (sh, rows) =>
      val ps = rows.map(_.getAs[Int]("pos")).sorted
      assert(ps.toSeq == (1 to rows.length).toSeq,
        s"shard $sh positions not dense: ${ps.mkString(",")}")
    }
    assert(perShard.size > 8, "200 keys should hit most of 16 shards")
    val b = graft.api.Corpus.shuffleShard(df, col("k")).collect()
    assert(a.map(_.toString).sorted.toSeq == b.map(_.toString).sorted.toSeq,
      "re-run must be byte-identical")
    val c = graft.api.Corpus.shuffleShard(df, col("k"), salt = "epoch2")
      .collect()
    assert(a.map(_.toString).sorted.toSeq != c.map(_.toString).sorted.toSeq,
      "a new salt must produce a different order")
  }

  test("Corpus.hashFeatures: counts are sparse and sum to token count; " +
      "same token always lands in the same bucket") {
    val df = Seq((1L, "x y x"), (2L, "x")).toDF("k", "body")
    val out = graft.api.Corpus.hashFeatures(df, col("k"), col("body"))
      .collect()
    val total = out.map(_.getAs[Long]("n")).sum
    assert(total == 4L, "bucket counts must sum to the token count")
    val xBuckets = out.filter(_.getAs[Long]("doc_id") == 2L)
      .map(_.getAs[String]("bucket")).toSet
    assert(xBuckets.size == 1)
    // doc 1 has x twice + y once: x's bucket count includes both copies
    val d1 = out.filter(r => r.getAs[Long]("doc_id") == 1L &&
      r.getAs[String]("bucket") == xBuckets.head)
    assert(d1.exists(_.getAs[Long]("n") >= 2),
      "both copies of x must land in x's bucket")
    // wordNgrams=2: a t-token doc emits 2t−1 features (tokens +
    // adjacent bigrams); a single-token doc emits exactly 1 (the
    // sequence(1,0)-descends guard); bigram text hashes as ONE feature
    val bg = graft.api.Corpus.hashFeatures(df, col("k"), col("body"),
        wordNgrams = 2)
      .collect()
    val perDoc = bg.groupBy(_.getAs[Long]("doc_id"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("n")).sum }
    assert(perDoc == Map(1L -> 5L, 2L -> 1L),
      s"wordNgrams=2 feature counts wrong: $perDoc")
    // order sensitivity: "x y" and "y x" produce different bucket
    // multisets with overwhelming probability (distinct md5 inputs)
    val ab = graft.api.Corpus.hashFeatures(
        Seq((1L, "x y")).toDF("k", "body"), col("k"), col("body"),
        wordNgrams = 2)
      .collect().map(r => r.getAs[String]("bucket") -> r.getAs[Long]("n"))
      .toMap
    val ba = graft.api.Corpus.hashFeatures(
        Seq((1L, "y x")).toDF("k", "body"), col("k"), col("body"),
        wordNgrams = 2)
      .collect().map(r => r.getAs[String]("bucket") -> r.getAs[Long]("n"))
      .toMap
    assert(ab != ba, "bigram features must be order-sensitive")
  }

  test("wordNgrams=2 separates an order-only label unigram features " +
      "provably cannot (same token multisets, different sequences)") {
    import graft.api.{Corpus, Quality}
    // fluent docs repeat the canonical phrase; shuffled docs carry the
    // SAME token multiset re-ordered — unigram feature vectors are
    // identical per pair, so no linear model over them can separate
    val fluent = Seq("a b c d e f", "a b c d e f g h", "a b c d")
    val shuffled = Seq("f e d c b a", "h g f e d c b a", "d c b a")
    val docs = (fluent.zipWithIndex.map { case (t, i) => (i.toLong, t, 1) }
      ++ shuffled.zipWithIndex.map { case (t, i) =>
        ((i + 10).toLong, t, 0) })
      .toDF("doc_id", "text", "y")
    val labels = docs.select(col("doc_id"), col("y"))
    def fitAcc(ngrams: Int): Long = {
      val feats = Corpus.hashFeatures(docs, col("doc_id"), col("text"),
        wordNgrams = ngrams)
      val m = Quality.train(feats, labels, epochs = 8)
      Quality.classify(feats, m).join(labels, "doc_id")
        .filter((col("keep") && col("y") === 1) ||
          (!col("keep") && col("y") === 0))
        .count()
    }
    // unigram: each fluent/shuffled pair has IDENTICAL features ⇒ the
    // model scores the pair identically ⇒ at most one side of every
    // pair classifies correctly (≤ 3 of 6... plus margin-zero ties)
    val uni = fitAcc(1)
    assert(uni <= 3L,
      s"unigram features cannot separate order-only labels, got $uni/6")
    // bigram features differ per pair ⇒ the model separates fully
    val bi = fitAcc(2)
    assert(bi == 6L, s"bigram features must separate order: $bi/6")
  }

  test("TextDedup.nearMinhashMd5Between works on arbitrary frames and " +
      "column names: finds the planted cross-corpus near-dup, not the " +
      "unrelated docs") {
    // the planted pair shares the full shingle set (jaccard 1.0 ⇒
    // identical signatures ⇒ a band collision is CERTAIN; at j < 1 LSH
    // recall is probabilistic by design — the oracle-checked
    // llm_decontaminate_fuzzy key covers the sub-1.0 path on the corpus)
    val train = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again tonight"),
      (102L, "completely unrelated text about distributed query engines")
    ).toDF("tid", "ttext")
    val bench = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again tonight"),
      (2L, "benchmark prose sharing no shingles with anything above")
    ).toDF("bid", "btext")
    val got = TextDedup.nearMinhashMd5Between(
        train, col("tid"), col("ttext"), bench, col("bid"), col("btext"),
        minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((101L, 1L)),
      s"planted cross-corpus duplicate (101,1) missed: $got")
    assert(!got.exists(p => p._1 == 102L || p._2 == 2L),
      s"unrelated docs paired: $got")
  }

  test("TextDedup.clusters/clustersStar with a reliable checkpointDir " +
      "match the localCheckpoint default and actually write round state") {
    val edges = (Seq((1L, 2L), (2L, 3L), (9L, 7L)) ++
      (100L until 110L).map(i => (i, i + 1))).toDF("a", "b")
    val ckDir = SparkFixture.tempDir("graft_ck_")
    // localFinishEdges=0 forces the distributed rounds — the only path
    // that pins per round
    def run(star: Boolean) =
      (if (star) TextDedup.clustersStar(edges, col("a"), col("b"),
        localFinishEdges = 0L)
       else TextDedup.clusters(edges, col("a"), col("b"),
        localFinishEdges = 0L))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val base = run(star = false)
    val (reliable, starReliable) =
      SparkFixture.withCheckpointDir(ckDir.getAbsolutePath) {
        val r = run(star = false)
        assert(SparkFixture.checkpointFiles(ckDir) > 0,
          "no checkpoint part-files written — rounds still executor-local")
        (r, run(star = true))
      }
    assert(reliable == base,
      "reliable-checkpoint result diverges from the default")
    assert(starReliable == base,
      "clustersStar reliable-checkpoint result diverges")
  }

  test("Similarity.quantizeInt8: qvec within int8 range, reconstruction " +
      "error bounded by scale/2 per dimension, zero vector safe") {
    val vecs = Seq(
      (1L, Seq(0.5f, -1.0f, 0.25f, 0.0f)),
      (2L, Seq(0.001f, 0.002f, -0.003f, 0.004f)),
      (3L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vid", "emb")
    val out = Similarity.quantizeInt8(vecs, col("vid"), col("emb"))
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        r.getSeq[Byte](2))).toList
    out.foreach { case (_, _, q) =>
      assert(q.forall(v => v >= -127 && v <= 127), s"int8 range: $q") }
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(3L)._2 == 0.0 && byId(3L)._3.forall(_ == 0),
      "zero vector must quantize to zeros with scale 0")
    val orig = Map(1L -> Seq(0.5, -1.0, 0.25, 0.0),
      2L -> Seq(0.001, 0.002, -0.003, 0.004))
    orig.foreach { case (id, xs) =>
      val (_, scale, q) = byId(id)
      xs.zip(q).foreach { case (x, qi) =>
        assert(math.abs(qi * scale - x) <= scale / 2 + 1e-12,
          s"vec $id: |${qi * scale} - $x| > scale/2") }
      // max-|x| dimension must hit ±127 exactly (symmetric scaling)
      assert(q.map(v => math.abs(v.toInt)).max == 127)
    }
  }

  test("Similarity PQ: codes valid, seed-codebook recall beats chance, " +
      "and Lloyd training reduces reconstruction error") {
    val e = spark.read.parquet(s"${SparkFixture.sf0001}/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = sets(Similarity
      .topK(e, col("vec_id"), col("embedding"), q, k = 5))
    def recallWith(cb: org.apache.spark.sql.DataFrame): Double = {
      val got = sets(Similarity.topKPq(e, col("vec_id"), col("embedding"),
        cb, q, k = 5, m = 8, subDim = 8))
      val hits = exact.keys.toSeq.map(k =>
        (exact(k) intersect got.getOrElse(k, Set.empty)).size).sum
      hits.toDouble / exact.values.map(_.size).sum
    }
    val seedCb = Similarity.pqSeedCodebook(e, col("vec_id"),
      col("embedding"), m = 8, subDim = 8, k = 16)
    val codes = Similarity.pqEncode(e, col("vec_id"), col("embedding"),
      seedCb, m = 8, subDim = 8).collect()
    assert(codes.length == e.count())
    codes.foreach { r =>
      val cs = r.getSeq[Byte](1)
      assert(cs.length == 8 && cs.forall(c => c >= 0 && c < 16),
        s"invalid code array: $cs")
    }
    val seedRecall = recallWith(seedCb)
    // random 64-dim embeddings + untrained 16-centroid codebook is PQ's
    // worst case — chance recall@5 is 5/499 ≈ 0.01, seed lands ~0.28
    assert(seedRecall > 0.10,
      f"seed-codebook recall $seedRecall%.2f barely beats chance")
    // Lloyd's PROVABLE invariant is the k-means objective: total L2
    // reconstruction error is non-increasing per round. (Top-k DOT
    // recall on a 50-sample query set is too noisy to assert — L2 and
    // dot rankings disagree on random data.)
    def reconError(cb: org.apache.spark.sql.DataFrame): Double = {
      val recon = Similarity.pqReconstruct(
        Similarity.pqEncode(e, col("vec_id"), col("embedding"), cb,
          m = 8, subDim = 8), cb)
      e.select(col("vec_id"), col("embedding"))
        .join(recon, "vec_id")
        .select(aggregate(zip_with(col("embedding"), col("recon"),
            (a, b) => (a.cast("double") - b.cast("double"))
              * (a.cast("double") - b.cast("double"))),
          lit(0.0), (acc, x) => acc + x).as("e2"))
        .agg(sum(col("e2"))).head().getDouble(0)
    }
    val trainedCb = Similarity.pqTrainCodebook(e, col("vec_id"),
      col("embedding"), m = 8, subDim = 8, k = 16, iters = 3)
    val seedErr = reconError(seedCb)
    val trainedErr = reconError(trainedCb)
    assert(trainedErr < seedErr,
      f"Lloyd training did not reduce reconstruction error: " +
        f"$trainedErr%.2f >= $seedErr%.2f")
    // trained recall stays usable (sanity, loose bound for noise)
    assert(recallWith(trainedCb) > 0.10, "trained recall collapsed")
  }

  test("Similarity.topKIvfPq: composition tracks the full-precision IVF " +
      "ranking on the same probed cells and beats chance vs exact top-k") {
    val e = spark.read.parquet(s"${SparkFixture.sf0001}/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cb = Similarity.pqSeedCodebook(e, col("vec_id"), col("embedding"),
      m = 8, subDim = 8, k = 16)
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(got: Map[Long, Set[Long]], ref: Map[Long, Set[Long]]) = {
      val hits = ref.keys.toSeq.map(k =>
        (ref(k) intersect got.getOrElse(k, Set.empty)).size).sum
      hits.toDouble / ref.values.map(_.size).sum
    }
    val ivfpq = sets(Similarity.topKIvfPq(e, col("vec_id"),
      col("embedding"), cb, q, k = 5, m = 8, subDim = 8, nprobe = 4))
    // same inverted lists probed as the full-precision IVF path — the
    // only divergence is ADC re-ranking within small cells, so overlap
    // stays high even with the untrained seed codebook
    val ivf = sets(Similarity.topKIvf(e, col("vec_id"), col("embedding"),
      q, k = 5, nprobe = 4))
    val vsIvf = recall(ivfpq, ivf)
    assert(vsIvf >= 0.5,
      f"IVF+PQ diverged from full-precision IVF on shared cells: $vsIvf%.2f")
    // vs the exact ranking the CEILING is the coarse stage: with 256
    // cells over 500 random vectors, nprobe=4 scans ~8 of 499
    // candidates, so absolute exact-recall is structurally tiny at
    // fixture scale (production tunes bits/nprobe to the corpus). The
    // composition must retain most of whatever the full-precision IVF
    // path achieves, and stay above chance (≈ 0.01 for k=5 over 499).
    val exact = sets(Similarity.topK(e, col("vec_id"), col("embedding"),
      q, k = 5))
    val vsExact = recall(ivfpq, exact)
    val ivfVsExact = recall(ivf, exact)
    assert(vsExact >= 0.4 * ivfVsExact,
      f"ADC lost most of the coarse stage's recall: " +
        f"$vsExact%.2f vs IVF's $ivfVsExact%.2f")
    assert(vsExact > 0.02,
      f"IVF+PQ recall vs exact at chance level: $vsExact%.2f")
  }

  test("Similarity.topKIvfTrained: full probe equals exact top-k; " +
      "partial probe beats chance with trained centroids") {
    val e = spark.read.parquet(s"${SparkFixture.sf0001}/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cents = Similarity.kMeansFit(e, col("vec_id"), col("embedding"),
      k = 16, iters = 3)
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // probing EVERY list is brute force: identical scoring + tie-breaks
    // must reproduce the exact ranking bit-for-bit
    val full = sets(Similarity.topKIvfTrained(e, col("vec_id"),
      col("embedding"), cents, q, k = 5, nprobe = 16))
    val exact = sets(Similarity.topK(e, col("vec_id"), col("embedding"),
      q, k = 5))
    assert(full == exact, "nprobe = k (all lists) must equal exact top-k")
    // nprobe=4 of 16 cells scans ~25% of the corpus; trained lists must
    // recover far more than that fraction's chance overlap
    val part = sets(Similarity.topKIvfTrained(e, col("vec_id"),
      col("embedding"), cents, q, k = 5, nprobe = 4))
    val hits = exact.keys.toSeq.map(kq =>
      (exact(kq) intersect part.getOrElse(kq, Set.empty)).size).sum
    val recall = hits.toDouble / exact.values.map(_.size).sum
    assert(recall >= 0.3, f"trained-IVF recall@5 = $recall%.2f < 0.3")
  }

  test("Similarity.kMeansFit: spherical objective non-decreasing vs the " +
      "seed centroids; k centroids returned, unit-norm") {
    val e = spark.read.parquet(s"${SparkFixture.sf0001}/embeddings.parquet")
    def objective(cents: org.apache.spark.sql.DataFrame): Double =
      Similarity.assignClusters(e, col("vec_id"), col("embedding"), cents)
        .agg(sum(col("sim_r"))).head().getDouble(0)
    val seed = e.orderBy("vec_id").limit(8)
      .select((col("vec_id")).cast("int").as("cid"),
        col("embedding").as("ce"))
    val fitted = Similarity.kMeansFit(e, col("vec_id"), col("embedding"),
      k = 8, iters = 3)
    val rows = fitted.collect()
    assert(rows.length == 8, s"expected 8 centroids, got ${rows.length}")
    rows.foreach { r =>
      val n = math.sqrt(r.getSeq[Float](1).map(x => x * x.toDouble).sum)
      assert(math.abs(n - 1.0) < 1e-3, s"centroid not unit-norm: $n")
    }
    val before = objective(seed)
    val after = objective(fitted)
    assert(after >= before - 1e-6,
      f"spherical k-means objective DECREASED: $after%.4f < $before%.4f")
  }

  test("Similarity.topKQuantized recall@5 vs exact topK is high on the " +
      "fixture embeddings") {
    val e = spark.read.parquet(s"${SparkFixture.sf0001}/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = sets(Similarity
      .topK(e, col("vec_id"), col("embedding"), q, k = 5))
    val quant = sets(Similarity
      .topKQuantized(e, col("vec_id"), col("embedding"), q, k = 5))
    val hits = exact.keys.toSeq.map(k =>
      (exact(k) intersect quant.getOrElse(k, Set.empty)).size).sum
    val total = exact.values.map(_.size).sum
    val recall = hits.toDouble / total
    assert(recall >= 0.8, f"int8 recall@5 = $recall%.2f < 0.8 " +
      s"($hits/$total) — quantization broke the ranking")
  }

  test("Similarity.jacobiEigen recovers a known spectrum with " +
      "orthonormal eigenvectors") {
    // [[2,1],[1,2]] has eigenvalues 3 and 1 with eigenvectors along
    // (1,1)/√2 and (1,-1)/√2
    val (evals, evecs) = Similarity.jacobiEigen(
      Array(Array(2.0, 1.0), Array(1.0, 2.0)))
    assert(evals.sorted.zip(Array(1.0, 3.0)).forall {
      case (a, b) => math.abs(a - b) < 1e-12 },
      s"eigenvalues off: ${evals.mkString(",")}")
    // columns orthonormal
    val c0 = Array(evecs(0)(0), evecs(1)(0))
    val c1 = Array(evecs(0)(1), evecs(1)(1))
    def d(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    assert(math.abs(d(c0, c0) - 1) < 1e-12 &&
      math.abs(d(c1, c1) - 1) < 1e-12 && math.abs(d(c0, c1)) < 1e-12)
  }

  test("Similarity.pcaFit: orthonormal components, descending " +
      "eigenvalues, dominant axis found on anisotropic data") {
    // synthetic 6-dim data stretched along axis 2: PCA's first component
    // must align with it (arbitrary column names per the ApiSpec charter)
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map { i =>
      (i.toLong, Seq.tabulate(6)(j =>
        (if (j == 2) 10.0 else 0.3) * (rnd.nextDouble() - 0.5)).map(_.toFloat))
    }
    val df = rows.toDF("rid", "feats")
    val m = Similarity.pcaFit(df, col("feats"), inDim = 6, k = 3)
    assert(m.components.length == 3 && m.components.head.length == 6)
    assert(m.eigenvalues.sliding(2).forall(p => p(0) >= p(1) - 1e-12),
      s"eigenvalues not descending: ${m.eigenvalues.mkString(",")}")
    assert(m.eigenvalues.forall(_ >= -1e-9), "negative covariance eigenvalue")
    def d(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => x * y }.sum
    for (i <- m.components.indices; j <- i until m.components.length) {
      val expect = if (i == j) 1.0 else 0.0
      assert(math.abs(d(m.components(i), m.components(j)) - expect) < 1e-9,
        s"components $i,$j not orthonormal")
    }
    assert(math.abs(m.components.head(2)) > 0.99,
      s"first component missed the dominant axis: " +
        m.components.head.mkString(","))
    // top eigenvalue ≈ dominant-axis variance (uniform(-5,5) ⇒ ~8.33)
    assert(m.eigenvalues.head > 5.0 && m.eigenvalues.head < 12.0,
      s"top eigenvalue implausible: ${m.eigenvalues.head}")
  }

  test("Similarity dimensionality reduction: PCA and RP top-k recall vs " +
      "exact on fixture embeddings; PCA >= RP at the same width") {
    val e = spark.read.parquet(s"${SparkFixture.sf0001}/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(got: Map[Long, Set[Long]], ref: Map[Long, Set[Long]]) = {
      val hits = ref.keys.toSeq.map(k =>
        (ref(k) intersect got.getOrElse(k, Set.empty)).size).sum
      hits.toDouble / ref.values.map(_.size).sum
    }
    val exact = sets(Similarity.topK(e, col("vec_id"), col("embedding"),
      q, k = 5))
    val rp = sets(Similarity.topKRandomProjection(e, col("vec_id"),
      col("embedding"), q, k = 5, inDim = 64, outDim = 16))
    val model = Similarity.pcaFit(e, col("embedding"), inDim = 64, k = 16)
    val pca = sets(Similarity.topKPca(e, col("vec_id"), col("embedding"),
      q, k = 5, model))
    val rpR = recall(rp, exact)
    val pcaR = recall(pca, exact)
    info(f"recall@5 vs exact: rp=$rpR%.2f pca=$pcaR%.2f")
    // chance recall@5 over 499 candidates ≈ 0.01
    assert(rpR > 0.1, f"16-dim RP recall at chance level: $rpR%.2f")
    assert(pcaR > 0.1, f"16-dim PCA recall at chance level: $pcaR%.2f")
    // variance-chasing projection must not lose to random signs (equal
    // width); small slack for query-set noise
    assert(pcaR >= rpR - 0.1,
      f"PCA recall $pcaR%.2f fell below the RP twin $rpR%.2f")
  }

  test("Bpe.train matches a pure-Scala reference BPE on a toy corpus; " +
      "segment applies the learned merges") {
    import graft.api.Bpe
    val docs = Seq("low lower lowest low low", "new newer newest new 42 a")
      .toDF("txt")
    val merges = Bpe.train(docs, col("txt"), nMerges = 6)

    // reference implementation: word-frequency BPE with the same argmax
    // rule (max count, then lexicographic "a b" tie-break)
    def refBpe(words: Map[String, Long], n: Int): Seq[(String, String)] = {
      var vocab = words.map { case (w, c) => (w.map(_.toString).toVector, c) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      for (_ <- 0 until n) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        vocab.foreach { case (syms, c) =>
          if (syms.size > 1) syms.sliding(2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + c } }
        if (counts.nonEmpty) {
          val best = counts.toSeq.minBy { case ((a, b), c) =>
            (-c, s"$a $b") }._1
          out += best
          vocab = vocab.map { case (syms, c) =>
            val buf = Vector.newBuilder[String]; var i = 0
            while (i < syms.size) {
              if (i + 1 < syms.size && syms(i) == best._1 &&
                  syms(i + 1) == best._2) {
                buf += syms(i) + syms(i + 1); i += 2
              } else { buf += syms(i); i += 1 }
            }
            (buf.result(), c)
          }
        }
      }
      out.toSeq
    }
    val words = "low lower lowest low low new newer newest new".split(" ")
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expect = refBpe(words, 6)
    assert(merges == expect, s"train $merges != reference $expect")

    // encode side: tokens concatenate back to the word, and a word whose
    // full merge chain was learned segments to one token
    val seg = Bpe.segment(Seq("low", "lowest", "news").toDF("w"),
      col("w"), merges).collect()
    seg.foreach { r =>
      assert(r.getSeq[String](1).mkString == r.getString(0),
        s"tokens do not rebuild ${r.getString(0)}")
    }
    val lowTokens = seg.find(_.getString(0) == "low").get.getSeq[String](1)
    assert(lowTokens == Seq("low"),
      s"'low' (freq 3 with every prefix merged) split as $lowTokens")

    // round-trip pin (r11): writeModel → readModel preserves the merge
    // LIST (order included — it is the tokenizer's semantics), and
    // segmenting under the reloaded model is bit-identical to segmenting
    // under the in-memory one
    val mdir = java.nio.file.Files
      .createTempDirectory("graft-bpe-model").resolve("m").toString
    Bpe.writeModel(spark, merges, mdir)
    val reloaded = Bpe.readModel(spark, mdir)
    assert(reloaded == merges,
      s"model round-trip changed the merges: $reloaded != $merges")
    val words2 = Seq("low", "lowest", "news", "newer").toDF("w")
    val a = Bpe.segment(words2, col("w"), merges)
      .select("w", "tokens").collect().map(r =>
        r.getString(0) -> r.getSeq[String](1)).toMap
    val b = Bpe.segment(words2, col("w"), reloaded)
      .select("w", "tokens").collect().map(r =>
        r.getString(0) -> r.getSeq[String](1)).toMap
    assert(a == b, s"segment diverged under the reloaded model: $a != $b")

    // trainFromVocab (the llm_bpe_encode path) is the same loop: training
    // from the pre-built vocabulary yields the identical merge list
    val vocab = Bpe.wordFreq(docs, col("txt"))
      .select(Bpe.wrapChars(col("word")).as("sym"), col("w_n"))
    assert(Bpe.trainFromVocab(vocab, 6) == merges,
      "trainFromVocab diverged from train on the same corpus")

    // degenerate corpus: the vocabulary exhausts its mergeable pairs
    // before the requested rounds — training stops early with the
    // shorter list (and the chained DuckDB oracle carries the final
    // segmentation forward, so encode/fertility stay non-empty)
    val tiny = Seq("ab ab ab").toDF("txt")
    val tinyVocab = Bpe.wordFreq(tiny, col("txt"))
      .select(Bpe.wrapChars(col("word")).as("sym"), col("w_n"))
    val tinyMerges = Bpe.trainFromVocab(tinyVocab, 8)
    assert(tinyMerges == Seq(("a", "b")),
      s"exhausted vocab must stop after its one merge: $tinyMerges")
  }

  test("Wordpiece.train matches a pure-Scala likelihood-argmax reference; " +
      "encode is greedy longest-match with whole-word [UNK]") {
    import graft.api.Wordpiece
    val docs = Seq("low lower lowest low low", "new newer newest new 42 a")
      .toDF("txt")
    val merges = Wordpiece.train(docs, col("txt"), nMerges = 5)

    // reference: same counts as the BPE reference, argmax on
    // (n/c_a)/c_b with the identical division order, pair tie-break
    def refWp(words: Map[String, Long], n: Int): Seq[(String, String)] = {
      var vocab = words.map { case (w, c) => (w.map(_.toString).toVector, c) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      for (_ <- 0 until n) {
        val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        val sc = scala.collection.mutable.Map.empty[String, Long]
        vocab.foreach { case (syms, c) =>
          syms.foreach(s => sc(s) = sc.getOrElse(s, 0L) + c)
          if (syms.size > 1) syms.sliding(2).foreach { p =>
            pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + c } }
        if (pc.nonEmpty) {
          val best = pc.toSeq.minBy { case ((a, b), n0) =>
            (-(n0.toDouble / sc(a) / sc(b)), s"$a $b") }._1
          out += best
          vocab = vocab.map { case (syms, c) =>
            val buf = Vector.newBuilder[String]; var i = 0
            while (i < syms.size) {
              if (i + 1 < syms.size && syms(i) == best._1 &&
                  syms(i + 1) == best._2) {
                buf += syms(i) + syms(i + 1); i += 2
              } else { buf += syms(i); i += 1 }
            }
            (buf.result(), c)
          }
        }
      }
      out.toSeq
    }
    val words = "low lower lowest low low new newer newest new".split(" ")
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expect = refWp(words, 5)
    assert(merges == expect, s"train $merges != reference $expect")

    // trainFromVocab (the llm_wordpiece_train split) is the same loop:
    // training from the pre-segmented vocab yields identical merges
    val vocab0 = graft.api.Bpe.wordFreq(docs, col("txt"))
      .select(graft.api.Bpe.wrapChars(col("word")).as("sym"), col("w_n"))
    assert(Wordpiece.trainFromVocab(vocab0, 5) == merges,
      "trainFromVocab diverged from train on the same corpus")

    // encode: hand-built vocab — greedy takes the LONGEST piece at each
    // position; a word touching an out-of-vocab char collapses to [UNK]
    val wf = Seq(("lowest", 1L), ("low", 3L), ("newer", 1L), ("axe", 1L))
      .toDF("word", "w_n")
    val voc = Seq("l", "lo", "low", "##e", "##es", "##st", "##t", "n",
      "##ew", "##er", "a").toDF("piece")
    val out = Wordpiece.encode(wf, voc).collect()
      .map(r => r.getString(0) -> (r.getInt(2), r.getString(3),
        r.getBoolean(4))).toMap
    // "lowest": low + ##es (len-2 beats ##e) + ... after ##es at pos 5
    // only ##t matches
    assert(out("lowest") == ((3, "low|##es|##t", false)), out("lowest"))
    assert(out("low") == ((1, "low", false)), out("low"))
    // "newer": n + ##ew + ##er
    assert(out("newer") == ((3, "n|##ew|##er", false)), out("newer"))
    // "axe": a matches, then 'x' has no continuation piece -> [UNK]
    assert(out("axe") == ((1, "[UNK]", true)), out("axe"))

    // vocabPieces: relative threshold keeps shared pieces, drops
    // singletons; permille=0 keeps everything
    val wf2 = graft.api.Bpe.wordFreq(docs, col("txt"))
    val all = Wordpiece.vocabPieces(wf2, permille = 0).count()
    val some = Wordpiece.vocabPieces(wf2, permille = 30).count()
    assert(some > 0 && some < all, s"pruning no-op: $some of $all")
  }

  test("Similarity.randomProjection: deterministic across calls, exact " +
      "manual projection on a unit row, arbitrary column names") {
    // a one-hot vector projects to sign(j, i)/√outDim exactly
    val inDim = 8
    val df = Seq((42L, (Seq.fill(3)(0f) :+ 1f) ++ Seq.fill(inDim - 4)(0f)))
      .toDF("key", "v")
    val out = Similarity.randomProjection(df, col("key"), col("v"),
      inDim = inDim, outDim = 4, seed = 3)
      .collect()
    assert(out.length == 1 && out(0).getLong(0) == 42L)
    val signs = Similarity.rpSignMatrix(3, 4, inDim)
    val expect = (0 until 4).map(j =>
      BigDecimal(signs(j)(3) / math.sqrt(4.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(out(0).getSeq[Double](1) == expect,
      s"projection mismatch: ${out(0).getSeq[Double](1)} vs $expect")
    assert(Similarity.rpSignMatrix(3, 4, inDim) == signs,
      "sign matrix not deterministic")
  }

  test("llm_dedup_incremental: per-sf-dir signature indexes are isolated " +
      "(sanitized-path keys, no cross-contamination between scale factors)") {
    val q = graft.ops.Curation.entries("llm_dedup_incremental")
    val first = q(spark, SparkFixture.sf0001).collect().toSeq
    // writing the OTHER sf dir's index must not disturb the first one's
    q(spark, SparkFixture.sf001).collect()
    val again = q(spark, SparkFixture.sf0001).collect().toSeq
    assert(first == again,
      "sf0.001 screen changed after building the sf0.01 index")
    // the sanitized-path key maps distinct dirs to distinct index paths
    // (the hashCode key it replaced could silently collide)
    val key = (s: String) => s.replaceAll("[^A-Za-z0-9._-]", "_")
    assert(key(SparkFixture.sf0001) != key(SparkFixture.sf001))
  }

  test("TextQuality.langIdConfusion: reliable checkpointDir yields the " +
      "same confusion matrix as the executor-local default") {
    val df = Seq(
      (1L, "en", "the cat sat on the mat"),
      (2L, "en", "the dog ran fast and far"),
      (3L, "fr", "le chat est sur le tapis"),
      (4L, "fr", "le chien court vite aussi"),
      (5L, "en", "le the cat chien mat") // code-mixed row
    ).toDF("k", "lbl", "body")
    val base = TextQuality
      .langIdConfusion(df, col("k"), col("lbl"), col("body"))
      .orderBy("label", "pred_label").collect().toSeq
    val dir = SparkFixture.tempDir("graft-langid-ckpt")
    val ck = SparkFixture.withCheckpointDir(dir.getAbsolutePath) {
      TextQuality
        .langIdConfusion(df, col("k"), col("lbl"), col("body"))
        .orderBy("label", "pred_label").collect().toSeq
    }
    assert(base.nonEmpty && base == ck,
      s"checkpoint-dir result diverged: $ck vs $base")
    assert(SparkFixture.checkpointFiles(dir) > 0,
      "no checkpoint part-files written — pins still executor-local")
  }

  test("TextDedup.dupSubstringStats catches a boundary-straddling exact " +
      "repeat that dupChunkFrac provably misses") {
    // a 10-token run R shared by both docs at DIFFERENT offsets: no
    // disjoint 8-token chunk aligns with it on both sides, but the
    // overlapping 8-token windows over R are position-independent
    val a = "fa1 fa2 fa3 fa4 r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 fa5 fa6"
    val b = "gb1 r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 gb2 gb3 gb4 gb5 gb6"
    val df = Seq((1L, a), (2L, b)).toDF("id", "body")
    val chunk = TextDedup.dupChunkFrac(df, col("id"), col("body"))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(chunk.values.forall(_ == 0L),
      s"disjoint chunks unexpectedly matched: $chunk")
    val roll = TextDedup.dupSubstringStats(df, col("id"), col("body"))
      .collect()
      .map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))).toMap
    // 16 tokens -> 9 windows/doc; R contributes the 3 windows fully
    // inside it (r1..r8, r2..r9, r3..r10) as ONE streak certifying a
    // 3 + 8 - 1 = 10-token duplicated span — exactly |R|
    assert(roll(1L) == ((9L, 3L, 3L, 10L)), s"doc 1: ${roll(1L)}")
    assert(roll(2L) == ((9L, 3L, 3L, 10L)), s"doc 2: ${roll(2L)}")
  }

  test("SuffixArray.duplicateSpans reports EXACT span boundaries for a " +
      "misaligned planted repeat that dupChunkFrac misses") {
    import graft.api.SuffixArray
    // a 13-token run R planted at offset 5 in doc 1 and offset 2 in
    // doc 2 — misaligned with every disjoint 8-token chunk grid, so
    // block dedup sees nothing; the suffix-array spans must come back
    // with exact [start, end] token bounds on both sides
    val r = (1 to 13).map(i => s"r$i").mkString(" ")
    val a = s"fa1 fa2 fa3 fa4 $r fa5 fa6 fa7"
    val b = s"gb1 $r gb2 gb3 gb4 gb5 gb6 gb7"
    val df = Seq((1L, a), (2L, b)).toDF("id", "body")
    val chunk = TextDedup.dupChunkFrac(df, col("id"), col("body"))
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    assert(chunk.values.forall(_ == 0L),
      s"disjoint chunks unexpectedly matched: $chunk")
    val spans = SuffixArray
      .duplicateSpans(df, col("id"), col("body"), minLen = 12)
      .collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3),
        x.getLong(4))).toSet
    // 13-token repeat, L=12: two duplicated window starts per side,
    // chaining into one exact span of 13 tokens
    assert(spans == Set((1L, 5, 17, 13, 2L), (2L, 2, 14, 13, 2L)),
      s"got $spans")
  }

  test("SuffixArray fails fast on a doc id that is NULL or not castable " +
      "to long (instead of silently returning empty)") {
    import graft.api.SuffixArray
    val r = (1 to 13).map(i => s"r$i").mkString(" ")
    // a string id that casts to NULL would otherwise bypass the overflow
    // guards into a NULL class label, which relabel's null-unsafe join
    // then drops — every row vanishes and duplicateSpans returns empty
    for (badId <- Seq("doc-x", null)) {
      val df = Seq((badId, s"a1 a2 $r a3"), ("2", s"b1 $r b2"))
        .toDF("id", "body")
      val e = intercept[Exception] {
        SuffixArray.duplicateSpans(df, col("id"), col("body"), minLen = 12)
          .collect()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
          msgs(x.getCause))
      assert(msgs(e).exists(m => m.contains("SuffixArray")),
        s"id=$badId: wrong failure ${e.getMessage}")
    }
  }

  test("SuffixArray.duplicateSpans matches a literal-gram pure-Scala " +
      "reference on a repeat-dense corpus (tail and no-tail widths)") {
    import graft.api.SuffixArray
    // small alphabet → dense repeats at every alignment, in-doc and
    // cross-doc, runs that chain and runs that touch doc edges
    val docs = Seq(
      (10L, "a b a b a b c d e a b c"),
      (11L, "b a b a b c d e a b c d"),
      (12L, "c d e a b c a b a b a b"),
      (13L, "x y z w v u t s q p o n"),
      (14L, "a b"),
      (15L, ""))
    val df = docs.toDF("id", "body")

    def refSpans(l: Int): Set[(Long, Int, Int, Int, Long)] = {
      val pos = docs.flatMap { case (id, t) =>
        val tk = t.split(" ", -1)
        (1 to tk.length - l + 1).map(p =>
          (id, p, tk.slice(p - 1, p - 1 + l).mkString(" ")))
      }
      val n = pos.groupBy(_._3).view.mapValues(_.size).toMap
      pos.filter(p => n(p._3) > 1).groupBy(_._1).flatMap { case (id, ps) =>
        val sorted = ps.map(_._2).sorted
        val runs = sorted.foldLeft(List.empty[List[Int]]) {
          case (acc @ (cur :: rest), p) if p - cur.head <= l =>
            (p :: cur) :: rest
          case (acc, p) => List(p) :: acc
        }
        runs.map(run => (id, run.last, run.head + l - 1,
          run.head + l - run.last, run.size.toLong))
      }.toSet
    }

    // 3: rank_2 + one overlap block (no doubling round); 4: two disjoint
    // rank_2 blocks — both final-key shapes
    for (l <- Seq(3, 4)) {
      val got = SuffixArray
        .duplicateSpans(df, col("id"), col("body"), minLen = l)
        .collect()
        .map(x => (x.getLong(0), x.getInt(1), x.getInt(2), x.getInt(3),
          x.getLong(4))).toSet
      assert(got == refSpans(l), s"minLen=$l: $got != ${refSpans(l)}")
    }
  }

  test("SuffixArray.dedupSpans keeps the globally-first occurrence and " +
      "cuts every other covered token, matching a pure-Scala reference") {
    import graft.api.SuffixArray
    val docs = Seq(
      (10L, "a b a b a b c d e a b c"),
      (11L, "b a b a b c d e a b c d"),
      (12L, "c d e a b c a b a b a b"),
      (13L, "x y z w v u t s q p o n"),
      (14L, "a b"),
      (15L, ""))

    def refDedup(l: Int): Map[Long, (Long, Long, String)] = {
      val pos = docs.flatMap { case (id, t) =>
        val tk = t.split(" ", -1)
        (1 to tk.length - l + 1).map(p =>
          (id, p, tk.slice(p - 1, p - 1 + l).mkString(" ")))
      }
      val byGram = pos.groupBy(_._3)
      val flagged = byGram.values.filter(_.size > 1).flatMap { occ =>
        val cn = occ.map { case (d, p, _) => (d, p) }.min
        occ.collect { case (d, p, _) if (d, p) != cn => (d, p) }
      }.toSet
      docs.map { case (id, t) =>
        val tk = t.split(" ", -1)
        val kept = tk.zipWithIndex.collect {
          case (tok, i0) if !flagged.exists { case (d, p) =>
            d == id && i0 + 1 >= p && i0 + 1 <= p + l - 1 } => tok
        }
        id -> ((tk.length.toLong, kept.length.toLong, kept.mkString(" ")))
      }.toMap
    }

    for (l <- Seq(3, 4)) {
      val got = SuffixArray
        .dedupSpans(docs.toDF("id", "body"), col("id"), col("body"),
          minLen = l)
        .collect()
        .map(x => x.getLong(0) ->
          ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
      assert(got == refDedup(l), s"minLen=$l: $got != ${refDedup(l)}")
      // rebuilt tokens concatenate from kept positions only — the first
      // occurrence of every duplicated run must survive somewhere
      assert(got.values.map(_._2).sum > 0)
    }
  }

  test("TextDedup line family: stats, keep-first dedup with original " +
      "spelling, boilerplate report + strip, blank-line handling") {
    // normalized "shared footer" occurs 4× across 3 distinct docs (case
    // and padding variants must fold together); doc 13 has blank lines
    // that drop entirely; doc 14 is ALL blank (must still appear in the
    // apply outputs with n_lines = 0)
    val docs = Seq(
      (10L, "Shared Footer\nunique alpha one\nshared footer"),
      (11L, "unique beta two\n  SHARED FOOTER \nunique beta three"),
      (12L, "shared footer\nunique gamma four"),
      (13L, "unique delta five\n\n   \nunique delta six"),
      (14L, "   ")
    ).toDF("id", "body")

    val st = TextDedup.lineStats(docs, col("id"), col("body"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(st == Map(10L -> ((3L, 2L)), 11L -> ((3L, 1L)),
      12L -> ((2L, 1L)), 13L -> ((2L, 0L))),
      s"lineStats: $st (doc 14 must be absent — no non-blank lines)")

    val dd = TextDedup.dedupLines(docs, col("id"), col("body"))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3)))).toMap
    // keep-first by packed (doc, line): the canonical occurrence is doc
    // 10 line 1 and must survive with its ORIGINAL spelling ("Shared
    // Footer"), every later occurrence (10/3, 11/2, 12/1) cut
    assert(dd(10L) == ((3L, 2L, "Shared Footer\nunique alpha one")),
      s"doc 10: ${dd(10L)}")
    assert(dd(11L) == ((3L, 2L, "unique beta two\nunique beta three")),
      s"doc 11: ${dd(11L)}")
    assert(dd(12L) == ((2L, 1L, "unique gamma four")), s"doc 12: ${dd(12L)}")
    assert(dd(13L) == ((2L, 2L, "unique delta five\nunique delta six")),
      s"doc 13 blank lines must drop: ${dd(13L)}")
    assert(dd(14L) == ((0L, 0L, "")), s"all-blank doc: ${dd(14L)}")

    val bp = TextDedup.boilerplateLines(docs, col("id"), col("body"),
        minDocs = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(bp.toSeq == Seq(("shared footer", 3L, 4L)),
      s"boilerplate report: ${bp.toSeq}")

    val sp = TextDedup.stripBoilerplateLines(docs, col("id"), col("body"),
        minDocs = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    // unlike keep-first dedup, the FIRST occurrence is cut too
    assert(sp(10L) == ((1L, "unique alpha one")), s"doc 10: ${sp(10L)}")
    assert(sp(11L) == ((2L, "unique beta two\nunique beta three")),
      s"doc 11: ${sp(11L)}")
    assert(sp(12L) == ((1L, "unique gamma four")), s"doc 12: ${sp(12L)}")
    assert(sp(13L) == ((2L, "unique delta five\nunique delta six")),
      s"doc 13: ${sp(13L)}")
  }

  test("TextDedup line-index lifecycle: index wins over the shard, " +
      "intra-shard repeats keep first, grown+compacted equals rebuilt, " +
      "delim mismatch fails loudly") {
    val day0 = Seq((1L, "seen before\nalso seen")).toDF("id", "body")
    val day1 = Seq((2L, "late arrival")).toDF("id", "body")
    val delta = Seq(
      (10L, "seen before\nbrand new\nbrand new"),
      (11L, "late arrival\nbrand new\nown line")
    ).toDF("id", "body")
    val path = SparkFixture.tempDir("line_idx").getAbsolutePath
    TextDedup.writeLineIndex(day0, col("id"), col("body"), path)
    TextDedup.appendToLineIndex(day1, col("id"), col("body"), path)
    TextDedup.compactLineIndex(spark, path)
    val out = TextDedup
      .dedupLinesAgainstIndex(delta, col("id"), col("body"), path)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3)))).toMap
    // "seen before" (day0) and "late arrival" (appended day1) are cut;
    // "brand new" keeps its first occurrence (doc 10 line 2) only
    assert(out(10L) == ((3L, 1L, "brand new")), s"doc 10: ${out(10L)}")
    assert(out(11L) == ((3L, 1L, "own line")), s"doc 11: ${out(11L)}")
    // grown+compacted index ≡ rebuilt-over-both index: same screen
    val rebuilt = SparkFixture.tempDir("line_idx_rb").getAbsolutePath
    TextDedup.writeLineIndex(day0.unionByName(day1), col("id"),
      col("body"), rebuilt)
    val out2 = TextDedup
      .dedupLinesAgainstIndex(delta, col("id"), col("body"), rebuilt)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3)))).toMap
    assert(out == out2, s"grown index diverges from rebuilt:\n$out\n$out2")
    val ex = intercept[IllegalArgumentException] {
      TextDedup.dedupLinesAgainstIndex(delta, col("id"), col("body"),
        path, delim = "\t")
    }
    assert(ex.getMessage.contains("delim"), ex.getMessage)
  }

  test("TextDedup.dedupLines enforces the packed-key precondition " +
      "loudly instead of electing wrong canonicals") {
    val bad = Seq((-1L, "some line\nanother line"),
      (2L, "some line")).toDF("id", "body")
    val ex = intercept[Exception] {
      TextDedup.dedupLines(bad, col("id"), col("body")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("packed-key precondition")),
      s"expected the loud guard, got: $ex")
  }

  test("TextDedup.dupSubstringStats: unrelated docs report zero dup " +
      "windows; in-doc template repetition is counted") {
    val df = Seq(
      (10L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
      // the same 8-token template twice IN ONE doc (positions 1 and 9)
      (11L, "t1 t2 t3 t4 t5 t6 t7 t8 t1 t2 t3 t4 t5 t6 t7 t8")
    ).toDF("id", "body")
    val out = TextDedup.dupSubstringStats(df, col("id"), col("body"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(5)))).toMap
    assert(out(10L) == ((0L, 0L)), s"clean doc flagged: ${out(10L)}")
    assert(out(11L)._1 >= 2L && out(11L)._2 >= 8L,
      s"in-doc repeat not caught: ${out(11L)}")
  }

  test("Unigram.train matches a pure-Scala Viterbi-EM reference, round " +
      "for round; segment rebuilds words") {
    import graft.api.Unigram
    val docs = Seq(
      (1L, "low lower lowest new newer newest wide wider widest"),
      (2L, "low low lower new new newest wide wide wider"),
      (3L, "newest lowest widest low new wide")
    ).toDF("id", "body")
    val m = 4
    // reference word frequencies (the Bpe.wordFreq contract)
    val words: Map[String, Long] = docs.collect()
      .flatMap(_.getString(1).split(" ")).filter(_.matches("[A-Za-z]+"))
      .groupBy(identity).map { case (w, a) => w -> a.length.toLong }
    def roundCost(x: Double): Long =
      BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
    def renorm(cnt: collection.Map[String, Long]): Map[String, (Long, Long)] = {
      val tot = cnt.values.sum.toDouble
      cnt.map { case (p, c) =>
        p -> (c, roundCost(-math.log(c / tot) * 1e6)) }.toMap
    }
    def seedRef: Map[String, (Long, Long)] = {
      val cnt = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for ((w, n) <- words; i <- 0 until w.length;
           l <- 1 to math.min(m, w.length - i))
        cnt(w.substring(i, i + l)) += n
      renorm(cnt)
    }
    // one hard-EM round: packed cost*100+split Viterbi per word, then
    // usage counts -> renormalize (exactly Unigram.emStep's contract)
    def emRef(model: Map[String, (Long, Long)]): Map[String, (Long, Long)] = {
      val used = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for ((w, n) <- words) {
        val L = w.length
        val arr = new Array[Long](L + 1)
        for (j <- 1 to L) {
          var best = Long.MaxValue
          for (i <- math.max(0, j - m) until j if arr(i) != Long.MaxValue)
            model.get(w.substring(i, j)).foreach { case (_, c) =>
              val cand = ((arr(i) / 100) + c) * 100 + i
              if (cand < best) best = cand
            }
          arr(j) = best
        }
        assert(arr(L) != Long.MaxValue, s"reference: $w unreachable")
        var j = L
        while (j > 0) {
          val pi = (arr(j) % 100).toInt
          used(w.substring(pi, j)) += n; j = pi
        }
      }
      renorm(used)
    }
    // two reference rounds with train()'s prune rule: round output plus
    // unused single chars at their previous cost with cnt 0
    var refModel: Map[String, (Long, Long)] = seedRef
    for (_ <- 1 to 2) {
      val used = emRef(refModel)
      val singles = refModel.collect {
        case (p, (_, c)) if p.length == 1 && !used.contains(p) =>
          p -> (0L, c)
      }
      refModel = used ++ singles
    }
    val got = Unigram.train(docs, col("body"), rounds = 2)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == refModel,
      s"train diverges from reference:\n  extra=${got.keySet -- refModel.keySet}" +
        s"\n  missing=${refModel.keySet -- got.keySet}" +
        s"\n  diff=${got.collect { case (k, v) if refModel.get(k).exists(_ != v) => (k, v, refModel(k)) }}")
    // encode side: tokens rebuild each word under the trained model
    val modelDf = Unigram.train(docs, col("body"), rounds = 1)
      .select(col("piece"), col("cost"))
    val seg = Unigram.segment(words.keys.toSeq.toDF("w"), col("w"), modelDf)
      .collect()
    seg.foreach { r =>
      assert(!r.isNullAt(1), s"${r.getString(0)} unsegmentable")
      assert(r.getSeq[String](1).mkString == r.getString(0),
        s"tokens do not rebuild ${r.getString(0)}")
    }
  }

  test("Similarity.pcaFitExactPower: deterministic across calls, unit-norm " +
      "components, descending eigenvalues, recovers a planted dominant axis " +
      "in agreement with the Jacobi fit") {
    val rnd = new scala.util.Random(5)
    val d = 8
    // anisotropic cloud: dim 2 carries 4x the spread of the others
    val data = (0L until 200L).map { i =>
      (i, Seq.tabulate(d)(j =>
        (rnd.nextFloat() * 2 - 1) * (if (j == 2) 2.0f else 0.5f)))
    }.toDF("id", "v")
    val m1 = Similarity.pcaFitExactPower(data, col("v"), inDim = d, k = 3)
    val m2 = Similarity.pcaFitExactPower(data, col("v"), inDim = d, k = 3)
    assert(m1.components.map(_.toSeq).toSeq == m2.components.map(_.toSeq).toSeq
        && m1.eigenvalues.toSeq == m2.eigenvalues.toSeq,
      "fit not deterministic across calls")
    m1.components.foreach { c =>
      assert(math.abs(c.map(x => x * x).sum - 1.0) < 1e-9, "non-unit component")
    }
    assert(m1.eigenvalues(0) >= m1.eigenvalues(1)
        && m1.eigenvalues(1) >= m1.eigenvalues(2),
      s"eigenvalues not descending: ${m1.eigenvalues.toSeq}")
    assert(math.abs(m1.components(0)(2)) > 0.9,
      s"dominant axis not recovered: ${m1.components(0).toSeq}")
    val jac = Similarity.pcaFit(data, col("v"), inDim = d, k = 1)
    val dp = m1.components(0).zip(jac.components(0))
      .map { case (a, b) => a * b }.sum
    assert(math.abs(dp) > 0.99,
      s"power-method dominant component disagrees with Jacobi: $dp")
  }

  test("Jacobi-PCA top-k agrees with the hash-checked exact-power twin " +
      "on an identifiable subspace: recall@5 between the two solvers' " +
      "retrievals (llm_sim_topk_pca's no-oracle fit, measured against " +
      "the llm_sim_topk_pca_exact path)") {
    // the last no-oracle key's loop-closer: the Jacobi fit cannot be
    // DuckDB-checked (float-order-dependent), but it must retrieve the
    // same neighbors as the oracle-checked exact-power solver — the
    // llm_ann_recall idea applied to the eigen-solver choice. Measured
    // on a PLANTED anisotropic cloud (spectral gaps 4/3/2/1.5 vs 0.3),
    // where the top-4 subspace is identifiable; on the near-isotropic
    // fixture embeddings the subspace is solver-arbitrary by
    // construction (measured recall 0.36 there — not a defect, the
    // spectrum is flat), so a fixture-based pin would be meaningless.
    val rnd = new scala.util.Random(13)
    val d = 8
    val scale = Array(4.0f, 3.0f, 2.0f, 1.5f, 0.3f, 0.3f, 0.3f, 0.3f)
    val data = (0L until 400L).map { i =>
      (i, Seq.tabulate(d)(j => (rnd.nextFloat() * 2 - 1) * scale(j)))
    }.toDF("vec_id", "v")
    val q = data.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qe"))
    def sets(m: Similarity.PcaModel) = Similarity
      .topKPca(data, col("vec_id"), col("v"), q, k = 5, m)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val jac = sets(Similarity.pcaFit(data, col("v"), inDim = d, k = 4))
    val pow = sets(
      Similarity.pcaFitExactPower(data, col("v"), inDim = d, k = 4))
    val hits = pow.keys.toSeq
      .map(k => (pow(k) intersect jac.getOrElse(k, Set.empty)).size).sum
    val recall = hits.toDouble / pow.values.map(_.size).sum
    info(f"Jacobi-vs-exact-power recall@5: $recall%.3f")
    assert(recall >= 0.9,
      f"Jacobi subspace diverged from the exact-power twin: $recall%.3f")
  }

  test("Similarity.topKRerank: recall at least the RP-only path, and " +
      "rerank scores equal the exact scores") {
    val e = spark.read.parquet(SparkFixture.sf0001 + "/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val exact = Similarity.topK(e, col("vec_id"), col("embedding"), q, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    def pairsOf(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val rerank = Similarity.topKRerank(e, col("vec_id"), col("embedding"),
      q, k = 5, coarseK = 20, inDim = 64, outDim = 16, seed = 11).collect()
    val rpOnly = Similarity.topKRandomProjection(e, col("vec_id"),
      col("embedding"), q, k = 5, inDim = 64, outDim = 16, seed = 11)
      .collect()
    val exactPairs = exact.keySet
    val rrRecall = (pairsOf(rerank) & exactPairs).size.toDouble
    val rpRecall = (pairsOf(rpOnly) & exactPairs).size.toDouble
    assert(rrRecall >= rpRecall,
      s"rerank recall $rrRecall below RP-only $rpRecall")
    assert(rrRecall > 0, "rerank found nothing from the exact top-5")
    // candidates the rerank DID return score with the exact dot — same
    // value the brute-force path computes
    rerank.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      exact.get(key).foreach { s =>
        assert(r.getDouble(2) == s, s"rerank score diverges at $key")
      }
    }
  }

  test("TextDedup.dedupSubstrings cuts a shifted repeat from the later " +
      "doc only, keeps short docs whole, empties full duplicates") {
    val r = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    val df = Seq(
      (1L, s"fa1 fa2 fa3 fa4 $r fa5 fa6"),   // canonical holder of R
      (2L, s"gb1 $r gb2 gb3 gb4 gb5 gb6"),   // R at a different offset
      (3L, "tiny doc below window width"),    // < 8 tokens: untouched
      (4L, s"fa1 fa2 fa3 fa4 $r fa5 fa6")     // full duplicate of doc 1
    ).toDF("id", "body")
    val out = TextDedup.dedupSubstrings(df, col("id"), col("body"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 is the global first occurrence of every duplicated window:
    // fully kept
    assert(out(1L) == ((16L, 16L,
      s"fa1 fa2 fa3 fa4 $r fa5 fa6")), s"doc1: ${out(1L)}")
    // doc 2 loses exactly R (tokens 2..11), keeps its own fillers
    assert(out(2L) == ((16L, 6L, "gb1 gb2 gb3 gb4 gb5 gb6")),
      s"doc2: ${out(2L)}")
    // short doc: no windows, fully kept
    assert(out(3L) == ((5L, 5L, "tiny doc below window width")),
      s"doc3: ${out(3L)}")
    // doc 4 duplicates doc 1 wholesale: every token covered, emptied
    assert(out(4L) == ((16L, 0L, "")), s"doc4: ${out(4L)}")
  }

  test("Corpus.snapshotDiff classifies added/removed/changed/unchanged " +
      "per group on arbitrary column names") {
    import graft.api.Corpus
    val old = Seq(
      (1L, "alpha text", "web"), (2L, "beta text", "web"),
      (3L, "gamma text", "books")
    ).toDF("k", "body", "src")
    val nw = Seq(
      (1L, "alpha text", "web"),      // unchanged
      (2L, "beta EDITED", "web"),     // changed
      (4L, "delta text", "books")     // added; 3 removed
    ).toDF("k", "body", "src")
    val got = Corpus
      .snapshotDiff(old, nw, col("k"), col("body"), col("src"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got("web") == ((0L, 0L, 1L, 1L)), s"web: ${got("web")}")
    assert(got("books") == ((1L, 1L, 0L, 0L)), s"books: ${got("books")}")
  }

  test("TextDedup.dedupSubstringsAgainstIndex equals the whole-corpus " +
      "apply restricted to the delta when delta ids sort last") {
    val r = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    val corpus = Seq(
      (1L, s"fa1 fa2 fa3 fa4 $r fa5 fa6"),
      (2L, "ca1 ca2 ca3 ca4 ca5 ca6 ca7 ca8 ca9"),
      (3L, "cb1 cb2 cb3 cb4 cb5 cb6 cb7 cb8")
    ).toDF("id", "body")
    val delta = Seq(
      (10L, s"gb1 $r gb2 gb3 gb4 gb5 gb6"),     // R known to the index
      (11L, "da1 da2 da3 da4 da5 da6 da7 da8"), // fresh content
      (12L, "da1 da2 da3 da4 da5 da6 da7 da8")  // intra-shard duplicate
    ).toDF("id", "body")
    val dir = new java.io.File(SparkFixture.tempDir("graft_substr_idx_"),
      "idx").getAbsolutePath
    TextDedup.writeSubstringIndex(corpus, col("id"), col("body"), dir)
    val got = TextDedup
      .dedupSubstringsAgainstIndex(delta, col("id"), col("body"), dir)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val expected = TextDedup
      .dedupSubstrings(corpus.unionByName(delta), col("id"), col("body"))
      .filter(col("doc_id") >= 10L)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(got == expected,
      s"delta screen diverges from whole-corpus apply:\n$got\nvs\n$expected")
    // and the screen did real work: doc 10 lost R, doc 12 emptied by 11
    val byId = TextDedup
      .dedupSubstringsAgainstIndex(delta, col("id"), col("body"), dir)
      .collect().map(r0 => r0.getLong(0) -> r0.getLong(2)).toMap
    assert(byId(10L) == 6L && byId(11L) == 8L && byId(12L) == 0L,
      s"unexpected kept counts: $byId")
    // parameter mismatch fails loudly instead of cutting nothing
    val e = intercept[IllegalArgumentException] {
      TextDedup.dedupSubstringsAgainstIndex(delta, col("id"), col("body"),
        dir, windowTokens = 6)
    }
    assert(e.getMessage.contains("windowTokens"))
  }

  test("dupSubstringStats skewSafe spelling: identical rows to the " +
      "window path, and sourceOverlapMatrix finds the planted cross-" +
      "source boilerplate pair only") {
    val boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    val docs = Seq(
      (1L, s"fa1 fa2 $boiler fa3", "web"),
      (2L, s"ga1 $boiler ga2 ga3", "books"),   // shares boiler with web
      (3L, "ca1 ca2 ca3 ca4 ca5 ca6 ca7 ca8 ca9", "code"), // unique
      (4L, s"da1 da2 $boiler", "web")          // in-source repeat
    ).toDF("id", "body", "src")
    val win = TextDedup.dupSubstringStats(docs, col("id"), col("body"))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val safe = TextDedup.dupSubstringStats(docs, col("id"), col("body"),
        skewSafe = true)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(safe == win,
      s"skewSafe spelling diverges from the window path:\n$safe\nvs\n$win")
    val m = TextDedup.sourceOverlapMatrix(docs, col("id"), col("body"),
        col("src")).collect()
      .map(r0 => (r0.getString(0), r0.getString(1), r0.getLong(4)))
    // only (books, web) share a window text; code shares nothing, and
    // the in-source web repeat must not fabricate a pair
    assert(m.toSeq == Seq(("books", "web", 1L)), s"got ${m.toSeq}")
  }

  test("substring xxhash64 spelling: stats and survivors identical to the " +
      "md5 path (hash choice is plumbing, not semantics)") {
    val r = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    val docs = Seq(
      (1L, s"fa1 fa2 fa3 $r fa4 fa5"),
      (2L, s"ga1 $r ga2 ga3 ga4 ga5"),    // cross-doc repeat of R
      (3L, "ca1 ca2 ca3 ca4 ca5 ca6 ca7 ca8 ca9"),
      (4L, "ca1 ca2 ca3 ca4 ca5 ca6 ca7 ca8 ca9"), // full duplicate
      (5L, "ua1 ua2 ua3 ua4 ua5 ua6 ua7 ua8")      // unique
    ).toDF("id", "body")
    val statsMd5 = TextDedup.dupSubstringStats(docs, col("id"), col("body"))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val statsXx = TextDedup.dupSubstringStats(docs, col("id"), col("body"),
        xxHash = true)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(statsXx == statsMd5,
      s"xx stats diverge from md5:\n$statsXx\nvs\n$statsMd5")
    val applyMd5 = TextDedup.dedupSubstrings(docs, col("id"), col("body"))
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val applyXx = TextDedup.dedupSubstrings(docs, col("id"), col("body"),
        xxHash = true)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    assert(applyXx == applyMd5,
      s"xx survivors diverge from md5:\n$applyXx\nvs\n$applyMd5")
  }

  test("dedupSubstrings enforces the packed-key precondition at runtime: " +
      "a negative doc id fails loudly instead of electing wrong spans") {
    val bad = Seq(
      (-1L, (1 to 12).map(i => s"b$i").mkString(" ")),
      (2L, (1 to 12).map(i => s"c$i").mkString(" "))
    ).toDF("id", "body")
    val e = intercept[Exception] {
      TextDedup.dedupSubstrings(bad, col("id"), col("body")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("packed-key precondition")),
      s"expected the packed-key guard to fire, got: ${messages(e)}")
  }

  test("appendToSubstringIndex: grown-index screen equals rewritten-index " +
      "screen; compaction preserves results and collapses duplicates") {
    val r = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    val day0 = Seq(
      (1L, s"fa1 fa2 fa3 fa4 $r fa5 fa6"),
      (2L, "ca1 ca2 ca3 ca4 ca5 ca6 ca7 ca8 ca9")
    ).toDF("id", "body")
    val day1 = Seq( // accepted shard: overlaps day0's repeat + fresh text
      (5L, s"ba1 $r ba2 ba3 ba4 ba5 ba6"),
      (6L, "na1 na2 na3 na4 na5 na6 na7 na8")
    ).toDF("id", "body")
    val day2 = Seq( // today's probe shard
      (10L, s"gb1 $r gb2 gb3 gb4 gb5 gb6"),       // known since day0
      (11L, "na1 na2 na3 na4 na5 na6 na7 na8 xx"), // prefix known since day1
      (12L, "za1 za2 za3 za4 za5 za6 za7 za8")     // fresh
    ).toDF("id", "body")
    val root = SparkFixture.tempDir("graft_substr_append_")
    val grown = new java.io.File(root, "grown").getAbsolutePath
    val rebuilt = new java.io.File(root, "rebuilt").getAbsolutePath
    TextDedup.writeSubstringIndex(day0, col("id"), col("body"), grown)
    TextDedup.appendToSubstringIndex(day1, col("id"), col("body"), grown)
    TextDedup.writeSubstringIndex(day0.unionByName(day1), col("id"),
      col("body"), rebuilt)
    def screen(idx: String) = TextDedup
      .dedupSubstringsAgainstIndex(day2, col("id"), col("body"), idx)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    val grownRes = screen(grown)
    assert(grownRes == screen(rebuilt),
      "grown-index screen diverges from rewritten-index screen")
    // the append did real work: doc 11's day1-known prefix is cut
    val kept = TextDedup
      .dedupSubstringsAgainstIndex(day2, col("id"), col("body"), grown)
      .collect().map(r0 => r0.getLong(0) -> r0.getLong(2)).toMap
    assert(kept(10L) == 6L && kept(11L) == 1L && kept(12L) == 8L,
      s"unexpected kept counts after append: $kept")
    // append on mismatched params fails loudly
    val e = intercept[IllegalArgumentException] {
      TextDedup.appendToSubstringIndex(day1, col("id"), col("body"),
        grown, windowTokens = 6)
    }
    assert(e.getMessage.contains("windowTokens"))
    // compaction: identical screen, duplicate hash rows collapsed
    val spark0 = day0.sparkSession
    val before = spark0.read.parquet(s"$grown/hashes").count()
    val distinctBefore =
      spark0.read.parquet(s"$grown/hashes").distinct().count()
    // day0 and day1 share R's windows -> the appended table has dups
    assert(before > distinctBefore,
      s"fixture should hold duplicate hashes pre-compaction: $before")
    TextDedup.compactSubstringIndex(spark0, grown)
    assert(spark0.read.parquet(s"$grown/hashes").count() == distinctBefore,
      "compaction must collapse to the distinct hash set")
    assert(screen(grown) == grownRes,
      "screen diverges after compaction")
  }

  test("IVF rewrites read the list key off the lists schema and refuse " +
      "a lists table with neither key or both") {
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 20L)
      .map(i => (i, Array.fill(4)(rnd.nextFloat() - 0.5f))).toDF("vid", "e")
    val root = SparkFixture.tempDir("graft_ivf_cols_").getAbsolutePath
    val idx = s"$root/idx"
    Similarity.writeIvfIndex(vecs, col("vid"), col("e"), idx, bits = 2)
    Similarity.removeFromIvfIndex(spark, idx, Seq(3L).toDF("vec_id"))
    Similarity.compactIvfIndex(spark, idx)
    assert(spark.read.parquet(s"$idx/lists").count() == 19L)
    // a lists table carrying both keys
    val both = s"$root/both"
    vecs.withColumn("bucket", lit(0)).withColumn("cluster_id", lit(0))
      .write.parquet(s"$both/lists")
    val mixed = intercept[IllegalStateException](
      Similarity.compactIvfIndex(spark, both))
    assert(mixed.getMessage.contains("bucket") &&
      mixed.getMessage.contains("cluster_id"), mixed.getMessage)
    // a lists table carrying neither
    val flat = s"$root/flat"
    vecs.write.parquet(s"$flat/lists")
    val none = intercept[IllegalStateException](
      Similarity.compactIvfIndex(spark, flat))
    assert(none.getMessage.contains("found none"), none.getMessage)
  }

  /** Rows of the lists table read by `df`'s scans, from the scans'
    * output-row metrics after one collect (the final adaptive plan). */
  private def listsRowsRead(df: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    df.collect()
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case s: FileSourceScanExec => Seq(s)
      case o => o.children.flatMap(scans)
    }
    val lists = scans(df.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.getName == "lists"))
    assert(lists.nonEmpty, "no lists scan in the probe plan")
    lists.map(_.metrics("numOutputRows").value).sum
  }

  /** Distinct files holding each list key's rows. */
  private def filesPerList(listsDir: String, key: String): Map[Any, Long] =
    spark.read.parquet(listsDir)
      .select(col(key), input_file_name().as("file")).distinct()
      .groupBy(key).count()
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap

  test("IVF lists are key-clustered: a probe's pushed IN filter skips " +
      "unprobed row groups and answers like brute force over the codes") {
    val rnd = new scala.util.Random(41)
    val dims = 8
    val corpus = (0L until 8000L)
      .map(i => (i, Array.fill(dims)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "emb")
    val root = SparkFixture.tempDir("graft_ivf_prune_").getAbsolutePath
    val idx = s"$root/idx"
    // small row groups, so the 64 lists span many of them
    val hconf = spark.sparkContext.hadoopConfiguration
    val small = Seq("parquet.block.size" -> "4096",
      "parquet.page.size.row.check.min" -> "10",
      "parquet.page.size.row.check.max" -> "50")
    val saved = small.map { case (k, _) => k -> Option(hconf.get(k)) }
    small.foreach { case (k, v) => hconf.set(k, v) }
    try Similarity.writeIvfIndex(corpus, col("id"), col("emb"), idx, bits = 6)
    finally saved.foreach {
      case (k, Some(v)) => hconf.set(k, v)
      case (k, None) => hconf.unset(k)
    }
    val queries = corpus.filter(col("id") < 3)
      .select(col("id").as("qid"), col("emb").as("qe"))
    val probe = Similarity.topKAgainstIvfIndex(spark, idx, queries, k = 5)
    val read = listsRowsRead(probe)
    assert(read > 0 && read < 8000L / 4,
      s"probe read $read of 8000 list rows; the IN filter must skip most")
    // brute force over each query's own (nprobe = 1) bucket's codes
    val bucketed = corpus.withColumn("__b", Similarity.signBucket(col("emb"), 6))
    val brute = queries.collect().map { q =>
      val b = bucketed.filter(col("id") === q.getLong(0)).head()
        .getAs[Int]("__b")
      Similarity.topKQuantized(bucketed.filter(col("__b") === b), col("id"),
        col("emb"), Seq((q.getLong(0), q.getSeq[Float](1).toArray))
          .toDF("qid", "qe"), k = 5)
    }.reduce(_.unionByName(_))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "vec_id", "sim_r", "rk").orderBy("qid", "rk")
        .collect().map(_.toString).toSeq
    assert(rows(probe).nonEmpty && rows(probe) == rows(brute),
      "pruned probe diverges from brute force over the probed codes")
  }

  test("IVF writes land each list in exactly one file, in both the " +
      "sign-bucket and trained layouts") {
    val rnd = new scala.util.Random(43)
    val corpus = (0L until 400L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "emb")
    val cents = corpus.filter(col("id") < 6)
      .select(col("id").cast("int").as("cid"), col("emb").as("ce"))
    val root = SparkFixture.tempDir("graft_ivf_files_").getAbsolutePath
    // without AQE's coalescing the writes span all shuffle partitions,
    // so the lists spread over several files
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.getOption(coalesce)
    spark.conf.set(coalesce, "false")
    try {
      Similarity.writeIvfIndex(corpus, col("id"), col("emb"),
        s"$root/ivf", bits = 4)
      Similarity.writeIvfIndexTrained(corpus, col("id"), col("emb"), cents,
        s"$root/trained")
    } finally saved.fold(spark.conf.unset(coalesce))(
      spark.conf.set(coalesce, _))
    Seq(s"$root/ivf/lists" -> "bucket",
        s"$root/trained/lists" -> "cluster_id").foreach { case (dir, key) =>
      val per = filesPerList(dir, key)
      val files = spark.read.parquet(dir).inputFiles.length
      assert(files > 1, s"$dir: expected a multi-file write, got $files")
      assert(per.size > 1 && per.values.forall(_ == 1L),
        s"$dir: every list must sit in exactly one file: $per")
    }
  }

  test("IVF probes of a 0-row query frame return an empty result in all " +
      "three families") {
    val rnd = new scala.util.Random(47)
    val corpus = (0L until 40L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "emb")
    val root = SparkFixture.tempDir("graft_ivf_emptyq_").getAbsolutePath
    Similarity.writeIvfIndex(corpus, col("id"), col("emb"), s"$root/ivf",
      bits = 4)
    Similarity.writeIvfIndexTrained(corpus, col("id"), col("emb"),
      corpus.filter(col("id") < 4)
        .select(col("id").cast("int").as("cid"), col("emb").as("ce")),
      s"$root/trained")
    Similarity.writeIvfPqIndex(corpus, col("id"), col("emb"),
      Similarity.pqSeedCodebook(corpus, col("id"), col("emb"), m = 2,
        subDim = 4, k = 4),
      s"$root/pq", bits = 4, m = 2, subDim = 4)
    val none = corpus.filter(col("id") < 0)
      .select(col("id").as("qid"), col("emb").as("qe"))
    Seq(Similarity.topKAgainstIvfIndex(spark, s"$root/ivf", none, k = 3,
        nprobe = 2),
      Similarity.topKAgainstIvfIndexTrained(spark, s"$root/trained", none,
        k = 3),
      Similarity.topKAgainstIvfPqIndex(spark, s"$root/pq", none, k = 3))
      .foreach(r => assert(r.collect().isEmpty, "empty queries probed rows"))
  }

  test("every Similarity top-k entry point refuses k = 0 with one message") {
    val rnd = new scala.util.Random(59)
    val corpus = (0L until 40L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "emb")
    val (id, v) = (col("id"), col("emb"))
    val q = corpus.filter(col("id") < 3)
      .select(col("id").as("qid"), col("emb").as("qe"))
    val cents = corpus.filter(col("id") < 4)
      .select(col("id").cast("int").as("cid"), col("emb").as("ce"))
    val cb = Similarity.pqSeedCodebook(corpus, id, v, m = 2, subDim = 4,
      k = 4)
    val pca = Similarity.pcaFit(corpus, v, inDim = 8, k = 2)
    val root = SparkFixture.tempDir("graft_topk_k0_").getAbsolutePath
    Similarity.writeIvfIndex(corpus, id, v, s"$root/ivf", bits = 4)
    Similarity.writeIvfIndexTrained(corpus, id, v, cents, s"$root/trained")
    Similarity.writeIvfPqIndex(corpus, id, v, cb, s"$root/pq", bits = 4,
      m = 2, subDim = 4)
    val calls: Seq[(String, () => Any)] = Seq(
      "topK" -> (() => Similarity.topK(corpus, id, v, q, k = 0)),
      "topKIvf" -> (() => Similarity.topKIvf(corpus, id, v, q, k = 0,
        bits = 4)),
      "topKPq" -> (() => Similarity.topKPq(corpus, id, v, cb, q, k = 0,
        m = 2, subDim = 4)),
      "topKIvfTrained" -> (() => Similarity.topKIvfTrained(corpus, id, v,
        cents, q, k = 0)),
      "topKIvfPq" -> (() => Similarity.topKIvfPq(corpus, id, v, cb, q,
        k = 0, m = 2, subDim = 4, bits = 4)),
      "topKQuantized" -> (() => Similarity.topKQuantized(corpus, id, v, q,
        k = 0)),
      "topKRandomProjection" -> (() => Similarity.topKRandomProjection(
        corpus, id, v, q, k = 0, inDim = 8, outDim = 4)),
      "topKRerank" -> (() => Similarity.topKRerank(corpus, id, v, q, k = 0,
        coarseK = 4, inDim = 8, outDim = 4)),
      "topKPca" -> (() => Similarity.topKPca(corpus, id, v, q, k = 0, pca)),
      "topKAgainstIvfIndex" -> (() => Similarity.topKAgainstIvfIndex(spark,
        s"$root/ivf", q, k = 0)),
      "topKAgainstIvfIndexTrained" -> (() =>
        Similarity.topKAgainstIvfIndexTrained(spark, s"$root/trained", q,
          k = 0)),
      "topKAgainstIvfPqIndex" -> (() => Similarity.topKAgainstIvfPqIndex(
        spark, s"$root/pq", q, k = 0)),
      "knnGraph" -> (() => Similarity.knnGraph(corpus, id, v, k = 0,
        bits = 4)))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage == "requirement failed: k=0 must be positive",
        s"$name: ${e.getMessage}")
    }
  }

  test("the token-array kernels refuse a non-string array at analysis") {
    import graft.functions.VectorExprs
    val ints = Seq(Seq(1, 2, 3)).toDF("a")
    val a = col("a")
    Seq("word_shingles" -> VectorExprs.wordShingles(a, 2),
      "word_shingle_hashes" -> VectorExprs.shingleHashes(a, 2),
      "simhash64" -> VectorExprs.simhash64(a),
      "minhash_md5_sigs" -> VectorExprs.minhashMd5(a, 4),
      "md5_simhash_bands" -> VectorExprs.md5SimhashBands(a),
      "minhash_km_sigs" -> VectorExprs.minhashKM(a, 4)).foreach {
      case (name, c) =>
        val e = intercept[org.apache.spark.sql.AnalysisException](
          ints.select(c))
        assert(e.getMessage.contains(name) &&
          e.getMessage.contains("requires an array<string> input"),
          s"$name: ${e.getMessage}")
    }
  }

  test("legacy one-directory-per-list IVF indexes: probes read them, " +
      "appends are refused naming compactIvfIndex, compaction migrates " +
      "them to the flat layout with unchanged probes") {
    val rnd = new scala.util.Random(53)
    val corpus = (0L until 60L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "emb")
    val cents = corpus.filter(col("id") < 4)
      .select(col("id").cast("int").as("cid"), col("emb").as("ce"))
    val queries = corpus.filter(col("id") % 9 === 0)
      .select(col("id").as("qid"), col("emb").as("qe"))
    val delta = Seq((100L, Array.fill(8)(0.1f))).toDF("id", "emb")
    val root = SparkFixture.tempDir("graft_ivf_legacy_").getAbsolutePath
    case class Family(name: String, key: String,
        write: String => Unit, append: String => Unit,
        probe: String => Seq[String])
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("qid", "rk").collect().map(_.toString).toSeq
    val families = Seq(
      Family("sign-bucket", "bucket",
        Similarity.writeIvfIndex(corpus, col("id"), col("emb"), _, bits = 3),
        Similarity.appendToIvfIndex(delta, col("id"), col("emb"), _),
        p => rows(Similarity.topKAgainstIvfIndex(spark, p, queries, k = 3,
          nprobe = 2))),
      Family("trained", "cluster_id",
        Similarity.writeIvfIndexTrained(corpus, col("id"), col("emb"),
          cents, _),
        Similarity.appendToIvfIndexTrained(delta, col("id"), col("emb"), _),
        p => rows(Similarity.topKAgainstIvfIndexTrained(spark, p, queries,
          k = 3))))
    families.foreach { f =>
      val flat = s"$root/${f.name}-flat"
      val legacy = s"$root/${f.name}-legacy"
      f.write(flat)
      f.write(legacy)
      // the pre-flat layout: one `<key>=<value>` directory per list
      spark.read.parquet(s"$flat/lists").repartition(col(f.key))
        .write.mode("overwrite").partitionBy(f.key)
        .parquet(s"$legacy/lists")
      def keyDirs = new java.io.File(s"$legacy/lists").listFiles()
        .count(d => d.isDirectory && d.getName.contains('='))
      assert(keyDirs > 1, s"${f.name}: legacy fixture has no key dirs")
      val expected = f.probe(flat)
      assert(expected.nonEmpty)
      assert(f.probe(legacy) == expected,
        s"${f.name}: legacy-layout probe diverges from the flat probe")
      val e = intercept[IllegalStateException](f.append(legacy))
      assert(e.getMessage.contains("compactIvfIndex"), e.getMessage)
      Similarity.compactIvfIndex(spark, legacy)
      assert(keyDirs == 0, s"${f.name}: compaction left key directories")
      assert(f.probe(legacy) == expected,
        s"${f.name}: probe changed after migrating compaction")
      assert(filesPerList(s"$legacy/lists", f.key).values.forall(_ == 1L))
      f.append(legacy) // the migrated index accepts appends again
    }
  }

  test("Similarity IVF index lifecycle: grown-index probe equals " +
      "rebuilt-index probe, self-probe ranks first, dim/nprobe " +
      "mismatches fail loudly") {
    val rnd = new scala.util.Random(21)
    val dims = 12
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Array.fill(dims)(rnd.nextFloat() * 2 - 1)))
    val day0 = vecs(0 until 30).toDF("id", "emb")
    val day1 = vecs(30 until 45).toDF("id", "emb")
    val queries = day0.unionByName(day1).filter(col("id") % 7 === 0)
      .select(col("id").as("qid"), col("emb").as("qe"))
    val root = SparkFixture.tempDir("graft_ivf_idx_")
    val grown = new java.io.File(root, "grown").getAbsolutePath
    val rebuilt = new java.io.File(root, "rebuilt").getAbsolutePath
    Similarity.writeIvfIndex(day0, col("id"), col("emb"), grown)
    Similarity.appendToIvfIndex(day1, col("id"), col("emb"), grown)
    Similarity.writeIvfIndex(day0.unionByName(day1), col("id"),
      col("emb"), rebuilt)
    def probe(idx: String, excludeSelf: Boolean) = Similarity
      .topKAgainstIvfIndex(spark, idx, queries, k = 3, nprobe = 2,
        excludeSelf = excludeSelf)
      .orderBy("qid", "rk").collect().map(_.toString).toSeq
    val grownRes = probe(grown, excludeSelf = true)
    assert(grownRes == probe(rebuilt, excludeSelf = true),
      "grown-index probe diverges from rebuilt-index probe")
    // queries are drawn FROM the indexed set: with excludeSelf=false
    // every query's own vector tops its ranking (quantized self-dot > 0)
    val selfHits = Similarity
      .topKAgainstIvfIndex(spark, grown, queries, k = 3, nprobe = 2,
        excludeSelf = false)
      .filter(col("rk") === 1).collect()
    assert(selfHits.nonEmpty && selfHits.forall(r =>
        r.getAs[Long]("qid") == r.getAs[Long]("vec_id")),
      "with excludeSelf=false each query must rank its own vector first")
    assert(Similarity.topKAgainstIvfIndex(spark, grown, queries, k = 3,
        nprobe = 2).filter(col("qid") === col("vec_id")).count() == 0,
      "excludeSelf=true must drop the query's own vector")
    // appending a shard of the wrong width fails loudly (a silent
    // zip-truncated dot is the hazard the recorded dim exists for)
    val narrow = Seq((99L, Array.fill(6)(0.5f))).toDF("id", "emb")
    val eAppend = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndex(narrow, col("id"), col("emb"), grown)
    }
    assert(eAppend.getMessage.contains("12-dim") &&
      eAppend.getMessage.contains("6-dim"), eAppend.getMessage)
    // querying with the wrong width fails loudly too
    val eQuery = intercept[IllegalArgumentException] {
      Similarity.topKAgainstIvfIndex(spark, grown,
        narrow.select(col("id").as("qid"), col("emb").as("qe")), k = 3)
    }
    assert(eQuery.getMessage.contains("12-dim"), eQuery.getMessage)
    // nprobe beyond bits + 1 fails loudly
    val eProbe = intercept[IllegalArgumentException] {
      Similarity.topKAgainstIvfIndex(spark, grown, queries, k = 3,
        nprobe = 10)
    }
    assert(eProbe.getMessage.contains("nprobe"), eProbe.getMessage)
    // FORGET: purging a set of ids from the grown index answers every
    // probe exactly as an index rebuilt without them (rename-swap
    // rewrite certified against a fresh build)
    val purge = (5L to 25L by 5L)
    Similarity.removeFromIvfIndex(spark,
      grown, purge.toDF("vec_id"))
    val rebuiltWithout = new java.io.File(root, "rw").getAbsolutePath
    Similarity.writeIvfIndex(
      day0.unionByName(day1).filter(!col("id").isin(purge: _*)),
      col("id"), col("emb"), rebuiltWithout)
    assert(probe(grown, excludeSelf = true) ==
        probe(rebuiltWithout, excludeSelf = true),
      "purged-index probe diverges from rebuilt-without-index probe")
    // and the purged ids are really gone from the stored lists
    assert(spark.read.parquet(s"$grown/lists")
        .filter(col("vec_id").isin(purge: _*)).count() == 0,
      "purged ids still present in the lists table")
    // COMPACTION is pure file consolidation: identical probe results,
    // identical row count (rows are per-vector and unique)
    val preCompact = probe(grown, excludeSelf = true)
    val preRows = spark.read.parquet(s"$grown/lists").count()
    Similarity.compactIvfIndex(spark, grown)
    assert(spark.read.parquet(s"$grown/lists").count() == preRows,
      "compaction changed the row count")
    assert(probe(grown, excludeSelf = true) == preCompact,
      "probe diverges after compaction")
    // EMPTY frames are tolerated, not fatal: an empty query batch (a
    // 0-row streaming micro-batch) probes nothing, an empty delta
    // append is a no-op — neither may throw or change the index
    val emptyQ = queries.filter(col("qid") < -1L)
    assert(Similarity.topKAgainstIvfIndex(spark, grown, emptyQ, k = 3,
        nprobe = 2).count() == 0,
      "empty query frame must probe nothing")
    Similarity.appendToIvfIndex(day0.filter(col("id") < -1L), col("id"),
      col("emb"), grown)
    assert(spark.read.parquet(s"$grown/lists").count() == preRows,
      "empty-shard append must be a no-op")
  }

  test("Similarity TRAINED IVF index lifecycle: stored-centroid append " +
      "equals rebuilt, dim mismatch fails loudly") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(33)
    val dims = 12
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Array.fill(dims)(rnd.nextFloat() * 2 - 1)))
    val day0 = vecs(0 until 30).toDF("id", "emb")
    val day1 = vecs(30 until 45).toDF("id", "emb")
    val cents = day0.orderBy("id").limit(4)
      .withColumn("cid",
        (row_number().over(Window.orderBy("id")) - 1).cast("int"))
      .select(col("cid"), col("emb").as("ce"))
    val queries = day0.unionByName(day1).filter(col("id") % 6 === 0)
      .select(col("id").as("qid"), col("emb").as("qe"))
    val root = SparkFixture.tempDir("graft_ivf_trained_")
    val grown = new java.io.File(root, "grown").getAbsolutePath
    val rebuilt = new java.io.File(root, "rebuilt").getAbsolutePath
    Similarity.writeIvfIndexTrained(day0, col("id"), col("emb"), cents,
      grown)
    Similarity.appendToIvfIndexTrained(day1, col("id"), col("emb"), grown)
    Similarity.writeIvfIndexTrained(day0.unionByName(day1), col("id"),
      col("emb"), cents, rebuilt)
    def probe(idx: String) = Similarity
      .topKAgainstIvfIndexTrained(spark, idx, queries, k = 3, nprobe = 2)
      .orderBy("qid", "rk").collect().map(_.toString).toSeq
    val grownRes = probe(grown)
    assert(grownRes.nonEmpty && grownRes == probe(rebuilt),
      "trained grown-index probe diverges from rebuilt-index probe")
    // the appended shard is really probed: day1 ids appear as neighbors
    assert(Similarity
        .topKAgainstIvfIndexTrained(spark, grown, queries, k = 3,
          nprobe = 4)
        .filter(col("vec_id") >= 30L).count() > 0,
      "appended day1 vectors never surface in any probe")
    val narrow = Seq((99L, Array.fill(6)(0.5f))).toDF("id", "emb")
    val eAppend = intercept[IllegalArgumentException] {
      Similarity.appendToIvfIndexTrained(narrow, col("id"), col("emb"),
        grown)
    }
    assert(eAppend.getMessage.contains("12-dim") &&
      eAppend.getMessage.contains("6-dim"), eAppend.getMessage)
    // FORGET + COMPACT on the TRAINED layout (r15): the staged
    // rewriteLists swap is shared with the sign-bucket family but the
    // partition column differs (read off the lists dirs) — purge against
    // a rebuilt-without build, then compact must be probe-invariant
    val purge = Seq(6L, 12L, 36L)
    Similarity.removeFromIvfIndex(spark, grown, purge.toDF("vec_id"))
    val rebuiltWithout = new java.io.File(root, "rw").getAbsolutePath
    Similarity.writeIvfIndexTrained(
      day0.unionByName(day1).filter(!col("id").isin(purge: _*)),
      col("id"), col("emb"), cents, rebuiltWithout)
    assert(probe(grown) == probe(rebuiltWithout),
      "trained purged-index probe diverges from rebuilt-without probe")
    val preCompact = probe(grown)
    val preRows = spark.read.parquet(s"$grown/lists").count()
    Similarity.compactIvfIndex(spark, grown)
    assert(spark.read.parquet(s"$grown/lists").count() == preRows,
      "trained compaction changed the row count")
    assert(probe(grown) == preCompact,
      "trained probe diverges after compaction")
  }

  test("Similarity IVF-PQ index lifecycle (r15): ADC probe equals " +
      "reconstruct-dot within FP reorder tolerance, grown ≡ rebuilt, " +
      "loud geometry/dim mismatches, codes are 1 byte per subspace") {
    import org.apache.spark.sql.Row
    val rnd = new scala.util.Random(37)
    val dims = 16 // m=4 × subDim=4
    def vecs(ids: Range) =
      ids.map(i => (i.toLong, Array.fill(dims)(rnd.nextFloat() * 2 - 1)))
    val day0 = vecs(0 until 40).toDF("id", "emb")
    val day1 = vecs(40 until 60).toDF("id", "emb")
    val all = day0.unionByName(day1)
    val queries = all.filter(col("id") % 7 === 0)
      .select(col("id").as("qid"), col("emb").as("qe"))
    val cbAll = Similarity.pqSeedCodebook(all, col("id"), col("emb"),
      m = 4, subDim = 4, k = 8)
    val root = SparkFixture.tempDir("graft_ivfpq_")
    val grown = new java.io.File(root, "grown").getAbsolutePath
    val rebuilt = new java.io.File(root, "rebuilt").getAbsolutePath
    Similarity.writeIvfPqIndex(day0, col("id"), col("emb"), cbAll,
      grown, bits = 4, m = 4, subDim = 4)
    Similarity.appendToIvfPqIndex(day1, col("id"), col("emb"), grown)
    Similarity.writeIvfPqIndex(all, col("id"), col("emb"), cbAll,
      rebuilt, bits = 4, m = 4, subDim = 4)
    def probe(idx: String) = Similarity
      .topKAgainstIvfPqIndex(spark, idx, queries, k = 3, nprobe = 2)
      .orderBy("qid", "rk").collect().map(_.toString).toSeq
    val grownRes = probe(grown)
    assert(grownRes.nonEmpty && grownRes == probe(rebuilt),
      "IVF-PQ grown-index probe diverges from rebuilt-index probe")
    // stored rows carry exactly m one-byte codes
    val row0 = spark.read.parquet(s"$grown/lists").head()
    assert(row0.getSeq[Byte](row0.fieldIndex("codes")).length == 4,
      "stored code array must have m entries")
    // ADC ≡ dot(query, pqReconstruct(row)) up to FP addition order:
    // same 16 products, different fold nesting — must agree to 1e-6
    val recon = Similarity.pqReconstruct(
        spark.read.parquet(s"$grown/lists").select("vec_id", "codes"),
        cbAll)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Float](1).toArray).toMap
    val qvecs = queries.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val adcRows = Similarity
      .topKAgainstIvfPqIndex(spark, grown, queries, k = 3, nprobe = 2)
      .collect()
    assert(adcRows.nonEmpty)
    adcRows.foreach { case Row(qid: Long, vid: Long, sim: Double, _) =>
      val exact = qvecs(qid).zip(recon(vid))
        .map { case (a, b) => a.toDouble * b.toDouble }.sum
      assert(math.abs(sim - exact) < 1e-6,
        s"ADC($qid,$vid)=$sim vs reconstruct-dot=$exact")
    }
    // geometry that does not tile the width fails loudly at write
    val eGeo = intercept[IllegalArgumentException] {
      Similarity.writeIvfPqIndex(day0, col("id"), col("emb"), cbAll,
        new java.io.File(root, "bad").getAbsolutePath,
        bits = 4, m = 3, subDim = 4)
    }
    assert(eGeo.getMessage.contains("tile"), eGeo.getMessage)
    // wrong-width delta and query fail loudly
    val narrow = Seq((99L, Array.fill(8)(0.5f))).toDF("id", "emb")
    val eAppend = intercept[IllegalArgumentException] {
      Similarity.appendToIvfPqIndex(narrow, col("id"), col("emb"), grown)
    }
    assert(eAppend.getMessage.contains("16-dim") &&
      eAppend.getMessage.contains("8-dim"), eAppend.getMessage)
    val eQuery = intercept[IllegalArgumentException] {
      Similarity.topKAgainstIvfPqIndex(spark, grown,
        narrow.select(col("id").as("qid"), col("emb").as("qe")), k = 3)
    }
    assert(eQuery.getMessage.contains("16-dim"), eQuery.getMessage)
    // empty query batch probes nothing; empty append is a no-op
    val preRows = spark.read.parquet(s"$grown/lists").count()
    assert(Similarity.topKAgainstIvfPqIndex(spark, grown,
        queries.filter(col("qid") < -1L), k = 3).count() == 0)
    Similarity.appendToIvfPqIndex(day0.filter(col("id") < -1L),
      col("id"), col("emb"), grown)
    assert(spark.read.parquet(s"$grown/lists").count() == preRows)
    // the shared maintenance steps work on the PQ layout unchanged:
    // forget ≡ rebuilt-without, compact is probe-invariant
    Similarity.removeFromIvfIndex(spark, grown, Seq(7L, 14L)
      .toDF("vec_id"))
    val rw = new java.io.File(root, "rw").getAbsolutePath
    Similarity.writeIvfPqIndex(all.filter(!col("id").isin(7L, 14L)),
      col("id"), col("emb"), cbAll, rw, bits = 4, m = 4, subDim = 4)
    assert(probe(grown) == probe(rw),
      "IVF-PQ purged-index probe diverges from rebuilt-without probe")
    val preCompact = probe(grown)
    Similarity.compactIvfIndex(spark, grown)
    assert(probe(grown) == preCompact,
      "IVF-PQ probe diverges after compaction")
  }

  test("Similarity IVF width guard is PER-ROW (r15): a RAGGED corpus — " +
      "row 0 at the recorded width, a later row not — fails the write " +
      "loudly naming the offending id, instead of persisting codes " +
      "whose dots zip-truncate at probe time; same for a ragged " +
      "trained-index delta") {
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    val rnd = new scala.util.Random(71)
    val ok = (0L until 6L).map(i =>
      (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    // row 6 is 5-dim: the FRAME-level first-row check passes, only the
    // in-plan per-row guard can catch it
    val ragged = (ok ++ Seq((6L, Array.fill(5)(0.1f)))).toDF("id", "emb")
    val root = SparkFixture.tempDir("graft_ivf_ragged_")
    val e1 = intercept[Exception] {
      Similarity.writeIvfIndex(ragged, col("id"), col("emb"),
        new java.io.File(root, "sign").getAbsolutePath, bits = 4)
    }
    assert(messages(e1).exists(m =>
        m.contains("ragged") && m.contains("id 6")),
      s"expected the per-row width guard, got: ${messages(e1)}")
    // trained path: good write, ragged DELTA (first delta row at the
    // right width) must fail the append in-plan too
    import org.apache.spark.sql.expressions.Window
    val good = ok.toDF("id", "emb")
    val cents = good.orderBy("id").limit(2)
      .withColumn("cid",
        (row_number().over(Window.orderBy("id")) - 1).cast("int"))
      .select(col("cid"), col("emb").as("ce"))
    val tIdx = new java.io.File(root, "trained").getAbsolutePath
    Similarity.writeIvfIndexTrained(good, col("id"), col("emb"), cents,
      tIdx)
    val raggedDelta = Seq((10L, Array.fill(8)(0.2f)),
      (11L, Array.fill(3)(0.2f))).toDF("id", "emb")
    val e2 = intercept[Exception] {
      Similarity.appendToIvfIndexTrained(raggedDelta, col("id"),
        col("emb"), tIdx)
    }
    assert(messages(e2).exists(m =>
        m.contains("ragged") && m.contains("id 11")),
      s"expected the per-row width guard, got: ${messages(e2)}")
  }

  test("Similarity.removeFromIvfIndex refuses a purge-EVERYTHING (r15): " +
      "an empty partitioned table is unreadable parquet — the rewrite " +
      "fails loudly, the live lists stay intact and probeable, no temp " +
      "dir is left behind") {
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    val rnd = new scala.util.Random(73)
    val corpus = (0L until 6L)
      .map(i => (i, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "emb")
    val root = SparkFixture.tempDir("graft_ivf_purgeall_")
    val idx = new java.io.File(root, "idx").getAbsolutePath
    Similarity.writeIvfIndex(corpus, col("id"), col("emb"), idx, bits = 4)
    val queries = corpus.filter(col("id") < 2)
      .select(col("id").as("qid"), col("emb").as("qe"))
    def probe() = Similarity
      .topKAgainstIvfIndex(spark, idx, queries, k = 3, nprobe = 2)
      .orderBy("qid", "rk").collect().map(_.toString).toSeq
    val before = probe()
    val e = intercept[Exception] {
      Similarity.removeFromIvfIndex(spark, idx,
        (0L until 6L).toDF("vec_id"))
    }
    assert(messages(e).exists(_.contains("ZERO rows")),
      s"expected the empty-rewrite refusal, got: ${messages(e)}")
    // live table untouched, still probeable; temp dir cleaned up
    assert(probe() == before, "live lists changed after a refused purge")
    assert(!new java.io.File(s"$idx/lists__next").exists(),
      "refused rewrite left lists__next behind")
    // a PARTIAL purge of the same index still works afterwards
    Similarity.removeFromIvfIndex(spark, idx, Seq(5L).toDF("vec_id"))
    assert(spark.read.parquet(s"$idx/lists")
        .filter(col("vec_id") === 5L).count() == 0,
      "partial purge after a refused purge-everything did not apply")
  }

  test("persisted trained IVF over MEASURED kMeansFit centroids (r15): " +
      "kMeansFit → writeIvfIndexTrained → topKAgainstIvfIndexTrained " +
      "is a zero-plan-change drop-in — partial-probe recall@5 vs exact " +
      "brute force holds the topKIvfTrained bar, full probe holds more") {
    val e = spark.read.parquet(s"${SparkFixture.sf0001}/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cents = Similarity.kMeansFit(e, col("vec_id"), col("embedding"),
      k = 16, iters = 3)
    val root = SparkFixture.tempDir("graft_ivf_kmeans_")
    val idx = new java.io.File(root, "idx").getAbsolutePath
    Similarity.writeIvfIndexTrained(e, col("vec_id"), col("embedding"),
      cents, idx)
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("vec_id")))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact = sets(Similarity.topK(e, col("vec_id"), col("embedding"),
      q, k = 5))
    def recallAt(nprobe: Int): Double = {
      val got = sets(Similarity.topKAgainstIvfIndexTrained(spark, idx, q,
        k = 5, nprobe = nprobe))
      exact.keys.toSeq.map(kq =>
        (exact(kq) intersect got.getOrElse(kq, Set.empty)).size).sum
        .toDouble / exact.values.map(_.size).sum
    }
    // nprobe=4 of 16 trained cells: the same ≥0.3 bar the in-plan
    // topKIvfTrained pin holds (scoring here is over the stored int8
    // codes — the quantization the persisted index actually serves)
    val partial = recallAt(4)
    assert(partial >= 0.3,
      f"measured-centroid persisted recall@5 = $partial%.2f < 0.3")
    // probing every cell is quantized brute force — near-exact
    val full = recallAt(16)
    assert(full >= 0.6,
      f"full-probe (quantized brute force) recall@5 = $full%.2f < 0.6")
  }

  test("TextDedup.containmentWithinBucket finds a short doc embedded in " +
      "a long one — the asymmetric case jaccard misses") {
    val big = (1 to 60).map(i => s"w$i").mkString(" ")
    val small = (21 to 35).map(i => s"w$i").mkString(" ") // embedded slice
    val df = Seq(
      (1L, "web", big),
      (2L, "web", small),
      (3L, "web", (100 to 130).map(i => s"u$i").mkString(" ")) // unrelated
    ).toDF("id", "grp", "body")
    val got = TextDedup
      .containmentWithinBucket(df, col("id"), col("grp"), col("body"),
        minContainment = 0.9)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((2L, 1L, 1.0)),
      s"expected exactly the embedded pair at containment 1.0: ${got.toSeq}")
    // the same pair is invisible to jaccard dedup: |A∩B|/|A∪B| ≈ 0.22
    val jac = TextDedup
      .jaccardWithinBucket(df, col("id"), col("grp"), col("body"),
        minJaccard = 0.9)
      .collect()
    assert(jac.isEmpty, s"jaccard should miss the embedded pair: " +
      s"${jac.mkString(",")}")
  }

  test("containmentWithinBucket / kMeansFit / pqTrainCodebook with a " +
      "reliable checkpointDir match the localCheckpoint default") {
    val ckFile = SparkFixture.tempDir("graft_ck3_")
    def reliable[A](run: => A): A = {
      val before = SparkFixture.checkpointFiles(ckFile)
      val out = SparkFixture.withCheckpointDir(ckFile.getAbsolutePath)(run)
      assert(SparkFixture.checkpointFiles(ckFile) > before,
        "no checkpoint part-files written — pins still executor-local")
      out
    }
    // containment: the embedded-pair fixture from the recall test
    val big = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, "web", big),
      (2L, "web", (21 to 35).map(i => s"w$i").mkString(" ")),
      (3L, "web", (100 to 130).map(i => s"u$i").mkString(" "))
    ).toDF("id", "grp", "body")
    def contain() = TextDedup
      .containmentWithinBucket(docs, col("id"), col("grp"), col("body"),
        minContainment = 0.9)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(reliable(contain()) == contain(),
      "containment reliable-checkpoint result diverges from default")
    // k-means + PQ: a small deterministic vector cloud
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L)
      .map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("id", "v")
    def kmeans() = Similarity
      .kMeansFit(vecs, col("id"), col("v"), k = 3, iters = 2)
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1)).toMap
    assert(reliable(kmeans()) == kmeans(),
      "kMeansFit reliable-checkpoint centroids diverge from default")
    def pq() = Similarity
      .pqTrainCodebook(vecs, col("id"), col("v"), m = 2, subDim = 4,
        k = 4, iters = 2)
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Float](2)).toMap
    assert(reliable(pq()) == pq(),
      "pqTrainCodebook reliable-checkpoint codebook diverges from default")
  }

  test("dupSubstringStats boundary properties: all-unique corpus has " +
      "zero dup windows; a verbatim repeat is fully spanned") {
    val unique = (1 to 3).map(i => (i.toLong,
      (1 to 20).map(j => s"t${i}_$j").mkString(" "))).toDF("id", "body")
    val zero = TextDedup.dupSubstringStats(unique, col("id"), col("body"))
      .agg(sum(col("n_dup_windows"))).collect()(0).getLong(0)
    assert(zero == 0L, s"unique corpus flagged $zero dup windows")
    val text = (1 to 20).map(j => s"x$j").mkString(" ")
    val rep = Seq((1L, text), (2L, text)).toDF("id", "body")
    val spans = TextDedup.dupSubstringStats(rep, col("id"), col("body"))
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(spans(1L) == 20L && spans(2L) == 20L,
      s"verbatim repeat must certify the full 20-token span: $spans")
  }

  test("Corpus.temperatureSample: deterministic, per-group quota honored, " +
      "whole corpus when the budget covers it") {
    import graft.api.Corpus
    val df = ((1 to 90).map(i => (i.toLong, "big")) ++
      (91 to 100).map(i => (i.toLong, "small"))).toDF("k", "g")
    val s1 = Corpus.temperatureSample(df, col("k"), col("g"), budget = 40)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val s2 = Corpus.temperatureSample(df, col("k"), col("g"), budget = 40)
      .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(s1 == s2, "sample not deterministic across calls")
    val byG = s1.groupBy(_._2).map { case (g, xs) => g -> xs.size }
    // sqrt weights: sq(big)=9.486833, sq(small)=3.162278; shares of 40
    // round to 30 and 10
    assert(byG == Map("big" -> 30, "small" -> 10),
      s"quota mismatch: $byG")
    val all = Corpus.temperatureSample(df, col("k"), col("g"), budget = 1000)
      .count()
    assert(all == 100L, s"over-budget sample must return the corpus: $all")
    // largest-remainder exactness: three equal groups at share 7/3 ≈
    // 2.33 — per-group HALF_UP would deliver 6 of the 7 budgeted seats;
    // Hamilton fills the budget exactly, leftover seat to the
    // alphabetically-first of the tied remainders
    val eq = (1 to 27).map(i => (i.toLong, Seq("ga", "gb", "gc")(i % 3)))
      .toDF("k", "g")
    val ham = Corpus.temperatureSample(eq, col("k"), col("g"), budget = 7)
      .collect().map(r => r.getString(1)).groupBy(identity)
      .map { case (g, xs) => g -> xs.length }
    assert(ham.values.sum == 7,
      s"largest remainder must meet the budget exactly: $ham")
    assert(ham == Map("ga" -> 3, "gb" -> 2, "gc" -> 2),
      s"leftover seat must go to the tie-break winner: $ham")
  }

  test("TextDedup.lshPlan: S-curve structure and the fixed-point value " +
      "of the repo's 4x4 default at the 0.5 threshold") {
    val rows = graft.api.TextDedup.lshPlan(spark, 16,
        Seq(BigDecimal("0.3"), BigDecimal("0.5"), BigDecimal("0.7")))
      .collect().map(r => (r.getInt(0), r.getInt(1),
        Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4))))
    assert(rows.map(x => (x._1, x._2)).toSeq ==
      Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1)),
      "every (b, r) factorization of k, ordered by b")
    // collision probability rises with jaccard within a row...
    rows.foreach { case (b, r, ps) =>
      assert(ps.zip(ps.tail).forall { case (a, c) => a < c },
        s"non-monotone in s at ($b, $r): $ps") }
    // ...and with band count down a column (more bands = more chances)
    (0 to 2).foreach { i =>
      val colI = rows.map(_._3(i))
      assert(colI.zip(colI.tail).forall { case (a, c) => a < c },
        s"non-monotone in b at grid point $i") }
    // the 4-band 4-row default at s = 0.5, hand-walked through the
    // 9-dp chain: 0.5^4 = 0.0625; 0.9375^4 rounds stepwise to
    // 0.772476196; P = 0.227523804 exactly
    val p44 = rows.find(x => x._1 == 4 && x._2 == 4).get._3(1)
    assert(p44 == 0.227523804, s"fixed-point chain drifted: $p44")
  }

  test("Corpus.mixturePlan: budget met exactly pre-cap, cap binds only " +
      "past maxEpochs, epochs is plan/n") {
    import graft.api.Corpus
    // two groups, token totals 900 and 100: sq = 30 / 10, shares of
    // budget 2000 = 1500 / 500 exactly (no leftover seats)
    val df = Seq(("big", 900L), ("small", 100L)).toDF("g", "toks")
    val plan = Corpus.mixturePlan(df, col("toks"), col("g"),
        budget = 2000L, maxEpochs = 4.0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3),
        r.getBoolean(4), r.getLong(5), r.getDouble(6))).sortBy(_._1).toSeq
    assert(plan.map(_._3).sum == 2000L,
      s"Σ quota_tokens must equal the budget exactly: $plan")
    // small's quota 500 implies 5 epochs > cap 4.0 → capped at 400;
    // big's 1500 is 1.6667 epochs → uncapped
    assert(plan == Seq(("big", 900L, 1500L, false, 1500L, 1.6667),
      ("small", 100L, 500L, true, 400L, 4.0)), s"got $plan")
    // Hamilton exactness where per-group rounding would drift: three
    // equal groups split 100 as 34/33/33 (leftover seat to the
    // alphabetically-first tied remainder), never 33/33/33 or 34/34/34
    val eq = Seq(("ga", 400L), ("gb", 400L), ("gc", 400L)).toDF("g", "toks")
    val ham = Corpus.mixturePlan(eq, col("toks"), col("g"), budget = 100L)
      .collect().map(r => (r.getString(0), r.getLong(3))).sortBy(_._1).toSeq
    assert(ham.map(_._2).sum == 100L, s"budget not met exactly: $ham")
    assert(ham == Seq(("ga", 34L), ("gb", 33L), ("gc", 33L)), s"got $ham")
  }

  test("llm_vocab_coverage: monotone coverage, exact totals at the " +
      "freq>=1 cutoff, OOV complements coverage") {
    val rows = SparkEntry.queries("llm_vocab_coverage")(spark,
      SparkFixture.sf0001).collect()
    // ordered min_freq DESC ⇒ vocab_size / covered_tokens non-decreasing
    val vocab = rows.map(_.getLong(2)); val cov = rows.map(_.getLong(3))
    assert(vocab.zip(vocab.tail).forall { case (a, b) => a <= b })
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b })
    // the loosest cutoff (the corpus's smallest type frequency — the
    // last row in DESC order) keeps everything
    val last = rows.last
    val docs = spark.read.parquet(s"${SparkFixture.sf0001}/documents.parquet")
    val totalToks = docs.select(size(split(col("text"), " ")).cast("long"))
      .collect().map(_.getLong(0)).sum
    val totalTypes = docs.select(explode(split(col("text"), " ")).as("t"))
      .select("t").distinct().count()
    assert(last.getLong(2) == totalTypes && last.getLong(3) == totalToks,
      s"freq>=1 must cover the whole corpus: $last")
    assert(last.getDouble(4) == 0.0, "OOV at freq>=1 must be zero")
  }

  test("snapshotDiff NULL-text rows classify by presence, not hash " +
      "nullness; Unigram.segment covers a word whose intermediate " +
      "positions are uncoverable") {
    import graft.api.{Corpus, Unigram}
    val old = Seq((1L, Option("a text"), "web"), (2L, None, "web"),
      (3L, None, "web"))
      .toDF("k", "body", "src")
    val nw = Seq((1L, Option("a text"), "web"), (2L, Option("now set"), "web"),
      (3L, None, "web"))
      .toDF("k", "body", "src")
    val got = Corpus.snapshotDiff(old, nw, col("k"), col("body"), col("src"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // 1 unchanged, 2 changed (NULL -> value), 3 unchanged (NULL -> NULL)
    assert(got.toSeq == Seq((0L, 0L, 1L, 2L)), s"got ${got.toSeq}")
    // a model holding ONLY the piece "ab": position 1 is uncoverable but
    // the word is — segment must return it, not NULL
    val model = Seq(("ab", 100L)).toDF("piece", "cost")
    val seg = Unigram.segment(Seq("ab").toDF("w"), col("w"), model,
        maxPieceLen = 2)
      .collect()
    assert(seg.length == 1 && !seg(0).isNullAt(1) &&
      seg(0).getSeq[String](1) == Seq("ab"),
      s"word coverable by a multi-char piece must segment: ${seg.toSeq}")
  }

  test("NgramLm: model and scores match a pure-Scala reference; backoff " +
      "resolves unseen successors and OOV; word order moves the score") {
    import graft.api.NgramLm
    val corpus = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ran to the mat"),
      (3L, "the dog sat on the rug")
    ).toDF("id", "body")
    // pure-Scala twin of train(): add-1 bigram costs in micro-log units
    val rows = corpus.collect().map(r => (r.getLong(0), r.getString(1)))
    val biAll = rows.flatMap { case (i, t) =>
      val tk = t.split(" "); tk.zip(tk.tail).map(p => (i, p._1, p._2)) }
    val cb = biAll.groupBy(b => (b._2, b._3)).map { case (k, a) =>
      k -> a.length.toLong }
    val cu = cb.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val v = (cb.keySet.map(_._1) ++ cb.keySet.map(_._2)).size.toLong
    def cost(cbi: Long, cw1: Long): Long =
      math.round(-math.log((cbi + 1).toDouble / (cw1 + v).toDouble) * 1e6)
    val model = NgramLm.train(corpus, col("id"), col("body"))
    val gotSeen = model.filter(col("w1").isNotNull && col("w2").isNotNull)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val refSeen = cb.map { case ((w1, w2), c) => (w1, w2) -> cost(c, cu(w1)) }
    assert(gotSeen == refSeen,
      s"seen-bigram costs diverge: ${gotSeen.toSeq.diff(refSeen.toSeq)}")
    val gotUnseen = model.filter(col("w1").isNotNull && col("w2").isNull)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(gotUnseen == cu.map { case (w1, c) => w1 -> cost(0L, c) },
      "unseen-successor costs diverge")
    val gotOov = model.filter(col("w1").isNull).collect()
    assert(gotOov.length == 1 && gotOov(0).getLong(2) == cost(0L, 0L),
      "OOV cost diverges")
    // self-scoring equals the reference exact integer totals
    val sc = NgramLm.scoreDocs(corpus, col("id"), col("body"), model)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    rows.foreach { case (i, t) =>
      val tk = t.split(" ")
      val tot = tk.zip(tk.tail).map(p => cost(cb((p._1, p._2)), cu(p._1))).sum
      assert(sc(i) == ((tk.length - 1).toLong, tot),
        s"doc $i: got ${sc(i)}, want (${tk.length - 1}, $tot)")
    }
    // backoff: "sat xyz" = unseen successor of known history "sat";
    // "zz qq" = OOV history
    val probe = Seq((10L, "sat xyz"), (11L, "zz qq")).toDF("id", "body")
    val pb = NgramLm.scoreDocs(probe, col("id"), col("body"), model)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(pb(10L) == cost(0L, cu("sat")),
      s"unseen-successor backoff: got ${pb(10L)}")
    assert(pb(11L) == cost(0L, 0L), s"OOV backoff: got ${pb(11L)}")
    // order sensitivity: same multiset of tokens, scrambled order —
    // the bigram model must score the fluent doc strictly better
    val pair = Seq((20L, "the cat sat on the mat"),
      (21L, "mat the on sat cat the")).toDF("id", "body")
    val av = NgramLm.scoreDocs(pair, col("id"), col("body"), model)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(av(20L) < av(21L),
      s"fluent doc must out-score its shuffle: $av")
  }

  test("Quality.train matches a pure-Scala logistic-SGD reference epoch " +
      "for epoch; loss decreases; classify thresholds the exact margin") {
    import graft.api.{Corpus, Quality}
    // positives carry the marker token 'shiny'; negatives don't
    val docs = Seq(
      (1L, "shiny well written prose with many careful words"),
      (2L, "shiny another fine document with real sentences"),
      (3L, "shiny good clean text body here today"),
      (4L, "spam spam spam buy now click here"),
      (5L, "garbage tokens zzz qqq xxx yyy www"),
      (6L, "shiny decent paragraph containing actual meaning"),
      (7L, "lorem noise noise noise noise noise filler"),
      (8L, "shiny thoughtful analysis of a concrete topic")
    ).toDF("id", "body")
    val feats = Corpus.hashFeatures(docs, col("id"), col("body"))
    val labels = docs.select(col("id").as("doc_id"),
      array_contains(split(col("body"), " "), "shiny").cast("int").as("y"))
    // pure-Scala twin of trainStep's integer-micro arithmetic
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(tok: String): String =
      md.digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 1)
    val rows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val featsRef: Map[(Long, String), Long] = rows
      .flatMap { case (i, t) => t.split(" ").map(tok => (i, bucket(tok))) }
      .groupBy(identity).map { case (k, a) => k -> a.length.toLong }
    val yRef: Map[Long, Long] =
      rows.map { case (i, t) =>
        i -> (if (t.split(" ").contains("shiny")) 1L else 0L) }.toMap
    val nDocs = rows.length
    def roundHalfUp(x: Double): Long =
      BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
    def pMicro(z: Long): Long =
      roundHalfUp(1e6 / (1.0 + math.exp(-z.toDouble / 1e6)))
    def epochRef(w: Map[String, Long]): Map[String, Long] = {
      val z = featsRef.groupBy(_._1._1).map { case (i, fs) =>
        i -> fs.map { case ((_, b), n) => n * w.getOrElse(b, 0L) }.sum }
      val err = yRef.map { case (i, y) =>
        i -> (pMicro(z.getOrElse(i, 0L)) - y * 1000000L) }
      val g = featsRef.toSeq.map { case ((i, b), n) => b -> n * err(i) }
        .groupBy(_._1).map { case (b, a) => b -> a.map(_._2).sum }
      (w.keySet ++ g.keySet).map { b =>
        b -> (w.getOrElse(b, 0L) -
          roundHalfUp((g.getOrElse(b, 0L).toDouble / nDocs) * 0.5))
      }.toMap
    }
    var refW = Map.empty[String, Long]
    for (e <- 1 to 3) {
      refW = epochRef(refW)
      val got = Quality.train(feats, labels, epochs = e)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == refW,
        s"epoch $e diverges:\n  diff=${got.collect {
          case (k, v) if refW.get(k).exists(_ != v) => (k, v, refW(k)) }}" +
          s"\n  extra=${got.keySet -- refW.keySet}" +
          s"\n  missing=${refW.keySet -- got.keySet}")
    }
    // loss strictly improves over the zero model on this separable corpus
    def loss(w: org.apache.spark.sql.DataFrame): Long =
      Quality.lossMicroNats(feats, labels, w).collect()(0).getLong(0)
    val l0 = loss(Quality.emptyWeights(docs))
    val l3 = loss(Quality.train(feats, labels, epochs = 3))
    assert(l0 == 693147L, s"zero-model loss must be ln2 micro-nats: $l0")
    assert(l3 < l0, s"loss did not decrease: $l0 -> $l3")
    // classify: score equals the reference margin, keep == margin > 0
    val model3 = Quality.train(feats, labels, epochs = 3)
    val cls = Quality.classify(feats, model3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    rows.foreach { case (i, _) =>
      val zRef = featsRef.collect {
        case ((d, b), n) if d == i => n * refW.getOrElse(b, 0L) }.sum
      assert(cls(i) == (zRef, zRef > 0L),
        s"doc $i: got ${cls(i)}, want ($zRef, ${zRef > 0L})")
    }
    // the separable marker is learned: every positive keeps, and at
    // least one negative is rejected (bucket collisions permitting, the
    // toy corpus is built so the marker bucket dominates)
    val acc = rows.count { case (i, _) => cls(i)._2 == (yRef(i) == 1L) }
    assert(acc >= 6, s"classifier learned nothing: $acc/8 correct")
    // PR curve: zero model puts every doc in bin 0 — one row, recall 1,
    // precision = base rate
    val nPos = yRef.values.count(_ == 1L)
    val pr0 = Quality.prCurve(feats, labels, Quality.emptyWeights(docs))
      .collect()
    assert(pr0.length == 1 && pr0(0).getLong(0) == 0L,
      s"zero model must yield one bin-0 row: ${pr0.toSeq}")
    assert(pr0(0).getLong(1) == nPos.toLong &&
      pr0(0).getDouble(5) == 1.0 &&
      pr0(0).getDouble(4) == nPos.toDouble / rows.length,
      s"zero-model PR row wrong: ${pr0(0)}")
    // fitted model: thresholds strictly descending, recall non-decreasing
    // top-down, ratios in [0,1], fn consistent, bottom row recall 1
    val pr = Quality.prCurve(feats, labels, model3).collect()
    val th = pr.map(_.getLong(0)).toSeq
    assert(th == th.sortBy(-_) && th.distinct == th,
      s"thresholds not strictly descending: $th")
    var lastRecall = 0.0
    pr.foreach { r =>
      val (tp, fp, fn) = (r.getLong(1), r.getLong(2), r.getLong(3))
      val (p, rec, f1) = (r.getDouble(4), r.getDouble(5), r.getDouble(6))
      assert(tp + fn == nPos.toLong, s"tp+fn != positives: $r")
      assert(p >= 0 && p <= 1 && rec >= 0 && rec <= 1 && f1 >= 0 && f1 <= 1,
        s"ratio out of range: $r")
      assert(rec >= lastRecall, s"recall decreased walking down: $r")
      lastRecall = rec
      assert(fp >= 0 && tp >= 0)
    }
    assert(pr.last.getDouble(5) == 1.0,
      s"bottom threshold must capture all positives: ${pr.last}")
  }

  test("Corpus.tokenDrift + driftSummary: zero drift on identical " +
      "snapshots; churn and JS move when a source vanishes") {
    import graft.api.Corpus
    val a = Seq((1L, "alpha beta gamma"), (2L, "alpha beta delta"))
      .toDF("id", "body")
    val same = Corpus.driftSummary(a, a, col("body")).collect()(0)
    assert(same.getLong(6) == 0L, s"identical snapshots must have JS 0: $same")
    assert(same.getLong(4) == 0L && same.getLong(5) == 0L)

    val b = Seq((1L, "alpha beta gamma"), (3L, "alpha beta epsilon"))
      .toDF("id", "body")
    val d = Corpus.tokenDrift(a, b, col("body")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3)))).toMap
    // shared tokens at equal frequency contribute 0; the swapped rare
    // tokens contribute the one-sided ½·p·ln2 term
    assert(d("alpha") == ((2L, 2L, 0L)) && d("beta") == ((2L, 2L, 0L)))
    // same IEEE op order as the operator's expression tree
    val oneSided =
      math.round((0.5 * ((1.0 / 6.0) * math.log(2.0)) + 0.0) * 1e9)
    assert(d("delta") == ((1L, 0L, oneSided)), s"delta: ${d("delta")}")
    assert(d("epsilon") == ((0L, 1L, oneSided)), s"epsilon: ${d("epsilon")}")
    val sum = Corpus.driftSummary(a, b, col("body")).collect()(0)
    assert(sum.getLong(4) == 1L && sum.getLong(5) == 1L,
      s"one token added, one removed: $sum")
    assert(sum.getLong(6) == d.values.map(_._3).sum,
      "total must be the exact integer sum of per-token contributions")
  }

  test("llm_training_export conserves survivor tokens across packs and " +
      "respects the pack budget within one chunk of slack") {
    val out = SparkEntry.queries("llm_training_export")(spark,
      SparkFixture.sf0001)
    val packs = out.collect()
    val packedTokens = packs.map(_.getLong(3)).sum
    // independent survivor-token recompute: normalize → gates → exact
    // dedup keep-first (the same chain, spelled differently)
    val docs = SparkFixture.spark.read
      .parquet(s"${SparkFixture.sf0001}/documents.parquet")
    val norm = docs.select(col("doc_id"),
      trim(regexp_replace(lower(col("text")), "\\s+", " ")).as("nt"))
    val tk = split(col("nt"), " ")
    val surv = norm
      .withColumn("n", size(tk))
      .withColumn("dup",
        lit(1.0) - size(array_distinct(tk)).cast("double") / size(tk))
      .filter(col("n") >= 5 && col("dup") <= 0.5)
      .groupBy(md5(col("nt")).as("h"))
      .agg(org.apache.spark.sql.functions.min(
        struct(col("doc_id"), col("n"))).as("m"))
      .select(col("m.n"))
    val survivorTokens = surv.agg(sum(col("n"))).collect()(0).getLong(0)
    assert(packedTokens == survivorTokens,
      s"packing must conserve tokens: $packedTokens vs $survivorTokens")
    // a pack closes when the running sum crosses the 128 boundary; the
    // crossing chunk (≤ 16 tokens) is the only permitted overshoot
    val over = packs.filter(_.getLong(3) > 128 + 15)
    assert(over.isEmpty, s"packs over budget+slack: ${over.toSeq}")
  }

  test("TextQuality.langSegments votes per line and reports the " +
      "code-mixed profile a doc-level LID papers over") {
    // doc 1 is labeled en but its second line is German — the per-line
    // vote must split it; doc 2 is uniformly German
    val docs = Seq(
      (1L, "en", "the cat sat\nder hund lief"),
      (2L, "de", "der hund lief\nder hund schlief")
    ).toDF("id", "lg", "body")
    val out = TextQuality.langSegments(docs, col("id"), col("lg"),
        col("body"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((2L, 2L, "de", 0.5)),
      s"mixed doc must show 2 langs, 1-1 tie broken label-asc: ${out(1L)}")
    assert(out(2L) == ((2L, 1L, "de", 1.0)), s"uniform doc: ${out(2L)}")
  }

  test("Quality.uncertaintySample ranks boundary-adjacent docs first " +
      "with id tie-break; confident docs fall outside the budget") {
    import graft.api.Quality
    val feats = Seq((1L, 0L, 1L), (2L, 1L, 2L), (3L, 0L, 1L),
      (3L, 1L, 3L), (4L, 1L, 5L)).toDF("doc_id", "bucket", "n")
    val w = Seq((0L, 500L), (1L, -100L)).toDF("bucket", "w_micro")
    // margins: d1 +500, d2 -200, d3 +200, d4 -500
    val out = Quality.uncertaintySample(feats, w, k = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1, 2L, -200L), (2, 3L, 200L), (3, 1L, 500L)),
      s"|200| ties break by id, d4 (sure) is outside k=3: $out")
  }

  test("Corpus.driftByGroup normalizes within each group; a vanished " +
      "group scores the one-sided half-ln2 ceiling") {
    import graft.api.Corpus
    val a = Seq(("s1", "x y"), ("s2", "u v")).toDF("src", "body")
    val b = Seq(("s1", "x y")).toDF("src", "body") // s2 vanished
    val out = Corpus.driftByGroup(a, b, col("body"), col("src"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(7)))).toMap
    assert(out("s1") == ((2L, 2L, 0L)), s"unchanged group: ${out("s1")}")
    // vanished group: per token round((0.5·(p·ln 2) + 0)·1e9), p = 1/2
    val perTok = math.round((0.5 * (0.5 * math.log(2.0)) + 0.0) * 1e9)
    assert(out("s2") == ((2L, 0L, 2L * perTok)),
      s"vanished group must hit the half-ln2 ceiling: ${out("s2")}")
  }

  test("Corpus token-counts lifecycle: write+append+compact+read " +
      "equals the one-pass rebuild; compaction is idempotent; drift " +
      "against stored counts equals the from-scratch drift") {
    import graft.api.Corpus
    val day0 = Seq((1L, "alpha beta gamma")).toDF("id", "body")
    val day1 = Seq((2L, "alpha beta delta")).toDF("id", "body")
    val both = day0.unionByName(day1)
    val path = SparkFixture.tempDir("vocab_counts").getAbsolutePath
    Corpus.writeTokenCounts(day0, col("body"), path)
    Corpus.appendToTokenCounts(day1, col("body"), path)
    def counts() = Corpus.readTokenCounts(spark, path)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rebuilt = Map("alpha" -> 2L, "beta" -> 2L, "gamma" -> 1L,
      "delta" -> 1L)
    assert(counts() == rebuilt, s"grown: ${counts()}")
    Corpus.compactTokenCounts(spark, path)
    assert(counts() == rebuilt, s"compacted: ${counts()}")
    Corpus.compactTokenCounts(spark, path)
    assert(counts() == rebuilt, "compaction must be idempotent")
    val slice = Seq((9L, "alpha beta epsilon")).toDF("id", "body")
    val stored = Corpus.driftAgainstCounts(slice, col("body"), path)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val scratch = Corpus.tokenDrift(both, slice, col("body"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(stored == scratch,
      s"stored-reference drift diverges:\n$stored\nvs\n$scratch")
  }

  test("TextDedup.stitchCandidates finds tail/head overlaps, flags " +
      "ambiguity; stitchApply merges pair-only chains once") {
    // 10→11 unambiguous pair; 20 tail matches BOTH 21 and 22 heads
    // (ambiguous, must not merge); 30→31→32 is a 3-chain (unambiguous
    // edges, but interior — apply must skip it)
    val frags = Seq(
      (10L, "a b c d e f"), (11L, "d e f g h i"),
      (20L, "p q r s t u"), (21L, "s t u v w x"), (22L, "s t u y z w"),
      (30L, "m n o k l j"), (31L, "k l j w1 w2 w3"),
      (32L, "w1 w2 w3 zz yy xx")
    ).toDF("fid", "tx")
    val cand = TextDedup
      .stitchCandidates(frags, col("fid"), col("tx"), w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getBoolean(2))
      .toMap  // columns: (prev_id, next_id, unambiguous)
    assert(cand.keySet == Set((10L, 11L), (20L, 21L), (20L, 22L),
      (30L, 31L), (31L, 32L)), s"edges: ${cand.keySet}")
    assert(cand((10L, 11L)) && cand((30L, 31L)) && cand((31L, 32L)))
    assert(!cand((20L, 21L)) && !cand((20L, 22L)),
      "one tail matching two heads must be ambiguous on both edges")

    val merged = TextDedup
      .stitchApply(frags, col("fid"), col("tx"), w = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2))
      .toMap
    assert(merged.keySet == Set((10L, 11L)),
      s"only the pair-only chain merges (3-chains wait for clusters): " +
        s"${merged.keySet}")
    assert(merged((10L, 11L)) == "a b c d e f g h i",
      s"overlap cut once: ${merged((10L, 11L))}")
  }

  test("Corpus.curriculumPlan/Apply anneal from the cleanest quantile " +
      "to the full corpus; clean docs recur across epochs") {
    import graft.api.Corpus
    // scores 10,20,30,40 — quartile cutoffs with E=2: epoch1 median 25,
    // epoch2 min 10
    val docs = Seq((1L, 10L, 100L), (2L, 20L, 100L), (3L, 30L, 100L),
      (4L, 40L, 100L)).toDF("id", "s", "tk")
    val plan = Corpus.curriculumPlan(docs, col("s"), col("tk"), epochs = 2)
      .collect().map(r => r.getInt(0) -> ((r.getDouble(1), r.getLong(2),
        r.getLong(3)))).toMap
    assert(plan(1) == ((25.0, 2L, 200L)), s"epoch 1: ${plan(1)}")
    assert(plan(2) == ((10.0, 4L, 400L)), s"epoch 2 is everything: ${plan(2)}")
    val app = Corpus.curriculumApply(docs, col("id"), col("s"), epochs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(app == Set((3L, 1), (4L, 1), (1L, 2), (2L, 2), (3L, 2), (4L, 2)),
      s"membership: $app")
  }

  test("Similarity.outliersByGroup ranks the corrupt vector first and " +
      "stays exact around the rational centroid") {
    import graft.api.Similarity
    // group 7: three near-identical vectors + one zeroed (corrupt);
    // group 8: two identical vectors — both at distance 0, id tie-break
    val vecs = Seq(
      (1L, 7, Array(1.0f, 0.0f)), (2L, 7, Array(0.9f, 0.1f)),
      (3L, 7, Array(1.1f, -0.1f)), (4L, 7, Array(0.0f, 0.0f)),
      (5L, 8, Array(0.5f, 0.5f)), (6L, 8, Array(0.5f, 0.5f))
    ).toDF("vid", "lab", "emb")
    val out = Similarity.outliersByGroup(vecs, col("vid"), col("emb"),
        col("lab"), k = 2)
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(out((7, 1))._1 == 4L,
      s"the zeroed vector must rank first: ${out((7, 1))}")
    // centroid of group 7 = (0.75, 0); dist²(zero) = 0.5625 exactly
    assert(out((7, 1))._2 == 0.5625, s"exact dist²: ${out((7, 1))}")
    assert(out((8, 1)) == ((5L, 0.0)) && out((8, 2)) == ((6L, 0.0)),
      s"identical members tie at 0 with id break: $out")
  }

  test("TextDedup.stitchChains ranks arbitrary-length chains by " +
      "pointer doubling and merges with every overlap cut") {
    // one 4-chain (40..43), one 2-chain (50,51), one singleton (60)
    val frags = Seq(
      (40L, "a1 a2 a3 b1 b2 b3"), (41L, "b1 b2 b3 c1 c2 c3"),
      (42L, "c1 c2 c3 d1 d2 d3"), (43L, "d1 d2 d3 e1 e2 e3"),
      (50L, "x1 x2 x3 y1 y2 y3"), (51L, "y1 y2 y3 z1 z2 z3"),
      (60L, "q1 q2 q3 q4 q5 q6")
    ).toDF("fid", "tx")
    val out = TextDedup.stitchChains(frags, col("fid"), col("tx"), w = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
      .toMap
    assert(out.keySet == Set(40L, 50L), s"chains: ${out.keySet}")
    assert(out(40L) == ((4L,
      "a1 a2 a3 b1 b2 b3 c1 c2 c3 d1 d2 d3 e1 e2 e3")), s"4-chain: ${out(40L)}")
    assert(out(50L) == ((2L, "x1 x2 x3 y1 y2 y3 z1 z2 z3")))
  }

  test("TextDedup.stitchChains fails loudly on cyclic overlap " +
      "structure instead of looping or mis-merging") {
    val cyc = Seq(
      (70L, "m1 m2 m3 n1 n2 n3"), (71L, "n1 n2 n3 m1 m2 m3")
    ).toDF("fid", "tx")
    val ex = intercept[IllegalStateException] {
      TextDedup.stitchChains(cyc, col("fid"), col("tx"), w = 3,
        maxIters = 6).collect()
    }
    assert(ex.getMessage.contains("cyclic overlap"), ex.getMessage)
  }

  test("TextDedup.weightedJaccardOnPairs: shared boilerplate scores " +
      "near zero, shared rare content dominates") {
    // docs 1/2 share ONLY the ubiquitous header (in all 4 docs);
    // docs 3/4 share the rare token pair
    val docs = Seq(
      (1L, "the of and alpha"), (2L, "the of and beta"),
      (3L, "the of and gammarare deltarare"),
      (4L, "the of and gammarare deltarare")
    ).toDF("id", "body")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val out = TextDedup.weightedJaccardOnPairs(docs, col("id"),
        col("body"), pairs, minWJaccard = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // idf(the/of/and) = ln(5/4) ≈ 0.223 micro-units each; idf(alpha) =
    // idf(beta) = ln(5); pair(1,2): 3·0.223 / (3·0.223 + 2·ln5) ≈ 0.172
    assert(out((3L, 4L)) == 1.0, s"identical docs: ${out((3L, 4L))}")
    assert(out((1L, 2L)) < 0.2,
      s"boilerplate-only overlap must score low: ${out((1L, 2L))}")
    // the UNWEIGHTED jaccard of (1,2) is 3/5 = 0.6 — the weighting is
    // what pushes it down
  }

  test("VectorExprs.sortedInterWeight matches the explode + equi-join " +
      "intersection sum, including duplicate-key runs") {
    import graft.functions.VectorExprs
    // (key, weight) arrays sorted by key; the b-side repeats key 20 —
    // join semantics contribute la·lb·w for the run (1·2·7 here)
    val df = Seq((
      Seq((10L, 3L), (20L, 7L), (40L, 11L)),
      Seq((20L, 7L), (20L, 7L), (30L, 5L), (40L, 11L))
    )).toDF("a", "b")
      .select(
        expr("transform(a, x -> struct(x._1 as k, x._2 as w))").as("a"),
        expr("transform(b, x -> struct(x._1 as k, x._2 as w))").as("b"))
    val got = df.select(VectorExprs.sortedInterWeight(col("a"), col("b"))
      .as("iw")).collect().head.getLong(0)
    // key 20: 1·2·7 = 14; key 40: 1·1·11 = 11
    assert(got == 25L, s"expected 25, got $got")
    // empty intersection and empty arrays
    val z = Seq((Seq((1L, 2L)), Seq.empty[(Long, Long)]))
      .toDF("a", "b")
      .select(
        expr("transform(a, x -> struct(x._1 as k, x._2 as w))").as("a"),
        expr("transform(b, x -> struct(x._1 as k, x._2 as w))").as("b"))
    assert(z.select(VectorExprs.sortedInterWeight(col("a"), col("b")))
      .collect().head.getLong(0) == 0L)
  }

  test("VectorExprs.md5SimhashBands matches the (doc, bit) lattice " +
      "spelling bit for bit, including empty and whitespace-only text") {
    val docs = Seq((1L, ""), (2L, "hello"), (3L, "a b c a b"),
      (4L, "  two  spaced  "), (5L, "é 中 zz"),
      (6L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")).toDF("doc_id", "text")
    // the lattice spelling this expression replaced (r16)
    val tok = docs
      .select(col("doc_id").as("__id"),
        explode(array_distinct(split(col("text"), " "))).as("tk"))
      .withColumn("__h", md5(col("tk")))
      .withColumn("__v1", conv(substring(col("__h"), 1, 8), 16, 10)
        .cast("long"))
      .withColumn("__v2", conv(substring(col("__h"), 9, 8), 16, 10)
        .cast("long"))
    val bit = expr("(CASE WHEN b < 32 THEN shiftright(__v1, 31 - b) " +
      "ELSE shiftright(__v2, 63 - b) END) & 1")
    val balances = tok
      .select(col("__id"), col("__v1"), col("__v2"),
        explode(sequence(lit(0), lit(63))).as("b"))
      .groupBy("__id", "b")
      .agg(sum(when(bit === 1, 1).otherwise(-1)).as("sgn"))
    val bandCols = (0 until 4).map { k =>
      sum(when(col("sgn") > 0 &&
          (col("b") >= 16 * k) && (col("b") < 16 * (k + 1)),
        expr("shiftleft(1, 15 - b % 16)")).otherwise(0))
        .cast("int").as(s"__b$k")
    }
    val lattice = balances.groupBy("__id")
      .agg(bandCols.head, bandCols.tail: _*)
      .select(col("__id"), array(col("__b0"), col("__b1"), col("__b2"),
        col("__b3")).as("__bd"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val got = TextDedup.simhashMd5Bands(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(got == lattice, s"expression vs lattice:\n$got\nvs\n$lattice")
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("TextClean.fixMojibake inverts a mechanical cp1252 mis-decode; " +
      "two passes repair double encoding; clean text is untouched") {
    import graft.api.TextClean
    val clean = "it’s a “quoted” café " +
      "– 50€ °C ß"
    val damaged = TextClean.mojibakeOf(clean)
    assert(damaged != clean, "probe must actually damage the text")
    // double-encoding round-trips exactly for the targets whose damaged
    // forms consist ONLY of characters that have their own map entries:
    // ’ (â/€/™), – (â/€/“), — (â/€/”) — the scaladoc contract
    val clean2 = "don’t stop – now — go"
    val doubled = TextClean.mojibakeOf(TextClean.mojibakeOf(clean2))
    val df = Seq((1L, damaged), (2L, doubled), (3L, clean))
      .toDF("id", "t")
    val out = TextClean.fixMojibake(df, col("id"), col("t"), passes = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == clean, s"single: ${out(1L)}")
    assert(out(2L).getString(1) == clean2, s"double: ${out(2L)}")
    assert(out(3L).getString(1) == clean && !out(3L).getBoolean(3),
      s"clean text must pass through unchanged: ${out(3L)}")
    assert(out(1L).getBoolean(3) && out(1L).getInt(2) > 0)
    // map hygiene the chain depends on: no key is a prefix of another
    val keys = TextClean.Mojibake.map(_._1)
    for (a <- keys; b <- keys if a != b)
      assert(!b.startsWith(a), s"key '$a' is a prefix of key '$b'")
  }

  test("TextClean.stripMarkup drops script/style/comment blocks, strips " +
      "tags, decodes entities in the safe order") {
    import graft.api.TextClean
    val df = Seq(
      (1L, "<p>Hello &amp; welcome</p><script>var x = 1;</script>done"),
      // &amp;lt; must decode to the literal text "&lt;", never to "<"
      (2L, "tricky &amp;lt; stays"),
      (3L, "<style>p{}</style>a  <b>b</b>\tc"),
      (4L, "no markup at all")
    ).toDF("id", "t")
    val out = TextClean.stripMarkup(df, col("id"), col("t"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "Hello & welcome done", out(1L))
    assert(out(2L).getString(1) == "tricky &lt; stays", out(2L))
    assert(out(3L).getString(1) == "a b c", out(3L))
    assert(out(4L).getString(1) == "no markup at all" &&
      out(4L).getInt(2) == 0 && out(4L).getInt(3) == 0)
  }

  test("TextClean.scriptMix counts scripts by codepoint range; argmax " +
      "main script with first-listed tie-break; symbol-only rows 'none'") {
    import graft.api.TextClean
    val df = Seq(
      (1L, "abc АБВГ"), // 3 latin vs 4 cyrillic
      (2L, "ab 一二"),              // 2 latin vs 2 han: tie
      (3L, "123 !!!")                        // no letters
    ).toDF("id", "t")
    val out = TextClean.scriptMix(df, col("id"), col("t"))
      .collect().map(r => r.getLong(0) -> r).toMap
    def f(id: Long, name: String): Int =
      out(id).getAs[Int](name)
    assert(f(1L, "n_latin") == 3 && f(1L, "n_cyrillic") == 4)
    assert(out(1L).getAs[String]("main_script") == "cyrillic")
    // tie 2-2: latin listed first wins
    assert(out(2L).getAs[String]("main_script") == "latin")
    assert(out(3L).getAs[String]("main_script") == "none" &&
      out(3L).getAs[Double]("frac_main") == 0.0)
    assert(f(3L, "n_digit") == 3 && f(3L, "n_other") == 3)
  }

  test("TextClean.c4LineFilter applies the C4 line and page rules") {
    import graft.api.TextClean
    val df = Seq(
      // line gates: keep 1 & 4; drop short (2), javascript (3),
      // missing terminal punctuation (5)
      (1L, "A good first sentence with plenty of words.\nshort one.\n" +
        "cookie notice requires JavaScript enabled to work properly.\n" +
        "Another fine sentence with enough words here today.\n" +
        "this long line has no terminal punctuation at all\n" +
        "A third good sentence clears the minimum page gate."),
      // page blocklist beats good lines
      (2L, "Lorem ipsum dolor sit amet and so on it goes.\n" +
        "A perfectly good line otherwise sits here.\n" +
        "Another good line that cannot save this page."),
      (3L, "code = { x }\nGood sentence one with enough words here.\n" +
        "Good sentence two with enough words here.\n" +
        "Good sentence three with enough words here."),
      // fewer than 3 surviving lines -> page dropped, no blocklist hit
      (4L, "Only one good sentence here with enough words.\nshort.\nbad")
    ).toDF("id", "t")
    val out = TextClean.c4LineFilter(df, col("id"), col("t"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Int]("n_lines") == 6 &&
      out(1L).getAs[Int]("n_kept") == 3 &&
      out(1L).getAs[Boolean]("keep_page"), out(1L))
    assert(out(1L).getAs[String]("kept_text") ==
      "A good first sentence with plenty of words.\n" +
      "Another fine sentence with enough words here today.\n" +
      "A third good sentence clears the minimum page gate.")
    assert(out(2L).getAs[Boolean]("page_dropped") &&
      !out(2L).getAs[Boolean]("keep_page") &&
      out(2L).getAs[String]("kept_text") == "", out(2L))
    assert(out(3L).getAs[Boolean]("page_dropped"), out(3L))
    assert(!out(4L).getAs[Boolean]("page_dropped") &&
      !out(4L).getAs[Boolean]("keep_page") &&
      out(4L).getAs[Int]("n_kept") == 1, out(4L))
  }

  test("TextClean.ingestPipeline chains repair -> per-line strip -> C4 " +
      "rules in one plan, preserving line structure") {
    import graft.api.TextClean
    val dmg = TextClean.mojibakeOf("café")
    val df = Seq((1L,
      "<h1>Title Here</h1>\n" +
      s"A good sentence mentioning $dmg culture and more.\n" +
      "<script>var x = 1;</script>\n" +
      "Another complete sentence with plenty of words.\n" +
      "And a third full sentence closes the page.")).toDF("id", "t")
    val r = TextClean.ingestPipeline(df, col("id"), col("t"))
      .collect()(0)
    assert(r.getAs[Int]("n_lines") == 5 && r.getAs[Int]("n_kept") == 3,
      r.toString)
    assert(r.getAs[Boolean]("keep_page"))
    val kept = r.getAs[String]("kept_text")
    assert(kept.contains("café culture"),
      s"mojibake must be repaired before the line rules: $kept")
    assert(!kept.contains("<") && !kept.contains("Title"),
      s"markup lines must not survive: $kept")
  }

  test("TextQuality.decontamRecallAudit: planted spans are always " +
      "caught (recall 1.0); unplanted docs with no overlap stay clean") {
    import graft.api.TextQuality
    // disjoint vocabularies: no natural overlap, so the background is 0
    val eval0 = Seq(
      (100L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu")).toDF("doc_id", "text")
    val train = Seq(
      (102L, "one two three four five six seven eight nine ten"),
      (103L, "red green blue cyan magenta yellow black white gray pink"))
      .toDF("doc_id", "text")
    val r = TextQuality.decontamRecallAudit(train, eval0,
      col("doc_id"), col("text")).collect()(0)
    // eval 100 plants into train 102 (shift 2); 103 is untouched
    assert(r.getAs[Long]("n_planted") == 1L &&
      r.getAs[Long]("n_planted_flagged") == 1L &&
      r.getAs[Long]("n_other_flagged") == 0L &&
      r.getAs[Double]("recall") == 1.0, r.toString)
    // a span shorter than the gram width must be rejected loudly
    intercept[IllegalArgumentException] {
      TextQuality.decontamRecallAudit(train, eval0, col("doc_id"),
        col("text"), width = 8, spanTokens = 7)
    }
  }

  test("TextClean.extractUrls finds scheme'd URLs with punctuation " +
      "boundaries; domain strips port/path and lowercases") {
    import graft.api.TextClean
    val df = Seq(
      (1L, "see (https://EN.Wikipedia.org/wiki/Spark) and " +
        "http://sub.example.org:8080/a?q=1#f plus example.com bare"),
      (2L, "no urls here at all")
    ).toDF("id", "t")
    val out = TextClean.extractUrls(df, col("id"), col("t")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getString(3)))
    assert(out.length == 2, out.mkString("; "))
    assert(out(0) == ((1L, 1, "https://EN.Wikipedia.org/wiki/Spark",
      "en.wikipedia.org")), out(0))
    assert(out(1) == ((1L, 2, "http://sub.example.org:8080/a?q=1#f",
      "sub.example.org")), out(1))
    val ds = TextClean.domainStats(df, col("id"), col("t")).collect()
    assert(ds.length == 2 && ds.forall(_.getLong(1) == 1L))
  }

  test("TextClean.splitSentences splits on terminator runs and recovers " +
      "the unterminated trailing fragment") {
    import graft.api.TextClean
    val df = Seq(
      (1L, "First one. Second one! Third one?? trailing fragment"),
      (2L, "no terminator anywhere"),
      (3L, "Ends clean."),
      (4L, "!!!Hello. And more"),
      (5L, "?!.")
    ).toDF("id", "t")
    val out = TextClean.splitSentences(df, col("id"), col("t"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getString(2), r.getInt(3)))
      .toMap
    assert(out((1L, 1)) == (("First one.", 2)), out((1L, 1)))
    assert(out((1L, 2)) == (("Second one!", 2)))
    assert(out((1L, 3)) == (("Third one??", 2)), "?? run stays attached")
    assert(out((1L, 4)) == (("trailing fragment", 2)),
      "fragment must not be dropped")
    assert(out((2L, 1)) == (("no terminator anywhere", 3)))
    assert(out.keys.count(_._1 == 3L) == 1 &&
      out((3L, 1)) == (("Ends clean.", 2)))
    // a LEADING terminator run is skipped by the match, not consumed —
    // the fragment arithmetic must count it or it re-emits the tail of
    // the last sentence (r9 ADVICE fix: was ("Hello.", "lo. And more"))
    assert(out.keys.count(_._1 == 4L) == 2)
    assert(out((4L, 1)) == (("Hello.", 1)), out((4L, 1)))
    assert(out((4L, 2)) == (("And more", 2)), out((4L, 2)))
    // terminator-ONLY text keeps its run as the one fragment row (r10,
    // the keep-don't-drop rule) — and emits nothing beyond it
    assert(out.keys.count(_._1 == 5L) == 1 &&
      out((5L, 1)) == (("?!.", 1)), out.filter(_._1._1 == 5L))
  }

  test("TextDedup.simhashMd5Bands matches a pure-JVM reference bit for " +
      "bit; nearSimhashMd5 pairs the exact dup at hamming 0") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def ref(text: String): Seq[Int] = {
      val bal = new Array[Int](64)
      text.split(" ").distinct.foreach { t =>
        val h = md5hex(t)
        for (i <- 0 until 64) {
          val nib = Integer.parseInt(h.substring(i / 4, i / 4 + 1), 16)
          bal(i) += (if (((nib >> (3 - i % 4)) & 1) == 1) 1 else -1)
        }
      }
      (0 until 4).map(k => (0 until 16).foldLeft(0)((acc, j) =>
        acc * 2 + (if (bal(16 * k + j) > 0) 1 else 0)))
    }
    val bands = TextDedup
      .simhashMd5Bands(corpus, col("id"), col("body")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    corpus.collect().foreach { r =>
      assert(bands(r.getLong(0)) == ref(r.getString(1)),
        s"doc ${r.getLong(0)}: engine/JVM band mismatch")
    }
    val pairs = TextDedup
      .nearSimhashMd5(corpus, col("id"), col("body")).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((1L, 2L)).contains(0)) // byte-identical docs
    assert(pairs.forall { case ((a, b), h) => a < b && h <= 3 })
  }

  test("simhashMd5 index lifecycle: index screen + intra keep-min drop " +
      "the right docs, and appending survivors grows ≡ rebuilt") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-shidx").toString
    val base = Seq((1L, "the quick brown fox jumps tonight"))
      .toDF("i", "txt")
    TextDedup.writeSimhashMd5Index(base, col("i"), col("txt"), dir)
    val shard = Seq(
      (10L, "the quick brown fox jumps tonight"), // index near-dup: drop
      (20L, "completely unrelated different content words here"), // keep
      (30L, "completely unrelated different content words here")) // intra
      .toDF("i", "txt")
    val surv = TextDedup
      .simhashMd5DedupShardAgainstIndex(shard, col("i"), col("txt"), dir)
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(surv == Seq(20L), s"survivors: $surv")
    // accept = append the survivors' band rows; grown index must equal
    // a from-scratch rebuild over base ∪ survivors
    TextDedup.simhashMd5Bands(shard.filter(col("i") === 20L),
        col("i"), col("txt"))
      .write.mode("append").parquet(s"$dir/bands")
    val grown = spark.read.parquet(s"$dir/bands").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-shidx2").toString
    TextDedup.writeSimhashMd5Index(
      base.unionByName(shard.filter(col("i") === 20L)),
      col("i"), col("txt"), dir2)
    val rebuilt = spark.read.parquet(s"$dir2/bands").collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1))).toSet
    assert(grown == rebuilt)
  }

  // -----------------------------------------------------------------------
  // Overlap — the map_overlap / global-window bucket+halo engine (r10)
  // -----------------------------------------------------------------------

  /** Events slice used by the Overlap equivalence pins. */
  private def overlapEvents = graft.util.Tables
    .events(spark, SparkFixture.sf0001)
    .select(col("event_id"), col("ts"), col("value"))

  /** All physical nodes, descending through the AQE wrapper and query
    * stages (plain `.collect` stops at AdaptiveSparkPlanExec — the frame
    * must be materialized first so the final plan exists). */
  private def collectWindows(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
  }

  test("Overlap.rollingRows is bit-identical to the naive global window " +
      "and plans ZERO un-partitioned WindowExec nodes") {
    import org.apache.spark.sql.expressions.Window
    import graft.util.Det.dec
    val naiveW = Window.orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, 2)
    val naive = overlapEvents.select(col("event_id"),
        (sum(dec(col("value"))).over(naiveW).cast("double") /
          count(lit(1)).over(naiveW)).as("m")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // buckets = 7 forces several merged groups at sf0.001 so the halo
    // path genuinely exercises the boundary frames
    val fast = graft.api.Overlap.rollingRows(overlapEvents,
        unix_micros(col("ts").cast("timestamp")),
        Seq(col("ts"), col("event_id")), before = 2, after = 2,
        buckets = 7)(w0 => {
      val w = w0.rowsBetween(-2, 2)
      Seq((sum(dec(col("value"))).over(w).cast("double") /
        count(lit(1)).over(w)).as("m"))
    }).select(col("event_id"), col("m"))
    val out = fast.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.size == naive.size)
    // bit-exact: the halo plan computes the SAME frames
    naive.foreach { case (id, v) =>
      assert(java.lang.Double.doubleToLongBits(out(id)) ==
        java.lang.Double.doubleToLongBits(v), s"event $id: ${out(id)} != $v")
    }
    val wins = collectWindows(fast)
    assert(wins.nonEmpty)
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "an un-partitioned WindowExec reached the data path")
  }

  test("Overlap AUTO bucket sizing (buckets = 0, the default): bounded " +
      "group sizes at any scale, full parallelism on small corpora, " +
      "bit-identical output to an explicit bucket count") {
    val p = spark.sparkContext.defaultParallelism.toLong
    // the arithmetic, across regimes the fixture can't reach:
    // small corpus → parallelism floor; huge corpus → ~4M-row groups;
    // absurd corpus → the MaxAutoBuckets ceiling bounds the driver walk
    assert(graft.api.Overlap.resolveBuckets(spark, 0, 100000L, 1L)
      == 2L * p)
    val target = 4L * 1024 * 1024
    val huge = 1000L * 1000 * 1000 * 100 // 10^11 rows
    assert(graft.api.Overlap.resolveBuckets(spark, 0, huge, 1L)
      == math.max(2L * p, huge / target + 1), "group size must stay " +
        "~AutoTargetRows instead of growing with the corpus")
    assert(graft.api.Overlap.resolveBuckets(spark, 0, Long.MaxValue / 2, 1L)
      == (1 << 20), "the counts-walk collect must stay bounded")
    // an explicit count still wins
    assert(graft.api.Overlap.resolveBuckets(spark, 64, huge, 1L) == 64)
    // a halo wider than the target keeps groups mergeable
    assert(graft.api.Overlap.resolveBuckets(spark, 0, huge,
      8L * 1024 * 1024) == huge / (16L * 1024 * 1024) + 1)
    // end-to-end: the default (auto) spelling groups in parallel and
    // matches the explicit-bucket result bit-for-bit
    val (gAuto, nAuto, _) = graft.api.Overlap.assignGroups(overlapEvents,
      unix_micros(col("ts").cast("timestamp")),
      Seq(col("ts"), col("event_id")), 0, 2)
    assert(nAuto > 1, "auto sizing degenerated to one group")
    assert(gAuto.groupBy("__ovl_grp").count().collect()
      .forall(_.getLong(1) >= 2), "a group under minRows escaped the walk")
    import graft.util.Det.dec
    def m3(buckets: Int) = graft.api.Overlap.rollingRows(overlapEvents,
        unix_micros(col("ts").cast("timestamp")),
        Seq(col("ts"), col("event_id")), before = 2, after = 0,
        buckets = buckets)(w0 => {
      val w = w0.rowsBetween(-2, 0)
      Seq((sum(dec(col("value"))).over(w).cast("double") /
        count(lit(1)).over(w)).as("m"))
    }).select(col("event_id"), col("m")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val auto = m3(0); val explicit = m3(7)
    assert(auto.size == explicit.size)
    explicit.foreach { case (id, v) =>
      assert(java.lang.Double.doubleToLongBits(auto(id)) ==
        java.lang.Double.doubleToLongBits(v), s"event $id: auto/explicit")
    }
  }

  test("Overlap.denseRank and Overlap.ntile are bit-identical to the " +
      "naive global windows; data-path windows stay partitioned") {
    import org.apache.spark.sql.expressions.Window
    // dense_rank needs TIES — coarsen ts to the hour so many events
    // share a key; buckets = 9 forces several merged groups
    val hour = expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000")
    val withHour = overlapEvents.withColumn("h", hour)
    val naiveDr = withHour.select(col("event_id"),
        dense_rank().over(Window.orderBy(col("h"))).cast("long").as("dr"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fastDr = graft.api.Overlap.denseRank(withHour, col("h"),
        Seq(col("h")), "dr", buckets = 9)
      .select(col("event_id"), col("dr"))
    val gotDr = fastDr.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDr == naiveDr, "denseRank diverged from the naive window")
    // the only un-partitioned WindowExec must sit on the totals frame
    // (tiny); the event-sized dense_rank is group-partitioned
    assert(collectWindows(fastDr).exists(_.partitionSpec.nonEmpty),
      "expected a group-partitioned data-path window")

    val naiveNt = overlapEvents.select(col("event_id"),
        ntile(7).over(Window.orderBy(col("ts"), col("event_id")))
          .as("t")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val gotNt = graft.api.Overlap.ntile(overlapEvents,
        unix_micros(col("ts").cast("timestamp")),
        Seq(col("ts"), col("event_id")), n = 7, "t", buckets = 9)
      .select(col("event_id"), col("t"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(gotNt == naiveNt, "ntile diverged from the naive window")

    // constant-key input: the rank-bucket tie-split keeps both forms
    // exact with >1 group
    val const = overlapEvents.withColumn("k", lit(5L))
    val drConst = graft.api.Overlap.denseRank(const, col("k"),
        Seq(col("k")), "dr", buckets = 9)
      .select(col("dr")).distinct().collect().map(_.getLong(0)).toSeq
    assert(drConst == Seq(1L), s"constant key must rank 1 everywhere: " +
      s"$drConst")
  }

  test("Overlap.rankGlobal matches the naive RANK/PERCENT_RANK/CUME_DIST " +
      "windows bit-for-bit, ties included") {
    import org.apache.spark.sql.expressions.Window
    val hour = expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000")
    val withHour = overlapEvents.withColumn("h", hour)
    val nw = Window.orderBy(col("h"))
    val naive = withHour.select(col("event_id"),
        rank().over(nw).cast("long").as("r"),
        percent_rank().over(nw).as("p"),
        cume_dist().over(nw).as("c")).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2),
        x.getDouble(3)))).toMap
    val got = graft.api.Overlap.rankGlobal(withHour, col("h"),
        "r", "p", "c", buckets = 9)
      .select(col("event_id"), col("r"), col("p"), col("c"))
      .collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getDouble(2),
        x.getDouble(3)))).toMap
    assert(got.size == naive.size)
    naive.foreach { case (id, (r, p, c)) =>
      val (gr, gp, gc) = got(id)
      assert(gr == r && java.lang.Double.doubleToLongBits(gp) ==
          java.lang.Double.doubleToLongBits(p) &&
        java.lang.Double.doubleToLongBits(gc) ==
          java.lang.Double.doubleToLongBits(c),
        s"event $id: ($gr,$gp,$gc) != ($r,$p,$c)")
    }
    // single-row frame: percent_rank's total=1 guard (naive emits 0.0)
    val one = Seq((1L, 7L)).toDF("event_id", "k")
    val g1 = graft.api.Overlap.rankGlobal(one, col("k"), "r", "p", "c")
      .select("r", "p", "c").collect()(0)
    assert(g1.getLong(0) == 1L && g1.getDouble(1) == 0.0 &&
      g1.getDouble(2) == 1.0, s"single-row: $g1")
  }

  test("Overlap.rollingRows lag/lead frames match naive shift at every " +
      "group boundary") {
    import org.apache.spark.sql.expressions.Window
    val naiveW = Window.orderBy(col("ts"), col("event_id"))
    val naive = overlapEvents.select(col("event_id"),
        lag(col("value"), 1).over(naiveW).as("p"),
        lead(col("value"), 1).over(naiveW).as("n")).collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(1)), Option(r.get(2)))).toMap
    val out = graft.api.Overlap.rollingRows(overlapEvents,
        unix_micros(col("ts").cast("timestamp")),
        Seq(col("ts"), col("event_id")), before = 1, after = 1,
        buckets = 11)(w0 => Seq(
          first(col("value")).over(w0.rowsBetween(-1, -1)).as("p"),
          first(col("value")).over(w0.rowsBetween(1, 1)).as("n")))
      .select(col("event_id"), col("p"), col("n")).collect()
      .map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out == naive)
  }

  test("Overlap.runningSum equals the naive global cumsum; the only " +
      "un-partitioned window runs over the group-totals frame") {
    import org.apache.spark.sql.expressions.Window
    import graft.util.Det.dec
    val naiveW = Window.orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = overlapEvents.select(col("event_id"),
        sum(dec(col("value"))).over(naiveW).cast("double").as("rt"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fast = graft.api.Overlap.runningSum(overlapEvents,
        unix_micros(col("ts").cast("timestamp")),
        Seq(col("ts"), col("event_id")), dec(col("value")), "rt",
        buckets = 7)
      .select(col("event_id"), col("rt").cast("double").as("rt"))
    val out = fast.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == naive) // decimal accumulation ⇒ exact equality
    val (unpart, part) = collectWindows(fast).partition(_.partitionSpec.isEmpty)
    assert(part.nonEmpty, "the data-path running sum must be partitioned")
    assert(unpart.size <= 1 &&
      unpart.forall(_.child.toString.contains("HashAggregate")),
      "un-partitioned window must sit only above the group-totals aggregate")
  }

  test("Overlap.rollingRange is bit-identical to the naive global range " +
      "window and plans zero un-partitioned WindowExec nodes") {
    import org.apache.spark.sql.expressions.Window
    import graft.util.Det.dec
    val ev = overlapEvents
      .withColumn("us", unix_micros(col("ts").cast("timestamp")))
    val range = 3600L * 1000000L // trailing hour
    val naiveW = Window.orderBy(col("us")).rangeBetween(-range, 0)
    val naive = ev.select(col("event_id"),
        sum(dec(col("value"))).over(naiveW).cast("double").as("h"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fast = graft.api.Overlap.rollingRange(ev, col("us"), range, 0L,
        buckets = 7)(w =>
      Seq(sum(dec(col("value"))).over(w).cast("double").as("h")))
      .select(col("event_id"), col("h"))
    val out = fast.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out == naive) // decimal sums ⇒ exact equality
    val wins = collectWindows(fast)
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty))
  }

  test("Overlap degenerate inputs: empty frame and constant bucket key") {
    import graft.util.Det.dec
    val empty = overlapEvents.filter(lit(false))
    assert(graft.api.Overlap.rollingRows(empty,
      unix_micros(col("ts").cast("timestamp")),
      Seq(col("ts"), col("event_id")), 2, 2)(w0 =>
        Seq(count(lit(1)).over(w0.rowsBetween(-2, 2)).as("c")))
      .count() == 0)
    assert(graft.api.Overlap.runningSum(empty,
      unix_micros(col("ts").cast("timestamp")),
      Seq(col("ts"), col("event_id")), dec(col("value")), "rt")
      .count() == 0)
    // constant key ⇒ rank-bucket tie-split (r11); still correct
    val const = graft.api.Overlap.rollingRows(overlapEvents.limit(10),
        lit(0), Seq(col("event_id")), 1, 0)(w0 =>
      Seq(count(lit(1)).over(w0.rowsBetween(-1, 0)).as("c")))
      .select(col("event_id"), col("c")).collect()
    assert(const.length == 10 && const.map(_.getLong(1)).sum == 19)
  }

  test("Overlap salted tie-split (r11): a constant bucket key splits " +
      "into >1 rank group, bit-identical to the naive global window") {
    import org.apache.spark.sql.expressions.Window
    import graft.util.Det.dec
    // the fallback itself: the value-range walk collapses on lit(0),
    // rank buckets over the total order take over
    val (_, groups, _) = graft.api.Overlap.assignGroups(overlapEvents,
      lit(0), Seq(col("ts"), col("event_id")), 16, 3)
    assert(groups > 1,
      s"tie-split fallback did not engage (groups=$groups)")
    val naiveW = Window.orderBy(col("ts"), col("event_id"))
      .rowsBetween(-2, 2)
    val naive = overlapEvents.select(col("event_id"),
        (sum(dec(col("value"))).over(naiveW).cast("double") /
          count(lit(1)).over(naiveW)).as("m")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fast = graft.api.Overlap.rollingRows(overlapEvents, lit(0),
        Seq(col("ts"), col("event_id")), before = 2, after = 2,
        buckets = 16)(w0 => {
      val w = w0.rowsBetween(-2, 2)
      Seq((sum(dec(col("value"))).over(w).cast("double") /
        count(lit(1)).over(w)).as("m"))
    }).select(col("event_id"), col("m")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fast.size == naive.size)
    naive.foreach { case (id, v) =>
      assert(java.lang.Double.doubleToLongBits(fast(id)) ==
        java.lang.Double.doubleToLongBits(v), s"event $id: ${fast(id)} != $v")
    }
  }

  test("Overlap.mapOverlap (r11) equals the single-partition spelling " +
      "of the same kernel; halo outputs are dropped") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val sch = StructType(Seq(StructField("event_id", LongType),
      StructField("s3", DoubleType)))
    // centered 3-point mean, edge-truncated — same index walk both paths
    def kernel(rows: Seq[Row]): Seq[Row] = rows.indices.map { i =>
      val lo = math.max(0, i - 1); val hi = math.min(rows.length - 1, i + 1)
      val vs = (lo to hi).map(j => rows(j).getDouble(2))
      Row(rows(i).getLong(0), vs.sum / vs.length)
    }
    val fast = graft.api.Overlap.mapOverlap(overlapEvents,
        unix_micros(col("ts").cast("timestamp")),
        Seq(col("ts"), col("event_id")), before = 1, after = 1,
        sch, buckets = 9)(kernel)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val naive = kernel(overlapEvents.orderBy("ts", "event_id").collect()
        .toSeq)
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fast.size == naive.size) // exactly one output per REAL row
    naive.foreach { case (id, v) =>
      assert(java.lang.Double.doubleToLongBits(fast(id)) ==
        java.lang.Double.doubleToLongBits(v), s"event $id: ${fast(id)} != $v")
    }
  }

  test("Overlap.mapOverlap works through the tie-split path too " +
      "(constant bucket key, arbitrary kernel)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sch = StructType(Seq(StructField("event_id", LongType),
      StructField("prev_id", LongType)))
    def kernel(rows: Seq[Row]): Seq[Row] = rows.indices.map { i =>
      Row(rows(i).getLong(0),
        if (i > 0) rows(i - 1).getLong(0) else -1L)
    }
    val out = graft.api.Overlap.mapOverlap(overlapEvents, lit(0),
        Seq(col("ts"), col("event_id")), before = 1, after = 0,
        sch, buckets = 8)(kernel)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ordered = overlapEvents.orderBy("ts", "event_id")
      .select("event_id").collect().map(_.getLong(0))
    assert(out.size == ordered.length)
    ordered.indices.foreach { i =>
      val want = if (i > 0) ordered(i - 1) else -1L
      assert(out(ordered(i)) == want)
    }
  }

  test("Overlap fail-fast guards (r11): null keys, over-wide frames, " +
      "range/unbounded frames, lag beyond halo, trim contract") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val nullKey = when(col("event_id") % 100 === 0, lit(null))
      .otherwise(col("event_id")).cast("double")
    // null bucket key → clear require at plan construction
    val eNull = intercept[IllegalArgumentException] {
      graft.api.Overlap.rollingRows(overlapEvents, nullKey,
        Seq(col("ts"), col("event_id")), 1, 1)(w0 =>
        Seq(count(lit(1)).over(w0.rowsBetween(-1, 1)).as("c")))
    }
    assert(eNull.getMessage.contains("NULL"))
    val eNullR = intercept[IllegalArgumentException] {
      graft.api.Overlap.rollingRange(overlapEvents, nullKey, 10L, 0L)(
        w => Seq(count(lit(1)).over(w).as("c")))
    }
    assert(eNullR.getMessage.contains("NULL"))
    // frame wider than the replicated halo → static reject
    val eWide = intercept[IllegalArgumentException] {
      graft.api.Overlap.rollingRows(overlapEvents,
        unix_micros(col("ts").cast("timestamp")),
        Seq(col("ts"), col("event_id")), 1, 1)(w0 =>
        Seq(count(lit(1)).over(w0.rowsBetween(-2, 2)).as("c")))
    }
    assert(eWide.getMessage.contains("exceeds the replicated halo"))
    // range frame in the ROWS engine → routed to rollingRange
    val eRange = intercept[IllegalArgumentException] {
      graft.api.Overlap.rollingRows(overlapEvents,
        unix_micros(col("ts").cast("timestamp")),
        Seq(col("ts"), col("event_id")), 1, 1)(w0 =>
        Seq(count(lit(1)).over(w0.rangeBetween(-5, 5)).as("c")))
    }
    assert(eRange.getMessage.contains("rollingRange"))
    // default (unbounded) frame → reject with the runningSum pointer
    val eUnb = intercept[IllegalArgumentException] {
      graft.api.Overlap.rollingRows(overlapEvents,
        unix_micros(col("ts").cast("timestamp")),
        Seq(col("ts"), col("event_id")), 1, 1)(w0 =>
        Seq(sum(col("value")).over(w0).as("s")))
    }
    assert(eUnb.getMessage.contains("unbounded"))
    // lag offset beyond the halo → static reject; within → accepted and
    // CORRECT (matches the naive global shift)
    val eLag = intercept[IllegalArgumentException] {
      graft.api.Overlap.rollingRows(overlapEvents,
        unix_micros(col("ts").cast("timestamp")),
        Seq(col("ts"), col("event_id")), 2, 0)(w0 =>
        Seq(lag(col("value"), 3).over(w0).as("p")))
    }
    assert(eLag.getMessage.contains("lag(3)"))
    val lagOk = graft.api.Overlap.rollingRows(overlapEvents,
        unix_micros(col("ts").cast("timestamp")),
        Seq(col("ts"), col("event_id")), 1, 0, buckets = 7)(w0 =>
      Seq(lag(col("value"), 1).over(w0).as("p")))
      .select(col("event_id"), col("p")).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val naiveLag = {
      import org.apache.spark.sql.expressions.Window
      overlapEvents.select(col("event_id"),
          lag(col("value"), 1).over(
            Window.orderBy(col("ts"), col("event_id"))).as("p"))
        .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    }
    assert(lagOk == naiveLag)
    // mapOverlap trim contract: fn must return one row per input row
    val sch = StructType(Seq(StructField("event_id", LongType)))
    val eTrim = intercept[Exception] {
      graft.api.Overlap.mapOverlap(overlapEvents,
        unix_micros(col("ts").cast("timestamp")),
        Seq(col("ts"), col("event_id")), 1, 1, sch, buckets = 7)(
        rows => rows.drop(1).map(r => Row(r.getLong(0)))).collect()
    }
    assert(eTrim.getMessage.contains("one row per input row") ||
      Option(eTrim.getCause).exists(
        _.getMessage.contains("one row per input row")))
  }

  test("Overlap.mapOverlap group-size fail-fast (r12 verdict #4): an " +
      "oversized group raises a steer at plan time, not an executor OOM") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sch = StructType(Seq(StructField("event_id", LongType)))
    // end-to-end: the fixture under a tiny maxGroupRows — the guard fires
    // driver-side off the merge walk's counts, before any task runs
    val eBig = intercept[IllegalArgumentException] {
      graft.api.Overlap.mapOverlap(overlapEvents,
        unix_micros(col("ts").cast("timestamp")),
        Seq(col("ts"), col("event_id")), 1, 1, sch, buckets = 4,
        maxGroupRows = 10L)(rows => rows.map(r => Row(r.getLong(0))))
    }
    assert(eBig.getMessage.contains("must fit one task's memory") &&
      eBig.getMessage.contains("maxGroupRows=10"),
      eBig.getMessage)
    // the message names the offending GROUP and its row count, and the
    // halo accounting matches haloUnion: the LAST group receives only
    // the predecessor's `before` trailing rows (group 1 of sizes
    // [5, 20] with before=2 carries +2, crossing a 21-row cap; group 0
    // carries only after=1)
    val eUnit = intercept[IllegalArgumentException] {
      graft.api.Overlap.checkGroupSizes(Array(5L, 20L), 2, 1, 21L)
    }
    assert(eUnit.getMessage.contains("group 1 holds 20 rows (+2 halo)"),
      eUnit.getMessage)
    // in-bounds sizes pass untouched
    graft.api.Overlap.checkGroupSizes(Array(5L, 20L), 2, 1, 22L)
    // a SINGLE-group plan replicates no halo (haloUnion is skipped), so
    // exactly-at-cap passes even with wide before/after
    graft.api.Overlap.checkGroupSizes(Array(20L), 5, 5, 20L)
    // and the default cap admits the fixture end-to-end (no behavior
    // change for every existing caller)
    val ok = graft.api.Overlap.mapOverlap(overlapEvents,
        unix_micros(col("ts").cast("timestamp")),
        Seq(col("ts"), col("event_id")), 1, 1, sch, buckets = 4)(
      rows => rows.map(r => Row(r.getLong(0))))
    assert(ok.count() == overlapEvents.count())
  }
}
