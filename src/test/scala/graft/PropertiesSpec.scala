package graft

import org.scalatest.funsuite.AnyFunSuite

/** Property-style checks (SURVEY §5.2.4) of the determinism rules and
  * scalar invariants the oracle pairings rely on — seeded sampling,
  * driver-side only (no Spark jobs), runs in milliseconds. */
class PropertiesSpec extends AnyFunSuite {
  private val rnd = new scala.util.Random(42)
  private def money(): Double =
    math.rint((rnd.nextDouble() - 0.5) * 2e7 * 100) / 100

  test("decimal money sums are order-free (the §7.2.2 rule)") {
    (1 to 200).foreach { _ =>
      val xs = List.fill(50)(money())
      val a = xs.map(BigDecimal(_)).sum
      val b = rnd.shuffle(xs).map(BigDecimal(_)).sum
      assert(a == b)
    }
  }

  test("double sums are NOT order-free — why §7.2.2 exists at all") {
    val xs = List(1e16, 1.1, -1e16, 2.2)
    assert(xs.sum != xs.reverse.sum)
  }

  test("floor ≤ x ≤ ceil, differing by exactly one unless integral") {
    (1 to 1000).foreach { _ =>
      val x = money()
      val f = math.floor(x); val c = math.ceil(x)
      assert(f <= x && x <= c)
      assert(if (f == c) x == f else c - f == 1.0)
    }
  }

  test("isodow pairing: Spark weekday()+1 equals java.time's ISO value") {
    // the actual §7.2.6 pairing rule, checked against an independent
    // implementation (java.time is ISO: Monday=1) on sampled dates
    val spark = SparkFixture.spark
    import spark.implicits._
    val epochs = List.fill(50)(math.abs(rnd.nextLong()) % 4102444800L)
    val fromSpark = epochs.toDF("es")
      .selectExpr("es", "weekday(timestamp_seconds(es)) + 1 AS isodow")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    epochs.foreach { es =>
      val expected = java.time.LocalDateTime
        .ofEpochSecond(es, 0, java.time.ZoneOffset.UTC)
        .getDayOfWeek.getValue
      assert(fromSpark(es) == expected,
        s"epoch $es: spark ${fromSpark(es)} vs java.time $expected")
    }
  }

  test("space-split/concat inverse on space-free tokens") {
    (1 to 500).foreach { _ =>
      val toks = List.fill(1 + rnd.nextInt(20))(
        List.fill(1 + rnd.nextInt(8))(('a' + rnd.nextInt(26)).toChar)
          .mkString)
      assert(toks.mkString(" ").split(" ").toList == toks)
    }
  }

  test("jaccard via sizes equals set-based jaccard") {
    (1 to 500).foreach { _ =>
      val a = List.fill(rnd.nextInt(30))(rnd.nextInt(40)).toSet
      val b = List.fill(1 + rnd.nextInt(30))(rnd.nextInt(40)).toSet
      val inter = a.intersect(b).size.toDouble
      val bySizes = inter / (a.size + b.size - inter)
      val direct = inter / a.union(b).size
      assert(bySizes == direct)
    }
  }

  test("Hamilton quotas (temperatureSample's arithmetic): exact fill " +
      "absent saturation, never over min(budget, corpus), caps respected") {
    // pure-Scala mirror of the √n-share → floor → largest-remainder →
    // per-group cap chain, on random group configurations
    (1 to 500).foreach { _ =>
      val sizes = List.fill(1 + rnd.nextInt(8))(1L + rnd.nextInt(5000))
      val n = sizes.sum
      val budget = 1 + rnd.nextInt(8000)
      val sq = sizes.map(s =>
        BigDecimal(java.math.BigDecimal.valueOf(math.sqrt(s.toDouble)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP))
      val tot = sq.sum
      val share = sq.map(q => q.toDouble / tot.toDouble * budget)
      val base = share.map(math.floor(_).toLong)
      val leftover = budget - base.sum
      assert(leftover >= 0 && leftover <= sizes.length,
        s"leftover $leftover out of [0, ${sizes.length}]")
      val order = share.zip(base).map { case (s, b) => s - b }
        .zipWithIndex.sortBy { case (rem, i) => (-rem, i) }
        .map(_._2).zipWithIndex.toMap
      val take = sizes.indices.map { i =>
        math.min(base(i) + (if (order(i) < leftover) 1L else 0L), sizes(i))
      }
      take.zip(sizes).foreach { case (t, s) =>
        assert(t >= 0 && t <= s, s"take $t out of [0, $s]") }
      val saturated = sizes.indices.exists(i =>
        base(i) + (if (order(i) < leftover) 1L else 0L) > sizes(i))
      assert(take.sum <= math.min(budget.toLong, n),
        s"over-fill: ${take.sum} > min($budget, $n)")
      if (!saturated)
        assert(take.sum == math.min(budget.toLong, n),
          s"under-fill without saturation: ${take.sum} != " +
            s"min($budget, $n) (sizes=$sizes)")
    }
  }

  test("binned-AUC trapezoid equals the Mann–Whitney rank statistic " +
      "with ties split (the llm_quality_auc identity)") {
    // when every distinct score is its own bin, the telescoped integer
    // numerator Σ Δfp·(tp+tp_prev) must equal 2·U where
    // U = Σ_pairs [s_pos > s_neg] + ½[s_pos == s_neg]
    (1 to 100).foreach { _ =>
      val n = 2 + rnd.nextInt(40)
      val scores = List.fill(n)(rnd.nextInt(8).toLong)
      val labels = List.fill(n)(rnd.nextInt(2))
      val pos = scores.zip(labels).collect { case (s, 1) => s }
      val neg = scores.zip(labels).collect { case (s, 0) => s }
      if (pos.nonEmpty && neg.nonEmpty) {
        val twoU = (for (p <- pos; q <- neg) yield
          if (p > q) 2L else if (p == q) 1L else 0L).sum
        // trapezoid walk from the highest score bin down
        val byBin = scores.zip(labels).groupBy(_._1).toSeq
          .sortBy(-_._1)
          .map { case (_, xs) =>
            (xs.count(_._2 == 1).toLong, xs.count(_._2 == 0).toLong) }
        var (tp, fp, tpp, fpp, numer) = (0L, 0L, 0L, 0L, 0L)
        byBin.foreach { case (p, q) =>
          tp += p; fp += q
          numer += (fp - fpp) * (tp + tpp)
          tpp = tp; fpp = fp
        }
        assert(numer == twoU,
          s"trapezoid $numer != 2U $twoU (scores=$scores labels=$labels)")
      }
    }
  }

  test("count-min never underestimates, under any geometry (simulated)") {
    (1 to 50).foreach { _ =>
      val depth = 1 + rnd.nextInt(4); val width = 1 + rnd.nextInt(8)
      val tokens = List.fill(30 + rnd.nextInt(50))(
        s"t${rnd.nextInt(12)}")
      def bucket(r: Int, tok: String): Int = {
        val md = java.security.MessageDigest.getInstance("MD5")
        val h = md.digest(s"cms$r|$tok".getBytes("UTF-8"))
          .take(8).map("%02x".format(_)).mkString.take(15)
        (java.lang.Long.parseLong(h, 16) % width).toInt
      }
      val cells = tokens.flatMap(t => (0 until depth).map(r =>
        (r, bucket(r, t)))).groupBy(identity).map { case (k, v) =>
        k -> v.size.toLong }
      val exact = tokens.groupBy(identity).map { case (t, v) =>
        t -> v.size.toLong }
      exact.foreach { case (t, n) =>
        val est = (0 until depth).map(r =>
          cells.getOrElse((r, bucket(r, t)), 0L)).min
        assert(est >= n, s"underestimate for $t: $est < $n")
      }
    }
  }

  test("every iterative Pin user releases its superseded generations " +
      "(at most the result's pin accretes per call)") {
    val spark = SparkFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.api._
    val sc = spark.sparkContext
    val docs = (0 until 12).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta token$i eta theta " +
        "iota kappa lambda mu"))
      .toDF("doc_id", "text")
    val edges = (Seq((1L, 2L), (2L, 3L), (9L, 7L), (5L, 5L)) ++
      (100L until 108L).map(i => (i, i + 1))).toDF("a", "b")
    // one 3-fragment chain: every joint is a w = 3 overlap
    val frags = Seq((40L, "a1 a2 a3 b1 b2 b3"), (41L, "b1 b2 b3 c1 c2 c3"),
      (42L, "c1 c2 c3 d1 d2 d3")).toDF("fid", "tx")
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 24L)
      .map(i => (i, Seq.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("id", "v")
    val feats = Corpus.hashFeatures(docs, col("doc_id"), col("text"))
    val labels = docs.select(col("doc_id"),
      (col("doc_id") % 2).cast("int").as("y"))
    val vocab = Bpe.wordFreq(docs, col("text"))
      .select(Bpe.wrapChars(col("word")).as("sym"), col("w_n"))
    // each row forces its rounds (localFinishEdges = 0, epochs > 2, …)
    // and materializes whatever it returns
    val users: Seq[(String, () => Unit)] = Seq(
      "clusters" -> (() => TextDedup.clusters(edges, col("a"), col("b"),
        localFinishEdges = 0L).count()),
      "clustersStar" -> (() => TextDedup.clustersStar(edges, col("a"),
        col("b"), localFinishEdges = 0L).count()),
      "stitchChains" -> (() => TextDedup.stitchChains(frags, col("fid"),
        col("tx"), w = 3).count()),
      "stitchApply" -> (() => TextDedup.stitchApply(frags, col("fid"),
        col("tx"), w = 3).count()),
      "winnowCandidates" -> (() => TextDedup.winnowCandidates(docs,
        col("doc_id"), col("text")).count()),
      "kMeansFit" -> (() => Similarity.kMeansFit(vecs, col("id"), col("v"),
        k = 3, iters = 3).count()),
      "pqTrainCodebook" -> (() => Similarity.pqTrainCodebook(vecs,
        col("id"), col("v"), m = 2, subDim = 4, k = 4, iters = 3).count()),
      "Quality.train" -> (() => Quality.train(feats, labels,
        epochs = 4).count()),
      "Quality.crossValidate" -> (() => Quality.crossValidate(feats, labels,
        folds = 2, epochs = 3).count()),
      "Quality.labelNoiseAudit" -> (() => Quality.labelNoiseAudit(feats,
        labels, epochs = 3).count()),
      "Bpe.trainFromVocab" -> (() => Bpe.trainFromVocab(vocab, 9)),
      "Wordpiece.trainFromVocab" -> (() =>
        Wordpiece.trainFromVocab(vocab, 4)),
      "Unigram.train" -> (() => Unigram.train(docs, col("text"),
        3).count()),
      "SuffixArray.windowClasses" -> (() => SuffixArray.duplicateSpans(
        docs.union(docs.select(col("doc_id") + 100, col("text"))),
        col("doc_id"), col("text"), minLen = 8).count()))
    val leaks = users.flatMap { case (name, call) =>
      // start from a drained context so counts are exact
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      assert(sc.getPersistentRDDs.isEmpty)
      // AT MOST one new persisted RDD per call — the result's pin; a
      // leaked generation or input shows more. "At most" because the
      // ContextCleaner may GC-unpersist earlier calls' discarded result
      // pins in the meantime — that direction is fine.
      (1 to 3).map { n => call(); n -> sc.getPersistentRDDs.size }
        .collectFirst { case (n, held) if held > n =>
          s"$name after call $n: $held persisted RDDs" }
    }
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    assert(leaks.isEmpty, "superseded pins leaking: " + leaks.mkString("; "))
  }

  /** Every Scala source file under src/main/scala. */
  private def mainSources: Seq[java.io.File] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f) else Seq(f).filter(_.getName
          .endsWith(".scala")))
    files(root)
  }

  test("every eager materialization in src/main goes through Pin") {
    val banned = Seq(".localCheckpoint(", ".checkpoint(", "checkpointDir")
    val hits = mainSources
      .filterNot(_.getPath.replace('\\', '/')
        .endsWith("graft/util/Pin.scala"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().zipWithIndex.collect {
          case (line, i) if banned.exists(line.contains) =>
            s"${f.getPath}:${i + 1}: ${line.trim}"
        }.toList
        finally src.close()
      }
    assert(hits.isEmpty, "pin outside graft.util.Pin:\n" +
      hits.mkString("\n"))
  }

  test("every index param sidecar and staged commit in src/main goes " +
      "through Store") {
    // Streaming's twin state keeps its own retained-.bak swap, so it
    // may rename; nothing else stages, renames or reads params itself
    val words = Seq("fs.rename", "\"__next\"", "params.txt")
    val allowed = Map("graft/util/Store.scala" -> words,
      "graft/ops/Streaming.scala" -> Seq("fs.rename"))
    val hits = mainSources.flatMap { f =>
      val path = f.getPath.replace('\\', '/')
      val banned = words.diff(allowed.collectFirst {
        case (suffix, ok) if path.endsWith(suffix) => ok
      }.getOrElse(Nil))
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().zipWithIndex.collect {
        case (line, i) if banned.exists(line.contains) =>
          s"${f.getPath}:${i + 1}: ${line.trim}"
      }.toList
      finally src.close()
    }
    assert(hits.isEmpty, "index storage outside graft.util.Store:\n" +
      hits.mkString("\n"))
  }

  test("every distinct word-shingle array in src/main goes through " +
      "VectorExprs.wordShingles") {
    // the interpreted chain array_distinct(transform(sequence(…),
    // i => concat_ws(" ", slice(tk, i, w)))) walks a lambda tree per
    // shingle; matched over the code lines (comment lines dropped) with
    // whitespace removed, so a chain split over lines is caught too
    val chain = """array_distinct\(transform\(sequence\([^=]*=>concat_ws\(""".r
    val comment = Seq("*", "/*", "//")
    val hits = mainSources.filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try chain.findFirstIn(src.getLines()
          .filterNot(l => comment.exists(l.trim.startsWith))
          .mkString.filterNot(_.isWhitespace)).isDefined
      finally src.close()
    }
    assert(hits.isEmpty, "interpreted shingle chain in:\n" +
      hits.map(_.getPath).mkString("\n"))
  }

  test("Similarity ranks and drops self-matches in one place") {
    // every top-k entry point composes from one scoring-and-ranking
    // tail; a re-spelled sim_r rank window or self-exclusion is a second
    // ranking policy. Matched over the code lines (comment lines
    // dropped) with whitespace removed, as the shingle guard above
    val f = new java.io.File("src/main/scala/graft/api/Similarity.scala")
    val comment = Seq("*", "/*", "//")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val code =
      try src.getLines().filterNot(l => comment.exists(l.trim.startsWith))
        .mkString.filterNot(_.isWhitespace)
      finally src.close()
    val rankWindow =
      """orderBy\((col\("sim_r"\)\.desc|desc\("sim_r"\)|\$"sim_r"\.desc)""".r
    assert(rankWindow.findAllIn(code).size == 1,
      "Similarity.scala must hold exactly one sim_r rank window")
    assert("""if\(excludeSelf\)""".r.findAllIn(code).size == 1,
      "Similarity.scala must hold exactly one `if (excludeSelf)`")
  }

  test("the manifest checksum is permutation-invariant and moves on any " +
      "single-row tamper") {
    (1 to 100).foreach { _ =>
      val ids = List.fill(5 + rnd.nextInt(40))(rnd.nextLong() % 100000)
      def h(id: Long): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
        java.lang.Long.parseLong(md.digest(s"man|$id".getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString, 16)
      }
      val c1 = ids.map(h).sum
      assert(rnd.shuffle(ids).map(h).sum == c1, "order must not matter")
      assert(ids.tail.map(h).sum != c1 || h(ids.head) == 0,
        "dropping a row must move the sum (unless its hash is 0)")
      assert((ids.head :: ids).map(h).sum != c1 || h(ids.head) == 0,
        "duplicating a row must move the sum (unless its hash is 0)")
    }
  }

  test("Overlap.rollingRows equals the naive global window on random " +
      "frames across random frame bounds and bucket counts") {
    // randomized equivalence sweep of the bucket+halo engine: heavy
    // duplicate keys (ties), clustered values (hot buckets after the
    // range split), frame bounds 0..4, bucket counts that force many
    // merged groups — every combination must reproduce the naive
    // single-partition result EXACTLY (integer sums: no float slack)
    val spark = SparkFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    (1 to 4).foreach { trial =>
      val n = 60 + rnd.nextInt(120)
      val rows = (0 until n).map { i =>
        // keys cluster into few distinct values → ties + hot buckets
        (i.toLong, (rnd.nextInt(12) * 97).toLong, rnd.nextInt(1000).toLong)
      }
      val df = rows.toDF("id", "k", "v")
      val before = rnd.nextInt(5); val after = rnd.nextInt(5)
      val buckets = 2 + rnd.nextInt(9)
      val naiveW = Window.orderBy(col("k"), col("id"))
        .rowsBetween(-before, after)
      val naive = df.select(col("id"),
          sum(col("v")).over(naiveW).as("s"),
          count(lit(1)).over(naiveW).as("c"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      val fast = graft.api.Overlap.rollingRows(df, col("k"),
          Seq(col("k"), col("id")), before, after, buckets)(w0 => {
        val w = w0.rowsBetween(-before, after)
        Seq(sum(col("v")).over(w).as("s"), count(lit(1)).over(w).as("c"))
      }).select(col("id"), col("s"), col("c"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        .toMap
      assert(fast == naive,
        s"trial $trial (n=$n before=$before after=$after buckets=$buckets)")
    }
  }

  test("Overlap rank family (denseRank/ntile/rankGlobal/runningSum) " +
      "equals the naive global windows on random tie-heavy frames") {
    val spark = SparkFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    (1 to 4).foreach { trial =>
      val n = 50 + rnd.nextInt(100)
      val rows = (0 until n).map { i =>
        (i.toLong, (rnd.nextInt(9) * 13).toLong, (rnd.nextInt(500) + 1).toLong)
      }
      val df = rows.toDF("id", "k", "v")
      val buckets = 2 + rnd.nextInt(9)
      val tiles = 2 + rnd.nextInt(7)
      val nwTies = Window.orderBy(col("k"))
      val nwTotal = Window.orderBy(col("k"), col("id"))
      val naive = df.select(col("id"),
          dense_rank().over(nwTies).cast("long").as("dr"),
          rank().over(nwTies).cast("long").as("r"),
          percent_rank().over(nwTies).as("p"),
          cume_dist().over(nwTies).as("c"),
          ntile(tiles).over(nwTotal).as("t"),
          sum(col("v")).over(nwTotal.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)).as("cs"))
        .collect().map(x => x.getLong(0) -> x.toSeq.tail).toMap
      val dr = graft.api.Overlap.denseRank(df, col("k"), Seq(col("k")),
        "dr", buckets).select("id", "dr")
      val rg = graft.api.Overlap.rankGlobal(df, col("k"), "r", "p", "c",
        buckets).select("id", "r", "p", "c")
      val nt = graft.api.Overlap.ntile(df, col("k"),
        Seq(col("k"), col("id")), tiles, "t", buckets).select("id", "t")
      val cs = graft.api.Overlap.runningSum(df, col("k"),
        Seq(col("k"), col("id")), col("v"), "cs", buckets)
        .select("id", "cs")
      val got = dr.join(rg, "id").join(nt, "id").join(cs, "id")
        .select("id", "dr", "r", "p", "c", "t", "cs")
        .collect().map(x => x.getLong(0) -> x.toSeq.tail).toMap
      assert(got == naive,
        s"trial $trial (n=$n buckets=$buckets tiles=$tiles)")
    }
  }

  test("Layout.zorder16 matches a pure-Scala Morton reference and " +
      "actually buys 2-D locality (both spans shrink per z-bucket)") {
    val spark = SparkFixture.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def mortonRef(a: Int, b: Int): Long = {
      var z = 0L
      (0 until 16).foreach { i =>
        z |= ((a >> i) & 1).toLong << (2 * i)
        z |= ((b >> i) & 1).toLong << (2 * i + 1)
      }
      z
    }
    val pts = (1 to 400).map(_ =>
      (rnd.nextInt(65536), rnd.nextInt(65536)))
    val df = pts.toDF("a", "b")
      .withColumn("z", graft.api.Layout.zorder16(col("a"), col("b")))
    val got = df.collect().map(r =>
      (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    pts.foreach { case (a, b) =>
      assert(got((a, b)) == mortonRef(a, b),
        s"z($a,$b)=${got((a, b))} != ref ${mortonRef(a, b)}")
    }
    // locality: within a z-bucket (top 6 z bits), BOTH dimensions' spans
    // are bounded by construction (each dim contributes 3 of the top 6
    // bits → span ≤ 2^13 per bucket vs the 2^16 global span)
    val spans = df.groupBy(expr("z DIV 67108864"))
      .agg((max(col("a")) - min(col("a"))).as("sa"),
        (max(col("b")) - min(col("b"))).as("sb"))
      .collect()
    spans.foreach { r =>
      assert(r.getInt(1) < 8192 && r.getInt(2) < 8192,
        s"z-bucket spans exceed the 2^13 bound: $r")
    }
  }
}
