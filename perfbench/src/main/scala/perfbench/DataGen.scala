package perfbench

import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic generator for the fixture tables the keys read
  * (`graft.util.Tables.all`), with the schemas and value domains of the
  * fixture tables in FIXTURES.md. Every table is drawn from its own
  * fixed-seed SplittableRandom on the driver and written as one parquet
  * file, so the same arguments give byte-identical inputs on every host. That is what
  * lets `digests.tsv` pin key outputs: the workload seed orders and
  * splits work over these tables, it never changes them.
  *
  * Sizes: the TPC-H-style tables scale with `sf` (sf 1 = 6 M lineitem
  * rows); `documents` and `embeddings` are sized separately because the
  * curation keys are priced by corpus size, not by the TPC-H scale.
  */
object DataGen {
  final case class Sizes(sf: Double, docs: Int, vecs: Int)

  private val Regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val TypeClasses = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Adjectives = Seq("large", "hot", "blue", "small", "red", "green", "cold", "bright")
  private val Nouns = Seq("ring", "bolt", "gear", "pipe", "valve", "spring", "plate", "screw")
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")
  private val Langs = Seq("en", "en", "en", "de", "es", "fr", "zh")
  private val Vocab = ("part column order scan a slow agg key window table merge vector " +
    "join batch sort value hash filter big data dup spark line small fast group customer " +
    "query row stream the").split(" ").toIndexedSeq
  private val Dim = 64

  def write(spark: SparkSession, dir: String, s: Sizes): Unit = {
    def n(base: Int) = math.max(1, math.round(base * s.sf).toInt)
    val nSupp = n(10000); val nCust = n(150000); val nPart = n(200000)
    val nOrders = n(1500000); val nLines = n(6000000); val nEvents = n(1000000)
    val nUsers = math.max(1, nEvents / 66)

    def money(r: SplittableRandom, lo: Double, hi: Double) =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(r: SplittableRandom, from: LocalDateTime, days: Int) =
      from.plusDays(r.nextInt(days).toLong)
    def pick[T](r: SplittableRandom, xs: Seq[T]) = xs(r.nextInt(xs.size))

    def save(name: String, schema: StructType, count: Int, seed: Long)(
        row: (Int, SplittableRandom) => Row): Unit = {
      val r = new SplittableRandom(seed)
      val rows = (0 until count).map(i => row(i, r))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    def st(fields: (String, DataType)*) =
      StructType(fields.map { case (f, t) => StructField(f, t, nullable = false) })

    save("region", st("r_regionkey" -> IntegerType, "r_name" -> StringType), 5, 1) {
      (i, _) => Row(i, Regions(i))
    }
    save("nation", st("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), 25, 2) {
      (i, _) => Row(i, s"NATION_$i", i % 5)
    }
    save("supplier", st("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), nSupp, 3) {
      (i, r) => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))
    }
    save("customer", st("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), nCust, 4) {
      (i, r) => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(r, -999.99, 9999.99), pick(r, Segments))
    }
    save("part", st("p_partkey" -> LongType, "p_name" -> StringType,
        "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
        "p_retailprice" -> DoubleType), nPart, 5) {
      (i, r) => Row(i.toLong, s"${pick(r, Adjectives)} ${pick(r, Nouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(r, TypeClasses), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)
    }
    val epoch = LocalDateTime.of(1995, 1, 1, 0, 0)
    save("orders", st("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
        "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
        nOrders, 6) {
      (i, r) => Row(i.toLong, r.nextInt(nCust).toLong, pick(r, Seq("F", "O", "P")),
        money(r, 1000, 500000), day(r, epoch, 2404), pick(r, Priorities))
    }
    save("lineitem", st("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
        "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
        "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType,
        "l_shipdate" -> TimestampNTZType), nLines, 7) {
      (_, r) =>
        val qty = (1 + r.nextInt(50)).toDouble
        Row(r.nextInt(nOrders).toLong, r.nextInt(nPart).toLong,
          r.nextInt(nSupp).toLong, 1 + r.nextInt(7), qty,
          math.round(qty * (900 + r.nextDouble() * 1100) * 100) / 100.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")),
          pick(r, Seq("F", "O")), day(r, epoch.plusDays(1), 2498))
    }
    // ascending event time over 30 days, microsecond precision
    val evStart = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepMicros = 30L * 86400L * 1000000L / nEvents
    save("events", st("event_id" -> LongType, "ts" -> TimestampNTZType,
        "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
        "props" -> StringType), nEvents, 8) {
      (i, r) => Row(i.toLong,
        evStart.plusNanos((i * stepMicros + r.nextLong(stepMicros)) * 1000L),
        r.nextInt(nUsers).toLong, pick(r, EventTypes), money(r, 0, 480),
        s"""{"k": ${r.nextInt(100)}}""")
    }
    // word soup of 10-100 words (the fixture range) over the fixture
    // vocabulary; ~4 % of documents are near copies of an earlier one (a
    // few words replaced) and ~0.5 % exact copies, so the dedup keys find
    // real clusters
    val texts = new Array[String](s.docs)
    save("documents", st("doc_id" -> LongType, "text" -> StringType,
        "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
        s.docs, 9) {
      (i, r) =>
        val roll = r.nextInt(1000)
        val text =
          if (i > 10 && roll < 5) texts(r.nextInt(i))
          else if (i > 10 && roll < 45) {
            val ws = texts(r.nextInt(i)).split(" ")
            (0 until math.max(1, ws.length / 20)).foreach(_ =>
              ws(r.nextInt(ws.length)) = pick(r, Vocab))
            ws.mkString(" ")
          } else Seq.fill(10 + r.nextInt(91))(pick(r, Vocab)).mkString(" ")
        texts(i) = text
        Row(i.toLong, text, pick(r, Langs), s"src${i % 20}", text.length.toLong)
    }
    // unit vectors around ten label centres (cosine == dot product)
    val centres = {
      val r = new SplittableRandom(10)
      Array.fill(10)(Array.fill(Dim)(r.nextDouble() * 2 - 1))
    }
    save("embeddings", st("vec_id" -> LongType,
        "embedding" -> ArrayType(FloatType, containsNull = false),
        "label" -> IntegerType), s.vecs, 11) {
      (i, r) =>
        val label = r.nextInt(10)
        val v = centres(label).map(c => c + (r.nextDouble() * 2 - 1) * 0.8)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
  }
}
