package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Det._
import graft.util.Tables._
import graft.pipeline._

/** SURVEY.md §2.I — preprocessing nodes, expressed through the
  * fit/transform Pipeline API in `graft.pipeline` (the reference library's
  * actual identity: sklearn-style nodes over dataframes).
  *
  * Every declared query builds a Pipeline, fits it, and applies it. The
  * fit runs during key construction, one job per stateful node, and holds
  * each node's statistics as rows; the returned plan applies them as
  * broadcast joins and scans its input once. The only driver-side collect
  * is of those statistics: model-sized (a few rows, or one per category),
  * and already bounded by the broadcast every transform does with them
  * (100 TB rule, SURVEY §7.3.5).
  *
  * The fixtures contain no NULLs (FIXTURES.md), so the NA-handling keys
  * first inject NULLs with a deterministic predicate and then repair them —
  * which conveniently makes the fit+transform round trip self-contained and
  * oracle-able.
  */
object Preprocess {

  private val segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val typeClasses =
    Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")

  /** negative balances → NULL (deterministic NULL injection) */
  private val nullNegBal = StatelessNode("null_neg_bal")(df =>
    df.withColumn("c_acctbal",
      when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal"))))

  /** every 7th event's value → NULL — ONE definition for the three
    * fill/interpolate entries, paired with `event_id % 7 = 0` in their
    * oracles (drift between the copies was the risk) */
  private val nullEvery7 = StatelessNode("null_every7")(df =>
    df.withColumn("value",
      when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value"))))

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-column profiling (the dd.describe audit a pipeline runs on
    // ingestion): total rows, nulls, exact distinct count, min/max —
    // ONE scan: all per-column aggregates run in a single agg (count-
    // distincts share Spark's expand), then the wide row unpivots via
    // an in-row struct explode. min/max stringify so heterogeneous
    // column types share one frame; profiled columns restricted to
    // int/string (double/timestamp reprs are not cross-engine-stable —
    // the verify-notes rule). Fixtures are NULL-free, so two probe rows
    // (negative keys, mirrored in the oracle) exercise the null path.
    "prep_profile" -> ((s, d) => {
      import s.implicits._
      val probes = Seq(
        (-1L, Option.empty[Long], Option.empty[String]),
        (-2L, Option.empty[Long], Option("X")))
        .toDF("l_orderkey", "l_partkey", "l_returnflag")
      val cols = Seq("l_orderkey", "l_partkey", "l_returnflag")
      val base = lineitem(s, d).select(cols.map(col): _*)
        .unionByName(probes)
      val exprs = count(lit(1)).as("__n") +: cols.flatMap(c => Seq(
        count(col(c)).as(s"${c}__nn"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__mn"),
        max(col(c)).cast("string").as(s"${c}__mx")))
      base.agg(exprs.head, exprs.tail: _*)
        .select(explode(array(cols.map(c => struct(
          lit(c).as("col_name"),
          col("__n").as("n_rows"),
          (col("__n") - col(s"${c}__nn")).as("n_null"),
          col(s"${c}__nd").as("n_distinct"),
          col(s"${c}__mn").as("min_s"),
          col(s"${c}__mx").as("max_s"))): _*)).as("__x"))
        .select("__x.*")
        .orderBy("col_name")
    }),

    "prep_fillna_mean" -> ((s, d) => {
      val c = customer(s, d)
      new Pipeline(Seq(nullNegBal, FillNaMean("c_acctbal"))).fit(c)
        .transform(c)
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    }),

    "prep_na_indicator" -> ((s, d) => {
      val c = customer(s, d)
      new Pipeline(Seq(nullNegBal, NaIndicator("c_acctbal"))).fit(c)
        .transform(c)
        .select("c_custkey", "c_acctbal", "c_acctbal_isna")
        .orderBy("c_custkey")
    }),

    "prep_na_category" -> ((s, d) => {
      val nullSeg = StatelessNode("null_seg")(df =>
        df.withColumn("c_mktsegment",
          when(col("c_custkey") % 10 === 0, lit(null))
            .otherwise(col("c_mktsegment"))))
      val c = customer(s, d)
      new Pipeline(Seq(nullSeg, NaCategory("c_mktsegment"))).fit(c)
        .transform(c)
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    }),

    // relative threshold: rare ⟺ < 3.5% of rows — scale-invariant fit
    "prep_robust_categorizer" -> ((s, d) => {
      val p = part(s, d)
      new Pipeline(Seq(RobustCategorizer("p_brand", 0.035))).fit(p)
        .transform(p)
        .select("p_partkey", "p_brand")
        .orderBy("p_partkey")
    }),

    "prep_onehot" -> ((s, d) => {
      val c = customer(s, d)
      new Pipeline(Seq(OneHot("c_mktsegment", segments))).fit(c)
        .transform(c)
        .select("c_custkey",
          segments.map(v => s"c_mktsegment_$v"): _*)
        .orderBy("c_custkey")
    }),

    "prep_label_encode" -> ((s, d) => {
      val c = customer(s, d)
      new Pipeline(Seq(LabelEncoder("c_mktsegment", "segment_code"))).fit(c)
        .transform(c)
        .select("c_custkey", "c_mktsegment", "segment_code")
        .orderBy("c_custkey")
    }),

    "prep_standard_scale" -> ((s, d) => {
      val c = customer(s, d)
      new Pipeline(Seq(StandardScaler("c_acctbal", "acctbal_z"))).fit(c)
        .transform(c)
        .select("c_custkey", "acctbal_z")
        .orderBy("c_custkey")
    }),

    "prep_minmax_scale" -> ((s, d) => {
      val o = orders(s, d)
      new Pipeline(Seq(MinMaxScaler("o_totalprice", "price_mm"))).fit(o)
        .transform(o)
        .select("o_orderkey", "price_mm")
        .orderBy("o_orderkey")
    }),

    // sklearn MaxAbsScaler as a fitted pipeline node: [−1, 1] scaling
    // that preserves zero and sign (no centering) — the sparse-safe
    // scaler; c_acctbal's negative balances exercise the sign path
    "prep_maxabs_scale" -> ((s, d) => {
      val c = customer(s, d)
      new Pipeline(Seq(MaxAbsScaler("c_acctbal", "acctbal_ma"))).fit(c)
        .transform(c)
        .select("c_custkey", "acctbal_ma")
        .orderBy("c_custkey")
    }),

    // pandas/dask ffill: last prior non-null per user in event-time order
    "prep_ffill" -> ((s, d) => {
      val nullEvery5 = StatelessNode("null_every5")(df =>
        df.withColumn("value",
          when(col("event_id") % 5 === 0, lit(null))
            .otherwise(col("value"))))
      val ev = events(s, d)
      new Pipeline(Seq(nullEvery5,
          ForwardFill("value", Seq("user_id"), Seq("ts", "event_id"))))
        .fit(ev).transform(ev)
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    }),

    // sklearn RobustScaler: (x − median)/IQR from fitted rounded bounds —
    // completes the scaler family (standard, minmax, clip, robust)
    "prep_robust_scale" -> ((s, d) => {
      val o = orders(s, d)
      new Pipeline(Seq(RobustScaler("o_totalprice", "price_rs")))
        .fit(o).transform(o)
        .select("o_orderkey", "price_rs")
        .orderBy("o_orderkey")
    }),

    // sklearn QuantileTransformer (rank variant): acctbal → its empirical
    // CDF position within the customer's market segment — per-domain
    // uniformization, the feature-prep step before mixing heterogeneous
    // domains. Exact integer-rank arithmetic; no global sort (partitioned).
    "prep_quantile_transform" -> ((s, d) => {
      val c = customer(s, d)
      new Pipeline(Seq(QuantileTransform("c_acctbal", "acctbal_u",
          Seq("c_mktsegment"))))
        .fit(c).transform(c)
        .select("c_custkey", "c_mktsegment", "acctbal_u")
        .orderBy("c_custkey")
    }),

    // pandas/dask bfill: next following non-null per user in event-time
    // order (mirror window of ffill — frame-streaming, one shuffle)
    "prep_bfill" -> ((s, d) => {
      val ev = events(s, d)
      new Pipeline(Seq(nullEvery7,
          BackwardFill("value", Seq("user_id"), Seq("ts", "event_id"))))
        .fit(ev).transform(ev)
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    }),

    // pandas interpolate(method='linear'): interior NULLs on the line
    // between surrounding non-nulls by row position; leading/trailing
    // NULLs fall back to bfill/ffill. One shuffle, two window passes.
    "prep_interpolate" -> ((s, d) => {
      val ev = events(s, d)
      new Pipeline(Seq(nullEvery7,
          LinearInterpolator("value", Seq("user_id"), Seq("ts", "event_id"))))
        .fit(ev).transform(ev)
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    }),

    // pandas interpolate(method='time'): fills weighted by the row's
    // actual timestamp between its non-null neighbors (epoch micros both
    // engines: Spark `ts div 1000` ≡ DuckDB epoch_us of the ns fixture)
    "prep_interpolate_time" -> ((s, d) => {
      val ev = events(s, d)
        .withColumn("eps", unix_micros(col("ts").cast("timestamp")))
      new Pipeline(Seq(nullEvery7,
          TimeInterpolator("value", "eps", Seq("user_id"),
            Seq("ts", "event_id"))))
        .fit(ev).transform(ev)
        .select("event_id", "user_id", "value")
        .orderBy("event_id")
    }),

    // smoothed mean target encoding (fit = one groupBy producing the
    // category table, transform = map-only broadcast join) — the standard
    // tabular-ML categorical encoder, through the Node layer
    "prep_target_encode" -> ((s, d) => {
      val o = orders(s, d)
      new Pipeline(Seq(
          TargetEncoder("o_orderpriority", "o_totalprice", "prio_enc")))
        .fit(o).transform(o)
        .select("o_orderkey", "o_orderpriority", "prio_enc")
        .orderBy("o_orderkey")
    }),

    // winsorize / clip at fitted quantiles, through the Node layer like
    // every other fitted preprocessor: fit = one percentile aggregation
    // (swap approx_percentile in at corpus scale — agg_median_quantile's
    // caveat), transform = map-only broadcast clip. Bounds round 6 dp on
    // both engines BEFORE comparing so the clip threshold is shared.
    "prep_clip_quantile" -> ((s, d) => {
      val o = orders(s, d)
      new Pipeline(Seq(QuantileClipper("o_totalprice", "clipped_price")))
        .fit(o).transform(o)
        .select("o_orderkey", "clipped_price")
        .orderBy("o_orderkey")
    }),

    // pd.cut: fixed explicit bin edges → label, plus the unbounded
    // fixed-width bin index (floor of an exact IEEE division — identical
    // both engines). Pure map-side projection, no fit pass needed; the
    // quantile cousin (qcut) is window_percent_ntile's ntile
    "prep_cut_bins" -> ((s, d) =>
      orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"),
          when(col("o_totalprice") < 50000, "low")
            .when(col("o_totalprice") < 150000, "mid")
            .when(col("o_totalprice") < 300000, "high")
            .otherwise("vhigh").as("price_bin"),
          floor(col("o_totalprice") / 50000).cast("long").as("bin_idx"))
        .orderBy("o_orderkey")),

    // dd.resample('1D') per user: daily count + money sum on a GAP-FREE
    // calendar — sequence() synthesizes each user's missing days between
    // their first and last event, then the daily sum forward-fills across
    // the gaps (resample().ffill()). Everything stays engine-parallel: the
    // grid explode is per-user, the gap join a shuffle equi-join on
    // (user, day), the ffill a single window pass.
    "prep_resample_1d" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(col("user_id"), date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("day_sum"))
      val grid = daily.groupBy("user_id")
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .select(col("user_id"),
          explode(sequence(col("d0"), col("d1"), expr("INTERVAL 1 DAY")))
            .as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"),
          last(col("day_sum"), ignoreNulls = true).over(w).as("ffill_sum"))
        .orderBy("user_id", "day")
    }),

    "prep_datetime_expand" -> ((s, d) => {
      val ev = events(s, d)
      new Pipeline(Seq(DatetimeExpand("ts", "ts"))).fit(ev)
        .transform(ev)
        .select("event_id", "ts_year", "ts_month", "ts_dom", "ts_isodow",
          "ts_hour", "ts_is_weekend")
        .orderBy("event_id")
    }),

    // the full DAG: derive type_class → robust-categorize brand → one-hot
    // type_class → min-max scale price; each stateful node fits in its own
    // job, then the transform is ONE plan over `part`
    "pipeline_chain" -> ((s, d) => {
      val p = part(s, d)
      val chain = new Pipeline(Seq(
        StatelessNode("type_class")(df =>
          df.withColumn("type_class", split(col("p_type"), " ")(0))),
        RobustCategorizer("p_brand", 0.035),
        OneHot("type_class", typeClasses),
        MinMaxScaler("p_retailprice", "price_mm")))
      chain.fit(p).transform(p)
        .select(col("p_partkey") +: col("p_brand") +:
          typeClasses.map(v => col(s"type_class_$v")) :+ col("price_mm"): _*)
        .orderBy("p_partkey")
    })
  )

  private val fillnaCte =
    """WITH t AS (SELECT c_custkey,
      |  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS c_acctbal
      |  FROM customer)""".stripMargin

  val oracles: Map[String, String] = Map(
    "prep_profile" -> {
      val cols = Seq("l_orderkey", "l_partkey", "l_returnflag")
      val unions = cols.map(c =>
        s"""SELECT '$c' AS col_name,
           |  CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_s,
           |  CAST(MAX($c) AS VARCHAR) AS max_s
           |FROM base""".stripMargin).mkString("\nUNION ALL\n")
      s"""WITH base AS (
         |  SELECT l_orderkey, l_partkey, l_returnflag FROM lineitem
         |  UNION ALL
         |  SELECT * FROM (VALUES
         |    (CAST(-1 AS BIGINT), CAST(NULL AS BIGINT),
         |     CAST(NULL AS VARCHAR)),
         |    (CAST(-2 AS BIGINT), CAST(NULL AS BIGINT), 'X'))
         |    v(l_orderkey, l_partkey, l_returnflag))
         |$unions
         |ORDER BY col_name""".stripMargin
    },
    "prep_fillna_mean" ->
      s"""$fillnaCte,
         |s AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
         |  / COUNT(c_acctbal) AS m FROM t)
         |SELECT c_custkey, COALESCE(c_acctbal, m) AS c_acctbal
         |FROM t CROSS JOIN s ORDER BY c_custkey""".stripMargin,
    "prep_na_indicator" ->
      s"""$fillnaCte
         |SELECT c_custkey, c_acctbal, c_acctbal IS NULL AS c_acctbal_isna
         |FROM t ORDER BY c_custkey""".stripMargin,
    "prep_na_category" ->
      """SELECT c_custkey,
        |COALESCE(CASE WHEN c_custkey % 10 = 0 THEN NULL
        |  ELSE c_mktsegment END, '<unknown>') AS c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "prep_robust_categorizer" ->
      """WITH k AS (SELECT p_brand FROM part GROUP BY p_brand
        |  HAVING CAST(COUNT(*) AS DOUBLE)
        |    >= CAST(0.035 AS DOUBLE) * (SELECT COUNT(*) FROM part))
        |SELECT p.p_partkey,
        |  CASE WHEN k.p_brand IS NULL THEN '<other>' ELSE p.p_brand END
        |    AS p_brand
        |FROM part p LEFT JOIN k ON p.p_brand = k.p_brand
        |ORDER BY p_partkey""".stripMargin,
    "prep_onehot" ->
      """SELECT c_custkey,
        |CASE WHEN c_mktsegment='AUTOMOBILE' THEN 1 ELSE 0 END
        |  AS "c_mktsegment_AUTOMOBILE",
        |CASE WHEN c_mktsegment='BUILDING' THEN 1 ELSE 0 END
        |  AS "c_mktsegment_BUILDING",
        |CASE WHEN c_mktsegment='FURNITURE' THEN 1 ELSE 0 END
        |  AS "c_mktsegment_FURNITURE",
        |CASE WHEN c_mktsegment='HOUSEHOLD' THEN 1 ELSE 0 END
        |  AS "c_mktsegment_HOUSEHOLD",
        |CASE WHEN c_mktsegment='MACHINERY' THEN 1 ELSE 0 END
        |  AS "c_mktsegment_MACHINERY"
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "prep_label_encode" ->
      """WITH codes AS (SELECT c_mktsegment AS cat,
        |    ROW_NUMBER() OVER (ORDER BY c_mktsegment) - 1 AS segment_code
        |  FROM (SELECT DISTINCT c_mktsegment FROM customer))
        |SELECT c_custkey, c_mktsegment, segment_code
        |FROM customer JOIN codes ON c_mktsegment = cat
        |ORDER BY c_custkey""".stripMargin,
    "prep_standard_scale" ->
      """WITH s AS (SELECT
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))
        |         * CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS s2,
        |  COUNT(c_acctbal) AS n FROM customer)
        |SELECT c_custkey,
        |  ROUND((c_acctbal - s1 / n)
        |    / sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS acctbal_z
        |FROM customer CROSS JOIN s ORDER BY c_custkey""".stripMargin,
    "prep_minmax_scale" ->
      """WITH s AS (SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
        |  FROM orders)
        |SELECT o_orderkey, (o_totalprice - mn) / (mx - mn) AS price_mm
        |FROM orders CROSS JOIN s ORDER BY o_orderkey""".stripMargin,
    "prep_maxabs_scale" ->
      """WITH s AS (SELECT MAX(ABS(c_acctbal)) AS ma FROM customer)
        |SELECT c_custkey,
        |  c_acctbal / (CASE WHEN ma = 0 THEN 1.0 ELSE ma END) AS acctbal_ma
        |FROM customer CROSS JOIN s ORDER BY c_custkey""".stripMargin,
    "prep_ffill" ->
      """SELECT event_id, user_id,
        |LAST_VALUE(CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END
        |    IGNORE NULLS)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
        |FROM events ORDER BY event_id""".stripMargin,
    "prep_robust_scale" ->
      """WITH q AS (SELECT
        |  ROUND(quantile_cont(o_totalprice, 0.5), 6) AS med,
        |  ROUND(quantile_cont(o_totalprice, 0.25), 6) AS q1,
        |  ROUND(quantile_cont(o_totalprice, 0.75), 6) AS q3 FROM orders)
        |SELECT o_orderkey, (o_totalprice - med)
        |  / (CASE WHEN q3 = q1 THEN 1.0 ELSE q3 - q1 END) AS price_rs
        |FROM orders, q ORDER BY o_orderkey""".stripMargin,
    "prep_quantile_transform" ->
      """SELECT c_custkey, c_mktsegment,
        |  PERCENT_RANK() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal) AS acctbal_u
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "prep_bfill" ->
      """SELECT event_id, user_id,
        |FIRST_VALUE(CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END
        |    IGNORE NULLS)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS value
        |FROM events ORDER BY event_id""".stripMargin,
    "prep_interpolate" ->
      """WITH t AS (SELECT event_id, user_id, ts,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS rn
        |  FROM events),
        |w AS (SELECT event_id, user_id, v, rn,
        |    LAST_VALUE(v IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY rn
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY rn
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prn,
        |    FIRST_VALUE(v IGNORE NULLS) OVER
        |      (PARTITION BY user_id ORDER BY rn
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN rn END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY rn
        |       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nrn
        |  FROM t)
        |SELECT event_id, user_id,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NULL THEN nv
        |       WHEN nv IS NULL THEN pv
        |       ELSE ROUND(pv + (nv - pv) * (rn - prn) / (nrn - prn), 6)
        |  END AS value
        |FROM w ORDER BY event_id""".stripMargin,
    "prep_interpolate_time" ->
      """WITH t AS (SELECT event_id, user_id, ts, epoch_us(ts) AS eps,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        |  FROM events),
        |w AS (SELECT event_id, user_id, v, eps,
        |    LAST_VALUE(v IGNORE NULLS) OVER wb AS pv,
        |    LAST_VALUE(CASE WHEN v IS NOT NULL THEN eps END IGNORE NULLS)
        |      OVER wb AS pe,
        |    FIRST_VALUE(v IGNORE NULLS) OVER wf AS nv,
        |    FIRST_VALUE(CASE WHEN v IS NOT NULL THEN eps END IGNORE NULLS)
        |      OVER wf AS ne
        |  FROM t WINDOW
        |    wb AS (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_id, user_id,
        |  CASE WHEN v IS NOT NULL THEN v
        |       WHEN pv IS NULL THEN nv
        |       WHEN nv IS NULL THEN pv
        |       WHEN ne = pe THEN pv
        |       ELSE ROUND(pv + (nv - pv) * (eps - pe) / (ne - pe), 6)
        |  END AS value
        |FROM w ORDER BY event_id""".stripMargin,
    "prep_target_encode" ->
      """WITH pc AS (SELECT o_orderpriority,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS s,
        |    COUNT(o_totalprice) AS n
        |  FROM orders GROUP BY o_orderpriority),
        |g AS (SELECT CAST(SUM(s) AS DOUBLE) AS gsum, SUM(n) AS gn FROM pc),
        |enc AS (SELECT o_orderpriority,
        |    ROUND((CAST(s AS DOUBLE) + 10.0 * (gsum / gn)) / (n + 10.0), 6)
        |      AS prio_enc
        |  FROM pc, g)
        |SELECT o.o_orderkey, o.o_orderpriority, e.prio_enc
        |FROM orders o JOIN enc e USING (o_orderpriority)
        |ORDER BY o_orderkey""".stripMargin,
    "prep_clip_quantile" ->
      """WITH q AS (SELECT
        |  ROUND(quantile_cont(o_totalprice, 0.05), 6) AS lo,
        |  ROUND(quantile_cont(o_totalprice, 0.95), 6) AS hi FROM orders)
        |SELECT o_orderkey,
        |  least(greatest(o_totalprice, lo), hi) AS clipped_price
        |FROM orders, q ORDER BY o_orderkey""".stripMargin,
    "prep_cut_bins" ->
      """SELECT o_orderkey, o_totalprice,
        |CASE WHEN o_totalprice < 50000 THEN 'low'
        |     WHEN o_totalprice < 150000 THEN 'mid'
        |     WHEN o_totalprice < 300000 THEN 'high'
        |     ELSE 'vhigh' END AS price_bin,
        |CAST(floor(o_totalprice / 50000) AS BIGINT) AS bin_idx
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "prep_resample_1d" ->
      s"""WITH daily AS (SELECT user_id, date_trunc('day', ts) AS day,
         |  COUNT(*) AS n, ${dsumSql("value")} AS day_sum
         |  FROM events GROUP BY 1, 2),
         |grid AS (SELECT user_id,
         |  unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
         |  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
         |        FROM daily GROUP BY user_id)),
         |j AS (SELECT g.user_id, g.day, d.n, d.day_sum
         |  FROM grid g LEFT JOIN daily d
         |    ON g.user_id = d.user_id AND g.day = d.day)
         |SELECT user_id, day, COALESCE(n, 0) AS n,
         |  LAST_VALUE(day_sum IGNORE NULLS) OVER (PARTITION BY user_id
         |    ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |  AS ffill_sum
         |FROM j ORDER BY user_id, day""".stripMargin,
    "prep_datetime_expand" ->
      """SELECT event_id,
        |CAST(year(ts) AS INTEGER) AS ts_year,
        |CAST(month(ts) AS INTEGER) AS ts_month,
        |CAST(day(ts) AS INTEGER) AS ts_dom,
        |CAST(date_part('isodow', ts) AS INTEGER) AS ts_isodow,
        |CAST(hour(ts) AS INTEGER) AS ts_hour,
        |date_part('isodow', ts) >= 6 AS ts_is_weekend
        |FROM events ORDER BY event_id""".stripMargin,
    "pipeline_chain" ->
      """WITH base AS (SELECT p_partkey, p_brand, p_retailprice,
        |    string_split(p_type, ' ')[1] AS type_class FROM part),
        |k AS (SELECT p_brand FROM part GROUP BY p_brand
        |  HAVING CAST(COUNT(*) AS DOUBLE)
        |    >= CAST(0.035 AS DOUBLE) * (SELECT COUNT(*) FROM part)),
        |mm AS (SELECT MIN(p_retailprice) AS mn, MAX(p_retailprice) AS mx
        |  FROM part)
        |SELECT b.p_partkey,
        |  CASE WHEN k.p_brand IS NULL THEN '<other>' ELSE b.p_brand END
        |    AS p_brand,
        |  CASE WHEN type_class='ECONOMY' THEN 1 ELSE 0 END
        |    AS "type_class_ECONOMY",
        |  CASE WHEN type_class='LARGE' THEN 1 ELSE 0 END
        |    AS "type_class_LARGE",
        |  CASE WHEN type_class='MEDIUM' THEN 1 ELSE 0 END
        |    AS "type_class_MEDIUM",
        |  CASE WHEN type_class='PROMO' THEN 1 ELSE 0 END
        |    AS "type_class_PROMO",
        |  CASE WHEN type_class='SMALL' THEN 1 ELSE 0 END
        |    AS "type_class_SMALL",
        |  CASE WHEN type_class='STANDARD' THEN 1 ELSE 0 END
        |    AS "type_class_STANDARD",
        |  (p_retailprice - mn) / (mx - mn) AS price_mm
        |FROM base b LEFT JOIN k ON b.p_brand = k.p_brand CROSS JOIN mm
        |ORDER BY p_partkey""".stripMargin
  )
}
