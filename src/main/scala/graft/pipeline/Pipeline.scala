package graft.pipeline

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.Det._

/** Fit/transform preprocessing pipeline — the reference library's identity
  * (dask-pipes: an sklearn-style node DAG over dataframes; `Pipeline.fit`
  * computes per-node statistics in topological order, `transform` replays
  * the lazy expression chain).
  *
  * Spark-first re-expression:
  *  - a Node's fitted state is a SMALL table of statistics (means,
  *    frequency tables, min/max): transforms apply it via
  *    `crossJoin(broadcast(stats))` (scalar stats) or
  *    `join(broadcast(freqTable))` (per-category stats). At 100 TB the fit
  *    aggregation is one partial+final shuffle and the transform side is a
  *    map-only broadcast join — no extra shuffle on the big table.
  *  - `fit` runs ONE job per stateful node and holds the collected
  *    statistics rows in the plan as a local relation, like dask-pipes'
  *    eagerly computed fit params. `transform`, `save` and reads of the
  *    statistics never re-run a fit aggregate over the training rows.
  *    The collect adds no new memory bound: the statistics already pass
  *    through the driver as the broadcast build side of every transform.
  *    Rows, not a `cache`/`localCheckpoint` pin, because a fitted
  *    pipeline outlives any one query: once a pin is released, a cached
  *    plan re-runs the fit and a checkpointed one fails.
  *  - `save`/`load` persist and rehydrate exactly those rows (one parquet
  *    dir per stateful stage); a loaded pipeline holds its statistics the
  *    same way a fitted one does.
  *  - sequential semantics match the reference: node i is fit on the output
  *    of the (i-1) fitted transforms.
  */
trait Node {
  def name: String
  /** Fit statistics as a small DataFrame plan; None for stateless nodes. */
  def fitStats(df: DataFrame): Option[DataFrame]
  /** Build the (lazy) transform given the fitted statistics. */
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame
  final def fit(df: DataFrame): Fitted =
    Fitted(this, fitStats(df).map(Fitted.hold))
}

final case class Fitted(node: Node, stats: Option[DataFrame]) {
  def apply(df: DataFrame): DataFrame = node.transform(stats)(df)
}
object Fitted {
  /** Run `stats` once and hold its rows as a local relation. */
  private[pipeline] def hold(stats: DataFrame): DataFrame =
    stats.sparkSession.createDataFrame(stats.collect().toSeq.asJava,
      stats.schema)
}

final class Pipeline(nodes: Seq[Node]) {
  /** Fit each node on the output of the previously fitted ones. */
  def fit(df: DataFrame): FittedPipeline = {
    var cur = df
    val fitted = nodes.map { n => val f = n.fit(cur); cur = f(cur); f }
    new FittedPipeline(fitted)
  }
}
object Pipeline { def apply(nodes: Node*): Pipeline = new Pipeline(nodes) }

final class FittedPipeline(val stages: Seq[Fitted]) {
  def transform(df: DataFrame): DataFrame =
    stages.foldLeft(df)((d, f) => f(d))
  /** Persist fitted params (one parquet dir per stateful stage). */
  def save(dir: String): Unit = stages.zipWithIndex.foreach { case (f, i) =>
    f.stats.foreach(_.write.mode("overwrite").parquet(s"$dir/stage_$i"))
  }
}
object FittedPipeline {
  /** Rehydrate fitted params for the same node list (no refit). `dir` may
    * be any Hadoop path or URI the session can write (`file:`, `hdfs:`,
    * `s3a:`, or a plain local path). */
  def load(spark: SparkSession, dir: String,
      nodes: Seq[Node]): FittedPipeline = {
    val conf = spark.sparkContext.hadoopConfiguration
    new FittedPipeline(nodes.zipWithIndex.map { case (n, i) =>
      val p = new Path(s"$dir/stage_$i")
      Fitted(n, if (p.getFileSystem(conf).exists(p))
        Some(Fitted.hold(spark.read.parquet(p.toString))) else None)
    })
  }
}

/** Arbitrary stateless step (dask-pipes lets any user function be a node). */
final case class StatelessNode(name: String)(f: DataFrame => DataFrame)
    extends Node {
  def fitStats(df: DataFrame): Option[DataFrame] = None
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = f
}

/** Impute numeric NULLs with the fitted column mean (exact decimal sum /
  * count — hash-stable, SURVEY §7.2.2). */
final case class FillNaMean(col0: String) extends Node {
  val name = s"fillna_mean($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] =
    Some(df.agg(davg(col(col0)).as(s"__mean")))
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = df =>
    df.crossJoin(broadcast(stats.get))
      .withColumn(col0, coalesce(col(col0), col("__mean")))
      .drop("__mean")
}

/** Add a boolean `<col>_isna` feature. */
final case class NaIndicator(col0: String) extends Node {
  val name = s"na_indicator($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] = None
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = df =>
    df.withColumn(s"${col0}_isna", col(col0).isNull)
}

/** NULL categorical level → an explicit token. */
final case class NaCategory(col0: String, token: String = "<unknown>")
    extends Node {
  val name = s"na_category($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] = None
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = df =>
    df.withColumn(col0, coalesce(col(col0), lit(token)))
}

/** Categories rarer than `minFrac` of rows → "<other>" (fit = frequency
  * table, kept relative so the behavior is scale-invariant). */
final case class RobustCategorizer(col0: String, minFrac: Double,
    other: String = "<other>") extends Node {
  val name = s"robust_categorizer($col0)"
  private val keepCol = s"__keep_$col0"
  def fitStats(df: DataFrame): Option[DataFrame] = {
    val freq = df.groupBy(col0).agg(count(lit(1)).as("__cnt"))
    // total derived from the frequency table (tiny), not a second scan of
    // the input — the fit is ONE pass over the data
    val total = freq.agg(sum(col("__cnt")).as("__n"))
    Some(freq.crossJoin(broadcast(total))
      .filter(col("__cnt") >= lit(minFrac) * col("__n"))
      .select(col(col0).as(keepCol)))
  }
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = df =>
    df.join(broadcast(stats.get), col(col0) === col(keepCol), "left")
      .withColumn(col0,
        when(col(keepCol).isNull, lit(other)).otherwise(col(col0)))
      .drop(keepCol)
}

/** One-hot encode with an EXPLICIT category list: no driver collect, stable
  * output schema (the fitted list is pipeline configuration, exactly like a
  * persisted dask-pipes category set). */
final case class OneHot(col0: String, categories: Seq[String]) extends Node {
  val name = s"onehot($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] = None
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = df =>
    categories.foldLeft(df)((d, c) =>
      d.withColumn(s"${col0}_${c}",
        when(col(col0) === c, 1).otherwise(0)))
}

/** Ordinal (label) encoding: category → dense code by SORTED category
  * order (sklearn LabelEncoder semantics — alphabetic, so the coding is
  * data-order-independent and refits are stable under re-partitioning).
  * Fit = the distinct-category table with a rank (tiny: |categories|
  * rows; the window's single-partition sort is over that stats table,
  * never the data); transform = map-only broadcast join. Unseen
  * categories at transform time encode as NULL (callers chain
  * [[NaCategory]] upstream to pre-map them). */
final case class LabelEncoder(col0: String, outCol: String) extends Node {
  val name = s"label_encode($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(col0))
    Some(df.select(col(col0)).distinct()
      .select(col(col0).as("__cat"),
        (row_number().over(w) - 1).as("__code")))
  }
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = df =>
    df.join(broadcast(stats.get), df(col0) === col("__cat"), "left")
      .withColumn(outCol, col("__code"))
      .drop("__cat", "__code")
}

/** (x − mean)/std from EXACT decimal moments: sum, sum-of-squares and count
  * are decimal (order-free); mean/variance arithmetic then runs in IEEE
  * double with an expression spelled identically in the oracle dialect. */
final case class StandardScaler(col0: String, outCol: String) extends Node {
  val name = s"standard_scale($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] =
    Some(df.agg(
      sum(dec(col(col0))).cast("double").as("__sum"),
      sum(dec(col(col0)) * dec(col(col0))).cast("double").as("__sumsq"),
      count(col(col0)).as("__n")))
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = { df =>
    val mean = col("__sum") / col("__n")
    val variance = (col("__sumsq") - col("__sum") * col("__sum") / col("__n")) /
      (col("__n") - 1)
    df.crossJoin(broadcast(stats.get))
      .withColumn(outCol, round((col(col0) - mean) / sqrt(variance), 6))
      .drop("__sum", "__sumsq", "__n")
  }
}

/** (x − min)/(max − min); pure IEEE arithmetic on exact min/max → bit-stable
  * without rounding. */
final case class MinMaxScaler(col0: String, outCol: String) extends Node {
  val name = s"minmax_scale($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] =
    Some(df.agg(min(col(col0)).as("__min"), max(col(col0)).as("__max")))
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = df =>
    df.crossJoin(broadcast(stats.get))
      .withColumn(outCol,
        (col(col0) - col("__min")) / (col("__max") - col("__min")))
      .drop("__min", "__max")
}

/** x / max(|x|) — sklearn MaxAbsScaler: scales into [−1, 1] while
  * preserving zero and sign (no centering — the sparse-feature-safe
  * scaler). Fit = ONE max aggregate; transform = map-only broadcast
  * arithmetic; an all-zero feature falls back to scale 1 like sklearn
  * (stays zero, never NULL). */
final case class MaxAbsScaler(col0: String, outCol: String) extends Node {
  val name = s"maxabs_scale($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] =
    Some(df.agg(max(abs(col(col0))).as("__maxabs")))
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = df =>
    df.crossJoin(broadcast(stats.get))
      .withColumn(outCol,
        col(col0) / when(col("__maxabs") === 0, lit(1.0))
          .otherwise(col("__maxabs")))
      .drop("__maxabs")
}

/** (x − median)/IQR — sklearn RobustScaler: outlier-insensitive scaling
  * for heavy-tailed features. Fit = one exact percentile aggregation
  * (approx_percentile is the drop-in at corpus scale); the three fitted
  * bounds round 6 dp so the scale is engine-reproducible; transform =
  * map-only broadcast arithmetic. */
final case class RobustScaler(col0: String, outCol: String) extends Node {
  val name = s"robust_scale($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] =
    Some(df.agg(r6(percentile(col(col0), lit(0.5))).as("__med"),
      r6(percentile(col(col0), lit(0.25))).as("__q1"),
      r6(percentile(col(col0), lit(0.75))).as("__q3")))
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = df =>
    df.crossJoin(broadcast(stats.get))
      // zero fitted IQR (a majority-constant feature) falls back to
      // scale 1 like sklearn's RobustScaler — not an all-NULL column
      .withColumn(outCol,
        (col(col0) - col("__med")) /
          when(col("__q3") === col("__q1"), lit(1.0))
            .otherwise(col("__q3") - col("__q1")))
      .drop("__med", "__q1", "__q3")
}

/** Winsorize: clip to fitted [lo, hi] percentiles. Fit = one exact
  * percentile aggregation (a bounded sketch — approx_percentile — is the
  * drop-in at corpus scale, same stats shape); transform = map-only
  * broadcast clip. Bounds round to 6 dp so the fitted threshold is
  * engine-reproducible. */
final case class QuantileClipper(col0: String, outCol: String,
    lo: Double = 0.05, hi: Double = 0.95) extends Node {
  val name = s"quantile_clip($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] =
    Some(df.agg(r6(percentile(col(col0), lit(lo))).as("__lo"),
      r6(percentile(col(col0), lit(hi))).as("__hi")))
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = df =>
    df.crossJoin(broadcast(stats.get))
      .withColumn(outCol, least(greatest(col(col0), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
}

/** Rank-based quantile transform to uniform [0, 1] (sklearn
  * QuantileTransformer's empirical-CDF mapping, the rank variant): value →
  * percent_rank within its partition. Fit-free — the CDF IS the ranking —
  * and exact: (rank−1)/(n−1) is integer arithmetic finished by one IEEE
  * divide, identical in any engine. Partitioned (per-domain normalization)
  * so no global sort: one shuffle on the partition key, rank streams
  * within each group. */
final case class QuantileTransform(col0: String, outCol: String,
    partitionCols: Seq[String]) extends Node {
  val name = s"quantile_transform($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] = None
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = { df =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partitionCols.map(col): _*)
      .orderBy(col(col0))
    df.withColumn(outCol, percent_rank().over(w))
  }
}

/** Forward-fill NULLs from the last prior non-null within a partition
  * (pandas/dask `ffill`): a running `last(ignoreNulls)` window — one
  * shuffle on the partition key, frame-streaming state. The order columns
  * must include a unique tie-break for deterministic fills. */
final case class ForwardFill(col0: String, partitionCols: Seq[String],
    orderCols: Seq[String]) extends Node {
  val name = s"ffill($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] = None
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = { df =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.withColumn(col0, last(col(col0), ignoreNulls = true).over(w))
  }
}

/** Backward-fill NULLs from the next following non-null within a partition
  * (pandas/dask `bfill`): mirror of ForwardFill — a `first(ignoreNulls)`
  * over the (current row, unbounded following) frame. Same scale shape:
  * one shuffle on the partition key, frame-streaming state. */
final case class BackwardFill(col0: String, partitionCols: Seq[String],
    orderCols: Seq[String]) extends Node {
  val name = s"bfill($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] = None
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = { df =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.currentRow,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    df.withColumn(col0, first(col(col0), ignoreNulls = true).over(w))
  }
}

/** Linear interpolation of interior NULLs by ROW POSITION within a
  * partition (pandas `interpolate(method='linear')` over a positional
  * index). Interior gaps are filled on the line between the surrounding
  * non-nulls; leading NULLs take the first non-null (bfill) and trailing
  * NULLs the last (ffill) so the output is total. Two window passes over
  * one shuffle on the partition key; the interpolation arithmetic is a
  * fixed-shape IEEE expression (spelled identically in the oracle) and
  * the result rounds 6 dp for cross-engine compare. */
final case class LinearInterpolator(col0: String, partitionCols: Seq[String],
    orderCols: Seq[String]) extends Node {
  val name = s"interpolate($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] = None
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = { df =>
    val W = org.apache.spark.sql.expressions.Window
    val base = W.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val back = base.rowsBetween(W.unboundedPreceding, W.currentRow)
    val fwd = base.rowsBetween(W.currentRow, W.unboundedFollowing)
    val rn = row_number().over(base)
    val markedRn = when(col(col0).isNotNull, col("__rn"))
    df.withColumn("__rn", rn)
      .withColumn("__pv", last(col(col0), ignoreNulls = true).over(back))
      .withColumn("__prn", last(markedRn, ignoreNulls = true).over(back))
      .withColumn("__nv", first(col(col0), ignoreNulls = true).over(fwd))
      .withColumn("__nrn", first(markedRn, ignoreNulls = true).over(fwd))
      .withColumn(col0,
        when(col(col0).isNotNull, col(col0))
          .when(col("__pv").isNull, col("__nv"))
          .when(col("__nv").isNull, col("__pv"))
          .otherwise(round(col("__pv") +
            (col("__nv") - col("__pv")) * (col("__rn") - col("__prn")) /
              (col("__nrn") - col("__prn")), 6)))
      .drop("__rn", "__pv", "__prn", "__nv", "__nrn")
  }
}

/** Linear interpolation of interior NULLs weighted by TIME (pandas
  * `interpolate(method='time')`): the fill sits on the line between the
  * surrounding non-nulls at the row's actual timestamp, not its row
  * position — the right semantics for irregular series. `epochCol` is an
  * integer epoch column (e.g. microseconds); edge NULLs bfill/ffill like
  * [[LinearInterpolator]]. Same one-shuffle two-window-pass shape. */
final case class TimeInterpolator(col0: String, epochCol: String,
    partitionCols: Seq[String], orderCols: Seq[String]) extends Node {
  val name = s"interpolate_time($col0,$epochCol)"
  def fitStats(df: DataFrame): Option[DataFrame] = None
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = { df =>
    val W = org.apache.spark.sql.expressions.Window
    val base = W.partitionBy(partitionCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val back = base.rowsBetween(W.unboundedPreceding, W.currentRow)
    val fwd = base.rowsBetween(W.currentRow, W.unboundedFollowing)
    val markedE = when(col(col0).isNotNull, col(epochCol))
    df.withColumn("__pv", last(col(col0), ignoreNulls = true).over(back))
      .withColumn("__pe", last(markedE, ignoreNulls = true).over(back))
      .withColumn("__nv", first(col(col0), ignoreNulls = true).over(fwd))
      .withColumn("__ne", first(markedE, ignoreNulls = true).over(fwd))
      .withColumn(col0,
        when(col(col0).isNotNull, col(col0))
          .when(col("__pv").isNull, col("__nv"))
          .when(col("__nv").isNull, col("__pv"))
          // equal-timestamp neighbors (ne = pe): the time weight is 0/0 —
          // take the previous value instead of a silent NULL, keeping the
          // 'output is total' contract
          .when(col("__ne") === col("__pe"), col("__pv"))
          .otherwise(round(col("__pv") +
            (col("__nv") - col("__pv")) * (col(epochCol) - col("__pe")) /
              (col("__ne") - col("__pe")), 6)))
      .drop("__pv", "__pe", "__nv", "__ne")
  }
}

/** Smoothed mean target encoding (the standard categorical encoder for
  * gradient-boosting / tabular ML): enc(cat) = (sum_y(cat) + m·ȳ_global)
  * / (n(cat) + m). Fit = ONE groupBy over the data producing a per-category
  * stats table with the global moments attached (exact decimal sums →
  * hash-stable); transform = map-only broadcast join, unseen categories
  * falling back to the global mean. */
final case class TargetEncoder(catCol: String, targetCol: String,
    outCol: String, smoothing: Double = 10.0) extends Node {
  val name = s"target_encode($catCol,$targetCol)"
  private val keyCol = s"__te_$catCol"
  def fitStats(df: DataFrame): Option[DataFrame] = {
    val perCat = df.groupBy(catCol)
      .agg(sum(dec(col(targetCol))).as("__sum_t"),
        count(col(targetCol)).as("__n_t"))
    // global moments derive from the tiny per-category table — one pass
    val global = perCat.agg(
      sum(col("__sum_t")).cast("double").as("__gsum"),
      sum(col("__n_t")).as("__gn"))
    Some(perCat.crossJoin(broadcast(global))
      .select(col(catCol).as(keyCol),
        round((col("__sum_t").cast("double") +
            lit(smoothing) * (col("__gsum") / col("__gn"))) /
          (col("__n_t") + lit(smoothing)), 6).as("__enc"),
        round(col("__gsum") / col("__gn"), 6).as("__genc")))
  }
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = { df =>
    // the global fallback must NOT ride the per-category rows: an unseen
    // category misses the left join entirely, nulling every stats column —
    // so the global mean arrives via its own 1-row broadcast
    val global = stats.get.agg(max(col("__genc")).as("__genc_g"))
    df.join(broadcast(stats.get.drop("__genc")),
        df(catCol) === col(keyCol), "left")
      .crossJoin(broadcast(global))
      .withColumn(outCol, coalesce(col("__enc"), col("__genc_g")))
      .drop(keyCol, "__enc", "__genc_g")
  }
}

/** ts → calendar feature columns (DateProcessor node). ISO day-of-week via
  * the verified `weekday+1` pairing (SURVEY §7.2.6). */
final case class DatetimeExpand(col0: String, prefix: String) extends Node {
  val name = s"datetime_expand($col0)"
  def fitStats(df: DataFrame): Option[DataFrame] = None
  def transform(stats: Option[DataFrame]): DataFrame => DataFrame = df => {
    val isodow = weekday(col(col0)) + 1
    df.withColumn(s"${prefix}_year", year(col(col0)))
      .withColumn(s"${prefix}_month", month(col(col0)))
      .withColumn(s"${prefix}_dom", dayofmonth(col(col0)))
      .withColumn(s"${prefix}_isodow", isodow)
      .withColumn(s"${prefix}_hour", hour(col(col0)))
      .withColumn(s"${prefix}_is_weekend", isodow >= 6)
  }
}
