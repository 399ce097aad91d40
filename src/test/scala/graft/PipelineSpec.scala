package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline._
import graft.util.Tables

/** Pipeline API behavior: sequential fit semantics, held-out transform,
  * and fitted-parameter persistence round-trip (SURVEY §5.2.6). */
class PipelineSpec extends AnyFunSuite {
  private val spark = SparkFixture.spark

  private def pipe = new Pipeline(Seq(
    RobustCategorizer("c_mktsegment", 0.1),
    MinMaxScaler("c_acctbal", "bal_mm"),
    StandardScaler("c_acctbal", "bal_z")))

  test("fitted transform applies to held-out rows with TRAIN statistics") {
    val c = Tables.customer(spark, SparkFixture.sf0001)
    val train = c.filter(col("c_custkey") % 2 === 0)
    val heldOut = c.filter(col("c_custkey") % 2 === 1)
    val out = pipe.fit(train).transform(heldOut)
    assert(out.count() == heldOut.count())
    // recompute the expected scaling from TRAIN stats independently: a
    // fit-on-transform-input leak would use held-out min/max and fail here
    val Array(trainMin, trainMax) = train
      .agg(min("c_acctbal"), max("c_acctbal")).head() match {
      case r => Array(r.getDouble(0), r.getDouble(1))
    }
    val row = out.orderBy("c_custkey").select("c_acctbal", "bal_mm").head()
    val expected = (row.getDouble(0) - trainMin) / (trainMax - trainMin)
    assert(row.getDouble(1) == expected,
      s"bal_mm ${row.getDouble(1)} != train-scaled $expected")
  }

  test("save/load round-trip reproduces the fitted transform exactly") {
    val c = Tables.customer(spark, SparkFixture.sf0001)
    val fitted = pipe.fit(c)
    val dir = SparkFixture.tempDir("graft_pipe").toString
    fitted.save(dir)
    val loaded = FittedPipeline.load(spark, dir,
      pipe.fit(c).stages.map(_.node))
    val a = fitted.transform(c).orderBy("c_custkey")
      .collect().map(_.toString).toSeq
    val b = loaded.transform(c).orderBy("c_custkey")
      .collect().map(_.toString).toSeq
    assert(a == b)
  }

  test("fit holds each stage's statistics as rows: transform and save " +
      "survive a release of every persisted RDD and never re-run a fit " +
      "aggregate, for a fitted and a loaded pipeline alike") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      LocalRelation}
    val c = Tables.customer(spark, SparkFixture.sf0001)
    val train = c.filter(col("c_custkey") % 2 === 0)
    val heldOut = c.filter(col("c_custkey") % 2 === 1)
    val fitted = pipe.fit(train)
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    def check(f: FittedPipeline, what: String): Seq[String] = {
      assert(f.stages.flatMap(_.stats).size == 3, what)
      f.stages.flatMap(_.stats).foreach { st =>
        assert(st.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
          s"$what stats not held as rows:\n${st.queryExecution.optimizedPlan}")
      }
      val out = f.transform(heldOut)
      val fitAggs = out.queryExecution.optimizedPlan.collect {
        case a: Aggregate
            if a.collectLeaves().exists(!_.isInstanceOf[LocalRelation]) => a
      }
      assert(fitAggs.isEmpty,
        s"$what transform re-runs a fit aggregate:\n${out.queryExecution
          .optimizedPlan}")
      out.orderBy("c_custkey").collect().map(_.toString).toSeq
    }
    val expected = check(fitted, "fitted")
    assert(expected.size == heldOut.count())
    val dir = SparkFixture.tempDir("graft_pipe_held").toString
    fitted.save(dir)
    val loaded = FittedPipeline.load(spark, dir, fitted.stages.map(_.node))
    assert(check(loaded, "loaded") == expected)
  }

  test("save/load through a file: URI keeps every stage's statistics") {
    val c = Tables.customer(spark, SparkFixture.sf0001)
    val fitted = pipe.fit(c)
    val uri = SparkFixture.tempDir("graft_pipe_uri").toURI.toString
      .stripSuffix("/")
    assert(uri.startsWith("file:"))
    fitted.save(uri)
    val loaded = FittedPipeline.load(spark, uri, fitted.stages.map(_.node))
    assert(loaded.stages.map(_.stats.isDefined) ==
      fitted.stages.map(_.stats.isDefined))
    def rows(f: FittedPipeline) = f.transform(c).orderBy("c_custkey")
      .collect().map(_.toString).toSeq
    assert(rows(loaded) == rows(fitted))
  }

  test("sequential fit: later nodes see earlier transforms") {
    val c = Tables.customer(spark, SparkFixture.sf0001)
      .withColumn("c_acctbal",
        when(col("c_acctbal") < 0, lit(null)).otherwise(col("c_acctbal")))
    val fitted = new Pipeline(Seq(
      FillNaMean("c_acctbal"),
      MinMaxScaler("c_acctbal", "bal_mm"))).fit(c)
    val out = fitted.transform(c)
    assert(out.filter(col("bal_mm").isNull).count() == 0)
    assert(out.filter(col("bal_mm") < 0 || col("bal_mm") > 1).count() == 0)
  }

  test("BackwardFill takes the NEXT non-null; trailing nulls stay null") {
    import spark.implicits._
    val df = Seq(
      ("u1", 1, Option.empty[Double]), ("u1", 2, Some(5.0)),
      ("u1", 3, None), ("u1", 4, Some(9.0)), ("u1", 5, None),
      ("u2", 1, Some(1.0))
    ).toDF("u", "i", "v")
    val out = BackwardFill("v", Seq("u"), Seq("i"))
      .fit(df)(df).orderBy("u", "i")
      .collect().map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    assert(out.toSeq == Seq(Some(5.0), Some(5.0), Some(9.0), Some(9.0),
      None, Some(1.0)))
  }

  test("LinearInterpolator: interior gaps on the line, edges bfill/ffill") {
    import spark.implicits._
    val df = Seq(
      // u1: leading null → bfill; interior 2-row gap → 4, 6; trailing → 8
      ("u1", 1, Option.empty[Double]), ("u1", 2, Some(2.0)),
      ("u1", 3, None), ("u1", 4, None), ("u1", 5, Some(8.0)),
      ("u1", 6, None),
      // u2: all null survives as null
      ("u2", 1, Option.empty[Double])
    ).toDF("u", "i", "v")
    val out = LinearInterpolator("v", Seq("u"), Seq("i"))
      .fit(df)(df).orderBy("u", "i")
      .collect().map(r => if (r.isNullAt(2)) None else Some(r.getDouble(2)))
    assert(out.toSeq == Seq(Some(2.0), Some(2.0), Some(4.0), Some(6.0),
      Some(8.0), Some(8.0), None))
  }

  test("TargetEncoder: smoothed category means, unseen → global mean") {
    import spark.implicits._
    val train = Seq(("a", 10.0), ("a", 20.0), ("b", 100.0))
      .toDF("cat", "y")
    val fitted = TargetEncoder("cat", "y", "enc", smoothing = 1.0).fit(train)
    val heldOut = Seq("a", "b", "zzz").toDF("cat")
    val out = fitted(heldOut).orderBy("cat")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val g = (10.0 + 20.0 + 100.0) / 3
    def exp(s: Double, n: Long) = BigDecimal((s + 1.0 * g) / (n + 1.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("a") == exp(30.0, 2) && out("b") == exp(100.0, 1))
    assert(out("zzz") == BigDecimal(g).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) // unseen → global mean
  }
}
