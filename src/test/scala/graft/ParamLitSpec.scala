package graft

import java.sql.{Date, Timestamp}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

import graft.core.{Layout, ParamLit, ParamLits}
import graft.kv.Scans

/** Comparison constants as codegen parameters ([[graft.core.ParamLits]]):
  * installed on every `Session.local` session, result-identical to the
  * literal plan on extreme and NaN values, invisible to parquet pruning
  * and exchange reuse, and a kv read with a new key compiles nothing. */
class ParamLitSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** A session on the same SparkContext WITHOUT graft's extension: the
    * rule-off reference. Building it makes it the active and default
    * session, so the shared spec session is put back at once. */
  private lazy val off: SparkSession = {
    val shared = spark // the SparkContext the reference session joins
    val s = SparkSession.builder().create()
    SparkSession.setActiveSession(shared)
    SparkSession.setDefaultSession(shared)
    s
  }

  private def params(p: SparkPlan): Seq[ParamLit] =
    collectWithSubqueries(p) { case f: FilterExec => f }
      .flatMap(_.condition.collect { case x: ParamLit => x })

  private def scan(p: SparkPlan): FileSourceScanExec =
    collect(p) { case s: FileSourceScanExec => s }.head

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private lazy val extremesPath: String = {
    val dir = TempDirs.create("paramlit").toString
    val d0 = Date.valueOf("0001-01-01")
    val d1 = Date.valueOf("9999-12-31")
    val t0 = Timestamp.valueOf("0001-01-01 00:00:00")
    val t1 = Timestamp.valueOf("9999-12-31 23:59:59.999999")
    val rows = Seq(
      Row(Long.MinValue, Int.MinValue, d0, t0, Double.NaN, Float.NaN, Short.MinValue, Byte.MinValue, true),
      Row(Long.MaxValue, Int.MaxValue, d1, t1, -0.0, -0.0f, Short.MaxValue, Byte.MaxValue, false),
      Row(0L, 0, Date.valueOf("1970-01-01"), Timestamp.valueOf("1970-01-01 00:00:00"), 0.0, 0.0f,
        0.toShort, 0.toByte, true),
      Row(4001L, 7, Date.valueOf("2024-02-29"), Timestamp.valueOf("2024-02-29 12:00:00"), 1.5, 1.5f,
        7.toShort, 7.toByte, false),
      Row(-5L, -7, Date.valueOf("1969-12-31"), Timestamp.valueOf("1969-12-31 23:59:59"),
        Double.NegativeInfinity, Float.PositiveInfinity, (-7).toShort, (-7).toByte, true))
    val schema = "k BIGINT, i INT, d DATE, ts TIMESTAMP, x DOUBLE, f FLOAT, " +
      "s SMALLINT, b TINYINT, flag BOOLEAN"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
        org.apache.spark.sql.types.StructType.fromDDL(schema))
      .write.mode("overwrite").parquet(s"$dir/t")
    s"$dir/t"
  }

  test("Session.local installs GraftExtensions: the ParamLits rule and the SQL functions") {
    val rules = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.columnarRules
    assert(rules.contains(ParamLits), rules)
    val fresh = spark.newSession() // no GraftFunctions.register on this one
    fresh.createDataFrame(Seq(("r1", "cf", "q", "v"), ("s2", "cf", "q", "v")))
      .toDF("rowkey", "family", "qualifier", "value").createOrReplaceTempView("pl_cells")
    val keys = fresh.sql("SELECT rowkey FROM pl_cells WHERE hbase_filter('PrefixFilter(''r'')')")
      .collect().map(_.getString(0)).toSeq
    assert(keys == Seq("r1"))
  }

  test("results equal the rule-off, whole-stage-off plan on extreme, NaN and ±0.0 keys") {
    off.conf.set("spark.sql.codegen.wholeStage", "false")
    val t0 = Timestamp.valueOf("0001-01-01 00:00:00")
    val t1 = Timestamp.valueOf("9999-12-31 23:59:59.999999")
    val preds: Seq[(String, Column)] = Seq(
      "k = min" -> (col("k") === Long.MinValue),
      "k = max" -> (col("k") === Long.MaxValue),
      "k >= max" -> (col("k") >= Long.MaxValue),
      "k < min" -> (col("k") < Long.MinValue),
      "k <=> min" -> (col("k") <=> Long.MinValue),
      "k > min" -> (col("k") > Long.MinValue),
      "k = absent" -> (col("k") === 123456789L),
      "i = min" -> (col("i") === Int.MinValue),
      "i <= max" -> (col("i") <= Int.MaxValue),
      "i > max" -> (col("i") > Int.MaxValue),
      "d = min" -> (col("d") === Date.valueOf("0001-01-01")),
      "d >= max" -> (col("d") >= Date.valueOf("9999-12-31")),
      "ts = min" -> (col("ts") === t0),
      "ts < max" -> (col("ts") < t1),
      "x = NaN" -> (col("x") === Double.NaN),
      "x <=> NaN" -> (col("x") <=> Double.NaN),
      "x < NaN" -> (col("x") < Double.NaN),
      "x = -0.0" -> (col("x") === -0.0),
      "x <=> -0.0" -> (col("x") <=> -0.0),
      "x = +0.0" -> (col("x") === 0.0),
      "x <=> +0.0" -> (col("x") <=> 0.0),
      "x > -0.0" -> (col("x") > -0.0),
      "f = NaN" -> (col("f") === Float.NaN),
      "f = -0.0" -> (col("f") === -0.0f),
      "s = min" -> (col("s") === Short.MinValue),
      "b = max" -> (col("b") === Byte.MaxValue),
      "flag = true" -> (col("flag") === true),
      "flag <=> false" -> (col("flag") <=> false),
      "k in 10" -> col("k").isin(Long.MinValue, Long.MaxValue, 0L, 4001L, -5L, 1L, 2L, 3L, 4L, 5L),
      "k in absent" -> col("k").isin(11L, 12L, 13L),
      "x in NaN, -0.0" -> col("x").isin(Double.NaN, -0.0))
    val onT = spark.read.parquet(extremesPath)
    val offT = off.read.parquet(extremesPath)
    val unbound = preds.filter { case (name, p) =>
      val on = onT.where(p)
      assert(sorted(on) == sorted(offT.where(p)), name)
      params(on.queryExecution.executedPlan).isEmpty
    }.map(_._1)
    // the optimizer has already rewritten `flag = true` to `flag`
    assert(unbound == Seq("flag = true"), unbound)
    // the spec data does exercise the corners: NaN = NaN and -0.0 = +0.0
    assert(onT.where(col("x") === Double.NaN).count() == 1)
    assert(onT.where(col("x") === 0.0).count() == 2)
  }

  test("the scan keeps the real literal: same PushedFilters and numOutputRows as the rule-off plan") {
    val dir = TempDirs.create("paramlit_scan").toString
    Layout.writeSorted(spark.range(0, 20000).toDF("k").withColumn("v", col("k") * 3),
      "k", s"$dir/t")
    def run(s: SparkSession, p: Column): (String, Long, Seq[String]) = {
      val df = s.read.parquet(s"$dir/t").where(p).select("k", "v")
      val rows = sorted(df)
      val sc = scan(df.queryExecution.executedPlan)
      (sc.metadata("PushedFilters"), sc.metrics("numOutputRows").value, rows)
    }
    Seq(col("k") === 4001L, col("k") >= 100L && col("k") < 150L,
        col("k").isin(3L, 4001L, 19999L, 50000L)).foreach { p =>
      val on = run(spark, p)
      assert(on == run(off, p), p.toString)
      assert(on._1.contains("4001") || on._1.contains("GreaterThanOrEqual(k,100)"), on._1)
      assert(on._2 < 20000, s"no pruning: ${on._2} rows read")
    }
  }

  test("two aggregations differing only in a filter literal are not falsely reused") {
    val t = spark.range(0, 1000).toDF("k").withColumn("g", col("k") % 3)
    def agg(key: Long): DataFrame =
      t.where(col("k") === key).groupBy("g").agg(sum("k").as("s"))
    val both = agg(10L).unionByName(agg(20L))
    assert(both.collect().map(_.getLong(1)).toSet == Set(10L, 20L))
    val plan = both.queryExecution.executedPlan
    assert(collect(plan) { case r: ReusedExchangeExec => r }.isEmpty, plan.toString)
    assert(params(plan).map(_.lit.value).toSet == Set(10L, 20L), plan.toString)
    // Literal's equality, NaN included: equal plans stay reusable
    assert(ParamLit(Literal(Double.NaN)) == ParamLit(Literal(Double.NaN)))
    // reuse is on and still fires for the same literal
    val same = agg(10L).unionByName(agg(10L))
    assert(same.collect().map(_.getLong(1)).toSeq == Seq(10L, 10L))
    assert(collect(same.queryExecution.executedPlan) { case r: ReusedExchangeExec => r }.nonEmpty,
      same.queryExecution.executedPlan.toString)
  }

  test("literals that must stay foldable are left alone: rand(seed), round(x, scale)") {
    val t = spark.range(0, 200).toDF("k").withColumn("x", col("k") / 7.0)
    val tOff = off.range(0, 200).toDF("k").withColumn("x", col("k") / 7.0)
    val r = t.where(rand(7) < 0.5)
    assert(sorted(r) == sorted(tOff.where(rand(7) < 0.5)))
    assert(sorted(t.where(round(col("x"), 2) > 1.5)) == sorted(tOff.where(round(col("x"), 2) > 1.5)))
    assert(t.where(round(col("x"), 2) > 1.5).count() == 200 - 11)
  }

  test("codegen guard: 90 kv reads with distinct keys compile at most 3 classes") {
    val dir = TempDirs.create("paramlit_kv").toString
    Layout.writeSorted(spark.range(0, 50000).toDF("o_orderkey")
      .withColumn("o_custkey", col("o_orderkey") % 977)
      .withColumn("o_totalprice", col("o_orderkey") * 1.25), "o_orderkey", s"$dir/orders")
    val base = Layout.read(spark, s"$dir/orders")
    val cols = Seq("o_orderkey", "o_custkey", "o_totalprice")
    def reads(i: Long): Unit = {
      assert(Scans.get(base, "o_orderkey", 17 * i, cols).collect().length == 1)
      assert(Scans.range(base, "o_orderkey", 100 * i, 100 * i + 25, cols).collect().length == 25)
      val keys = (0 until 10).map(j => 1000 * i + j)
      assert(Scans.multiGet(base, "o_orderkey", keys, cols).collect().length == 10)
    }
    reads(1) // warmup: the one compile each read shape needs
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    (2L to 31L).foreach(reads)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(compiles <= 3, s"$compiles codegen compiles for 90 reads")
  }
}
