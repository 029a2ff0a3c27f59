package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import graft.core.{Layout, Snapshots, Tables}
import graft.kv.Scans

/** Footer-resolved reads ([[graft.core.Tables.read]]): each part file's
  * key range comes from its footer, so a kv read opens only the region
  * files its key predicates can hit, and a new version resolves with no
  * Spark job. File counts are the scan's `numFiles` metric; expected
  * counts and rows come from an unpruned `spark.read.parquet` of the
  * same dir. */
class RegionPruneSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  /** Rows of `df` (sorted by their string form) and the files its scans read. */
  private def run(df: DataFrame): (Seq[String], Long) = {
    val rows = df.collect().map(_.toString).sorted.toSeq
    val files = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s.metrics("numFiles").value
    }.sum
    (rows, files)
  }

  /** Every part file's [min, max] key, from the data itself. */
  private def ranges(dir: String, key: String): Seq[(Long, Long)] =
    spark.read.parquet(dir).where(col(key).isNotNull)
      .groupBy(input_file_name())
      .agg(min(col(key).cast("bigint")), max(col(key).cast("bigint")))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq

  private val cols = Seq("k", "s", "d", "ts", "dec")

  test("a Get, a multiGet, a range and a small scan open exactly the overlapping region files") {
    val base = TempDirs.create("graft_regions").toFile
    try {
      import spark.implicits._
      // even keys (odd ones are absent, some between two regions), the
      // Long extremes, and NULL keys that sort into the first region;
      // the string/date/timestamp/decimal columns follow the key, so a
      // pruner that read their footer ranges would prune on them
      val keys = (0L until 16384L).map(i => Option(i * 2)) ++
        Seq(Some(Long.MinValue), Some(Long.MaxValue), None, None, None)
      val df = keys.toDF("k")
        .withColumn("s", format_string("s%09d", col("k") % 1000000000L))
        .withColumn("d", date_add(lit("2020-01-01").cast("date"), (col("k") % 100000L).cast("int")))
        .withColumn("ts", timestamp_seconds(col("k") % 1000000000L))
        .withColumn("dec", (col("k") % 1000000L).cast("decimal(12,2)"))
      Layout.writeSorted(df, "k", Snapshots.path(base.getPath, 1), buckets = 256)
      val dir = Snapshots.path(base.getPath, 1)
      val regions = ranges(dir, "k")
      assert(regions.size >= 256, s"only ${regions.size} region files")
      val snap = Snapshots.read(spark, base.getPath, 1)
      val raw = spark.read.parquet(dir)
      def overlapping(lo: Long, hi: Long): Long =
        regions.count { case (a, b) => a <= hi && b >= lo }.toLong
      def check(what: String, pruned: DataFrame => DataFrame, want: Long): Unit = {
        val (got, files) = run(pruned(snap))
        assert(files == want, s"$what read $files files, want $want")
        assert(got == run(pruned(raw))._1, s"$what rows differ from the unpruned read")
      }

      val (nullLo, nullHi) = regions.head
      // the NULL keys share the first region's file
      assert(spark.read.parquet(dir).where(col("k").isNull || col("k") === nullLo)
        .select(input_file_name()).distinct().count() == 1L)
      val gap = regions(3)._2 + 1
      assert(gap < regions(4)._1, "no key gap between regions 3 and 4")
      val gets = Seq(
        "region start" -> regions(7)._1, "region end" -> regions(7)._2,
        "last region end" -> regions.last._2, "Long.MinValue" -> Long.MinValue,
        "Long.MaxValue" -> Long.MaxValue, "absent, inside a region" -> (regions(9)._1 + 1),
        "absent, between regions" -> gap, "absent, inside the last region" -> (Long.MaxValue - 1),
        "beside NULL keys" -> nullHi, "NULL-key region start" -> nullLo)
      gets.foreach { case (what, k) =>
        check(s"Get $what ($k)", Scans.get(_, "k", k, cols), overlapping(k, k))
      }
      assert(gets.filterNot(_._1.startsWith("absent")).forall { case (_, k) => overlapping(k, k) == 1L })

      val ten = Seq(regions(1)._1, regions(1)._2, regions(40)._1 + 2, regions(41)._1,
        regions(100)._2, regions(200)._1 + 1, gap, Long.MaxValue, -7L, regions(255)._1)
      check("10-key multiGet", Scans.multiGet(_, "k", ten, cols),
        regions.count { case (a, b) => ten.exists(k => a <= k && k <= b) }.toLong)
      // past 10 members the optimizer turns the In into an InSet
      val many = (0 until 30).map(i => regions(i * 8)._1)
      check("30-key multiGet", Scans.multiGet(_, "k", many, cols), 30L)

      val (lo, hi) = (regions(10)._1 + 3, regions(13)._2)
      check("range", Scans.range(_, "k", lo, hi, cols), overlapping(lo, hi - 1))
      check("range up to Long.MaxValue", Scans.range(_, "k", Long.MaxValue - 10, Long.MaxValue, cols),
        overlapping(Long.MaxValue - 10, Long.MaxValue - 1))
      check("range in a gap", Scans.range(_, "k", gap, gap + 1, cols), 0L)
      val start = regions(250)._1 + 1
      check("small scan", Scans.small(_, "k", start, 25, cols), overlapping(start, Long.MaxValue))
      check("Or of two Gets", _.where(col("k") === regions(5)._1 || col("k") === regions(6)._1), 2L)
      check("And with a string residual", _.where(col("k") === regions(5)._1 && col("s").isNotNull), 1L)

      // no pruning on string, date, timestamp or decimal predicates, nor
      // on a NULL test
      val all = regions.size.toLong
      check("string =", _.where(col("s") === "s000000084"), all)
      check("string <", _.where(col("s") < "s000000010"), all)
      check("date =", _.where(col("d") === lit("2020-01-05").cast("date")), all)
      check("timestamp >", _.where(col("ts") > timestamp_seconds(lit(999999990L))), all)
      check("decimal =", _.where(col("dec") === lit(BigDecimal("84.00"))), all)
      check("IS NULL", _.where(col("k").isNull), all)
    } finally rm(base)
  }

  test("an empty version and an IntegerType key read only what can hold the key") {
    val base = TempDirs.create("graft_regions_small").toFile
    try {
      import spark.implicits._
      Snapshots.write(Seq.empty[(Long, String)].toDF("k", "v"), "k", base.getPath, 1)
      val empty = Snapshots.read(spark, base.getPath, 1)
      val (rows, files) = run(Scans.get(empty, "k", 5L, Seq("k", "v")))
      assert(rows.isEmpty && files == 0L, s"empty version: $rows from $files files")
      assert(empty.schema == spark.read.parquet(Snapshots.path(base.getPath, 1)).schema)

      val ints = (1 to 4000).map(k => (k, s"v$k")).toDF("k", "v")
      Layout.writeSorted(ints, "k", Snapshots.path(base.getPath, 2), buckets = 16)
      val snap = Snapshots.read(spark, base.getPath, 2)
      val dir = Snapshots.path(base.getPath, 2)
      assert(ranges(dir, "k").size == 16)
      Seq(1, 250, 2001, 4000).foreach { k =>
        val (got, n) = run(snap.where(col("k") === k))
        assert(n == 1L, s"Get $k on an int key read $n files")
        assert(got == Seq(Row(k, s"v$k").toString))
      }
      val (none, n0) = run(snap.where(col("k") === 4001))
      assert(none.isEmpty && n0 == 0L, s"absent int key read $n0 files")
      val (in, nIn) = run(snap.where(col("k").isin(1, 4000)))
      assert(in.size == 2 && nIn == 2L, s"int In read $nIn files")
    } finally rm(base)
  }

  /** A memo miss on `path`: no Spark job, and Spark's own inferred
    * schema for the relation under the (for events, ts-normalized)
    * read. The memo key does not carry `events`, so the entry made here
    * is dropped again: a later `Tables.load` must not find it. */
  private def resolvesLikeSpark(path: String, events: Boolean): Unit = {
    Tables.readMemo.keySet().removeIf(_.path == path)
    try {
      var df: DataFrame = null
      val n = jobsIn { df = Tables.read(spark, path, s"spec: $path", events) }
      assert(n == 0, s"resolving $path started $n jobs")
      val got = graft.core.Region.of(df)._2.schema
      assert(got == spark.read.parquet(path).schema, s"$path: $got vs ${spark.read.parquet(path).schema}")
    } finally Tables.readMemo.keySet().removeIf(_.path == path)
  }

  test("a read-memo miss starts no Spark job and resolves Spark's inferred schema") {
    // control: the listener sees an unmemoized read's inference job
    assert(jobsIn(spark.read.parquet(s"$sfDir/region.parquet")) > 0)
    val tables = new java.io.File(sfDir).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted
    assert(tables.length >= 10, tables.mkString(","))
    tables.foreach(t => resolvesLikeSpark(s"$sfDir/$t", events = t == "events.parquet"))

    val base = TempDirs.create("graft_regions_resolve").toFile
    val nanosFlag = "spark.sql.legacy.parquet.nanosAsLong"
    try {
      import spark.implicits._
      Snapshots.write(Tables.load(spark, sfDir, "orders"), "o_orderkey", base.getPath, 1)
      resolvesLikeSpark(Snapshots.path(base.getPath, 1), events = false)

      val ntz = s"${base.getPath}/ntz/events.parquet"
      Seq((1L, "2024-01-02 03:04:05.123456", 7L)).toDF("event_id", "s", "user_id")
        .select(col("event_id"), col("s").cast("timestamp_ntz").as("ts"), col("user_id"))
        .repartition(2).write.parquet(ntz)
      resolvesLikeSpark(ntz, events = true)

      import org.apache.hadoop.fs.Path
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.hadoop.util.HadoopOutputFile
      import org.apache.parquet.schema.MessageTypeParser
      val nanos = new java.io.File(base, "nanos/events.parquet")
      nanos.mkdirs()
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
      Seq("part-00000", "part-00001").zipWithIndex.foreach { case (name, i) =>
        val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
            new Path(new java.io.File(nanos, s"$name.parquet").getPath),
            spark.sparkContext.hadoopConfiguration))
          .withType(schema).build()
        try w.write(new SimpleGroupFactory(schema).newGroup()
          .append("event_id", i.toLong).append("ts", 1704164645123456000L + i))
        finally w.close()
      }
      spark.conf.unset(nanosFlag)
      // the NANOS generation sets the flag before the schema is derived,
      // so Spark's inference below runs under the same flag
      resolvesLikeSpark(nanos.getPath, events = true)
      val ev = Tables.load(spark, s"${base.getPath}/nanos", "events")
      assert(ev.orderBy("event_id").select(date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        .as[String].collect().toSeq == Seq("2024-01-02 03:04:05.123456", "2024-01-02 03:04:05.123456"))
    } finally {
      spark.conf.unset(nanosFlag)
      rm(base)
    }
  }

  test("two resolutions of one path are the same relation to sameResult") {
    val path = s"$sfDir/orders.parquet"
    Tables.readMemo.keySet().removeIf(_.path == path)
    val a = Tables.read(spark, path, "spec")
    Tables.readMemo.keySet().removeIf(_.path == path)
    val b = Tables.read(spark, path, "spec")
    assert(!(a eq b))
    assert(a.queryExecution.optimizedPlan.sameResult(b.queryExecution.optimizedPlan))
  }
}
