package graft

import org.apache.spark.{SparkThrowable, TaskContext}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.storage.TaskHoldings

import graft.core.{Fetch, FetchExec, Layout, Snapshots}
import graft.kv.{Mutations, Scans}

/** In-thread fetch ([[graft.core.Fetch]]): a collect of a small scan
  * pipeline runs its partitions on the calling thread, starts no Spark
  * job, and returns what the job path returns, metrics included, with
  * nothing left held afterwards. The job path is a session on the same
  * SparkContext without graft's extension, as in ParamLitSpec. */
class FetchSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private lazy val off: SparkSession = {
    val shared = spark
    val s = SparkSession.builder().create()
    SparkSession.setActiveSession(shared)
    SparkSession.setDefaultSession(shared)
    s
  }

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  private val cols = Seq("k", "v", "x")

  /** 4000 even keys and three NULL keys, as 8 sorted region files
    * (version 1), and a delta over it (version 2) that updates 40 keys,
    * adds 40 odd ones and deletes 40. */
  private lazy val base: String = {
    import spark.implicits._
    val b = TempDirs.create("graft_fetch").toString
    val keys = (0L until 4000L).map(i => Option(i * 2)) ++ Seq(None, None, None)
    val df = keys.toDF("k").withColumn("v", format_string("v%d", coalesce(col("k"), lit(-1L))))
      .withColumn("x", coalesce(col("k"), lit(0L)).cast("double") / 4)
    Layout.writeSorted(df, "k", Snapshots.path(b, 1), buckets = 8)
    val puts = ((0L until 40L).map(i => i * 100) ++ (0L until 40L).map(i => i * 100 + 1))
      .map(k => (k, s"w$k", k.toDouble)).toDF("k", "v", "x")
    val dels = (0L until 40L).map(i => i * 100 + 50).toDF("k")
    Snapshots.write(Mutations.deleteRows(Mutations.put(Snapshots.read(spark, b, 1), puts, "k"),
      dels, "k"), "k", b, 2)
    assert(new java.io.File(Snapshots.path(b, 2), "_graft_delta_of_v1").exists,
      "version 2 was not committed as a delta")
    b
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = collect(p) { case s: FileSourceScanExec => s }

  private def scanMetric(df: DataFrame, m: String): Long =
    scans(df.queryExecution.executedPlan).map(_.metrics(m).value).sum

  /** `read` on this session and on the rule-off one: the in-thread
    * collect starts no job, runs under a FetchExec root, and returns the
    * job path's rows and scan metrics. Returns the rows. */
  private def sameAsJobPath(what: String, read: DataFrame => DataFrame, v: Int): Seq[Row] = {
    val on = read(Snapshots.read(spark, base, v))
    val ref = read(Snapshots.read(off, base, v))
    var got: Seq[Row] = Nil
    assert(jobsIn { got = on.collect().toSeq } == 0, s"$what (v$v) started a job")
    assert(on.queryExecution.executedPlan.isInstanceOf[FetchExec], s"$what (v$v): no FetchExec root")
    val want = ref.collect().toSeq
    assert(got.map(_.toString).sorted == want.map(_.toString).sorted, s"$what (v$v) rows")
    for (m <- Seq("numOutputRows", "numFiles"))
      assert(scanMetric(on, m) == scanMetric(ref, m), s"$what (v$v) scan $m")
    got
  }

  test("a Get, a multiGet and a range run in-thread with the job path's rows and scan metrics") {
    for (v <- Seq(1, 2)) {
      assert(sameAsJobPath("present Get", Scans.get(_, "k", 2400L, cols), v).size == 1)
      assert(sameAsJobPath("absent Get", Scans.get(_, "k", 2403L, cols), v).isEmpty)
      // NULL keys sort into the first region, beside key 0
      sameAsJobPath("Get beside NULL keys", Scans.get(_, "k", 0L, cols), v)
      val ten = Seq(0L, 2L, 100L, 101L, 150L, 3000L, 3001L, 5998L, 7998L, 9999L)
      sameAsJobPath("10-key multiGet", Scans.multiGet(_, "k", ten, cols), v)
      assert(sameAsJobPath("range", Scans.range(_, "k", 1000L, 3100L, cols), v).size > 1000)
    }
  }

  test("partition ids, row ids, rand and input file names match the job path over a multi-file read") {
    val read: DataFrame => DataFrame = Scans.range(_, "k", 1000L, 5000L, cols)
      .select(col("k"), spark_partition_id().as("pid"), monotonically_increasing_id().as("id"),
        rand(7).as("r"), input_file_name().as("file"))
    for (v <- Seq(1, 2)) {
      val rows = sameAsJobPath("nondeterministic columns", read, v)
      assert(rows.map(_.getInt(1)).distinct.size > 1, s"v$v: one partition only")
      assert(rows.map(_.getString(4)).distinct.size > 1, s"v$v: one file only")
    }
  }

  test("a read past Fetch.MaxBytes, or past Fetch.MaxPartitions, starts one job and returns the same rows") {
    import spark.implicits._
    // one region file past the byte bound: 200k rows of 64 hex digits
    val b = TempDirs.create("graft_fetch_big").toString
    Layout.writeSorted((0L until 200000L).toDF("k").withColumn("v", sha2(col("k").cast("string"), 256)),
      "k", Snapshots.path(b, 1), buckets = 1)
    val big = Scans.get(Snapshots.read(spark, b, 1), "k", 77L, Seq("k", "v"))
    assert(scans(big.queryExecution.executedPlan).head.selectedPartitions.totalFileSize > Fetch.MaxBytes)
    var got: Seq[Row] = Nil
    assert(jobsIn { got = big.collect().toSeq } == 1)
    assert(big.queryExecution.executedPlan.isInstanceOf[FetchExec])
    assert(got == Scans.get(Snapshots.read(off, b, 1), "k", 77L, Seq("k", "v")).collect().toSeq && got.size == 1)
    rm(new java.io.File(b))
    // a small read split finer than the partition bound
    val fine = spark.newSession()
    fine.conf.set("spark.sql.files.maxPartitionBytes", "4096")
    for (v <- Seq(1, 2)) {
      val df = Scans.range(Snapshots.read(fine, base, v), "k", 1000L, 3100L, cols)
      val scan = scans(df.queryExecution.executedPlan).head
      assert(scan.selectedPartitions.totalFileSize <= Fetch.MaxBytes)
      assert(scan.inputRDD.partitions.length > Fetch.MaxPartitions, s"v$v")
      var rows: Seq[String] = Nil
      assert(jobsIn { rows = df.collect().map(_.toString).toSeq.sorted } == 1, s"v$v")
      assert(df.queryExecution.executedPlan.isInstanceOf[FetchExec])
      val want = Scans.range(Snapshots.read(off, base, v), "k", 1000L, 3100L, cols)
        .collect().map(_.toString).toSeq.sorted
      assert(rows == want, s"v$v rows")
    }
  }

  test("an in-thread read posts its scan metrics to the SQL status store") {
    val df = Scans.get(Snapshots.read(spark, base, 1), "k", 2400L, cols)
    assert(jobsIn(df.collect()) == 0)
    val rowsId = scans(df.queryExecution.executedPlan).head.metrics("numOutputRows").id
    val store = spark.sharedState.statusStore
    val execution = store.executionsList().filter(_.metrics.exists(_.accumulatorId == rowsId))
    assert(execution.size == 1, "no SQL execution lists the scan's metrics")
    val rows = scanMetric(df, "numOutputRows")
    assert(rows > 0)
    assert(store.executionMetrics(execution.head.executionId).get(rowsId).contains(rows.toString))
  }

  test("threads collecting one Dataset in-thread read its rows, and the next collect its metrics") {
    val df = Scans.range(Snapshots.read(spark, base, 2), "k", 1000L, 3100L, cols)
    var want: Seq[String] = Nil
    assert(jobsIn { want = df.collect().map(_.toString).toSeq.sorted } == 0)
    val once = scanMetric(df, "numOutputRows")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val wrong = (0 until 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int = (0 until 10).count(_ => df.collect().map(_.toString).toSeq.sorted != want)
        })
      }.map(_.get()).sum
      assert(wrong == 0, s"$wrong of 40 concurrent collects read other rows")
    } finally pool.shutdown()
    // each action resets the plan's metrics before it reads
    df.collect()
    assert(scanMetric(df, "numOutputRows") == once)
  }

  test("small scans, closestRowBefore, head and take run in-thread, ties and short tables included") {
    import spark.implicits._
    val b = TempDirs.create("graft_fetch_ties").toString
    // each key three times, with distinct values
    Layout.writeSorted((0L until 3000L).map(i => (i / 3, s"v$i")).toDF("k", "v"), "k",
      Snapshots.path(b, 1), buckets = 4)
    def both(what: String, read: DataFrame => DataFrame): (Seq[Row], Seq[Row]) = {
      val on = read(Snapshots.read(spark, b, 1))
      var got: Seq[Row] = Nil
      assert(jobsIn { got = on.collect().toSeq } == 0, s"$what started a job")
      assert(on.queryExecution.executedPlan.isInstanceOf[FetchExec], s"$what: no FetchExec root")
      (got, read(Snapshots.read(off, b, 1)).collect().toSeq)
    }
    val all = Snapshots.read(spark, b, 1).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def valid(rows: Seq[Row]): Unit = {
      assert(rows.map(_.toString).distinct.size == rows.size, "a row twice")
      assert(rows.forall(r => all((r.getLong(0), r.getString(1)))), "a row not in the table")
    }
    // the cut falls inside a tie group: the keys, in order, are the job
    // path's; which tied rows fill the last places is unspecified
    val (cut, cutRef) = both("small, cut inside ties", Scans.small(_, "k", 500L, 20, Seq("k", "v")))
    assert(cut.map(_.getLong(0)) == cutRef.map(_.getLong(0)) && cut.size == 20)
    valid(cut)
    // the cut at a group boundary: the same rows
    val (whole, wholeRef) = both("small, whole groups", Scans.small(_, "k", 500L, 21, Seq("k", "v")))
    assert(whole.map(_.getLong(0)) == wholeRef.map(_.getLong(0)))
    assert(whole.map(_.toString).sorted == wholeRef.map(_.toString).sorted)
    // a limit past the rows left: every row from the start, in key order
    val (tail, tailRef) = both("small past the end", Scans.small(_, "k", 990L, 500, Seq("k", "v")))
    assert(tail.size == 30 && tail.map(_.getLong(0)) == tail.map(_.getLong(0)).sorted)
    assert(tail.map(_.toString).sorted == tailRef.map(_.toString).sorted)
    // the projection drops the sort key
    val (proj, projRef) = both("small, key not projected", Scans.small(_, "k", 7L, 6, Seq("v")))
    assert(proj.map(_.toString).sorted == projRef.map(_.toString).sorted)

    val (before, beforeRef) = both("closestRowBefore", Scans.closestRowBefore(_, "k", 1200L, Seq("k", "v")))
    assert(before.map(_.getLong(0)) == Seq(999L) && beforeRef.map(_.getLong(0)) == Seq(999L))
    valid(before)
    // head/take plan as CollectLimitExec: rows in partition order, as executeTake reads them
    val (head, headRef) = both("range head", Scans.range(_, "k", 100L, 900L, Seq("k", "v")).limit(50))
    assert(head == headRef && head.size == 50)
    val (short, shortRef) = both("limit past the rows", Scans.get(_, "k", 40L, Seq("k", "v")).limit(10))
    assert(short.map(_.toString).sorted == shortRef.map(_.toString).sorted && short.size == 3)
    val (offset, offsetRef) = both("limit with offset", Scans.range(_, "k", 100L, 900L, Seq("k", "v")).offset(5).limit(7))
    assert(offset == offsetRef && offset.size == 7)
    rm(new java.io.File(b))
  }

  test("a plan with an exchange, a join or a subquery keeps the job path") {
    val snap = Snapshots.read(spark, base, 1)
    snap.createOrReplaceTempView("fetch_spec_v1")
    val plans = Seq(
      snap.groupBy(col("k") % 3).count(),
      snap.orderBy(col("x")),
      snap.join(Scans.get(snap, "k", 4L, Seq("k")), "k"),
      spark.sql("SELECT k, v FROM fetch_spec_v1 WHERE k = (SELECT k FROM fetch_spec_v1 WHERE k = 6)"))
    plans.foreach { df =>
      assert(jobsIn(df.collect()) > 0)
      assert(!df.queryExecution.executedPlan.isInstanceOf[FetchExec],
        df.queryExecution.executedPlan.treeString)
    }
    assert(plans.last.collect().toSeq == Seq(Row(6L, "v6")))
  }

  /** The error condition of the first SparkThrowable in `e`'s cause
    * chain, and every message in the chain. */
  private def condition(e: Throwable): (Option[String], String) = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    (chain.collectFirst { case s: SparkThrowable if s.getCondition != null => s.getCondition },
      chain.map(_.getMessage).mkString("\n"))
  }

  test("a failing in-thread read fails as the job path does and leaves nothing held") {
    import spark.implicits._
    val b = TempDirs.create("graft_fetch_fail").toString
    Layout.writeSorted((0L until 4000L).map(k => (k, s"v$k")).toDF("k", "v"), "k",
      Snapshots.path(b, 1), buckets = 4)
    val on = Snapshots.read(spark, b, 1)
    val ref = Snapshots.read(off, b, 1)
    val file = on.where(col("k") === 10L).select(input_file_name()).head().getString(0)
    val (locks0, tasks0) = (TaskHoldings.readLocks(), TaskHoldings.registeredTasks())
    assert(new java.io.File(new java.net.URI(file)).delete(), s"could not delete $file")
    val name = file.substring(file.lastIndexOf('/') + 1)
    val inThread = intercept[Throwable](Scans.get(on, "k", 10L, Seq("k", "v")).collect())
    val jobPath = intercept[Throwable](Scans.get(ref, "k", 10L, Seq("k", "v")).collect())
    val (c1, m1) = condition(inThread)
    val (c2, m2) = condition(jobPath)
    assert(c1.isDefined && c1 == c2, s"in-thread $c1 vs job path $c2")
    assert(m1.contains(name) && m2.contains(name), s"$name not named:\n$m1")
    assert(TaskContext.get() == null)
    assert(TaskHoldings.executionMemoryUsed() == 0L)
    assert(TaskHoldings.readLocks() == locks0)
    assert(TaskHoldings.registeredTasks() == tasks0)
    // a Get on another region still reads
    assert(Scans.get(on, "k", 3990L, Seq("k", "v")).collect().toSeq == Seq(Row(3990L, "v3990")))
    rm(new java.io.File(b))
  }

  test("4 threads of 50 Gets each read correct rows and leave nothing held") {
    val (locks0, tasks0) = (TaskHoldings.readLocks(), TaskHoldings.registeredTasks())
    val snap = Snapshots.read(spark, base, 2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val results = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          override def call(): Seq[String] = (0 until 50).flatMap { i =>
            val k = (t * 50 + i) * 37L % 8000L
            val rows = Scans.get(snap, "k", k, cols).collect().toSeq
            val want: Seq[Row] =
              if (k % 100 == 50 && k < 4000) Nil
              else if (k % 100 <= 1 && k < 4000) Seq(Row(k, s"w$k", k.toDouble))
              else if (k % 2 == 0) Seq(Row(k, s"v$k", k.toDouble / 4))
              else Nil
            Option.when(rows != want)(s"Get $k: $rows, want $want") ++
              Option.when(TaskContext.get() != null)(s"Get $k left a task context")
          }
        })
      }
      val errors = results.flatMap(_.get())
      assert(errors.isEmpty, errors.take(5).mkString("\n"))
    } finally pool.shutdown()
    assert(TaskHoldings.executionMemoryUsed() == 0L)
    assert(TaskHoldings.readLocks() == locks0)
    assert(TaskHoldings.registeredTasks() == tasks0)
  }
}
