package graft

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Deltas, Layout, Snapshots}
import graft.kv.Mutations

/** Client-batch commits ([[graft.kv.Mutations]] over a batch of driver
  * rows): every row op commits the same rows and reads the same as the
  * same batch made table-derived, which takes the distributed plans;
  * put, deleteRows and mutateRow of client rows start no Spark job, and
  * the CAS kinds at most one. */
class ClientBatchSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType), StructField("x", DoubleType)))
  private val keySchema = StructType(Seq(StructField("k", LongType)))

  // 1024 base rows, keys 0, 2, ..., 2046: odd keys are absent
  private val baseRows = (0L until 1024L).map(i => Row(i * 2, s"b${i * 2}", (i % 7) / 7.0))
  private val check: Column = col("x") > 0.5
  private def passes(k: Long): Boolean = k % 2 == 0 && k < 2048 && ((k / 2) % 7) / 7.0 > 0.5

  private def client(rows: Seq[Row], s: StructType = schema): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), s)
  private def puts(keys: Seq[Any], tag: String): Seq[Row] =
    keys.map(k => Row(k, s"$tag$k", 0.25))
  private def dels(keys: Seq[Any]): Seq[Row] = keys.map(Row(_))

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def isDelta(base: String, v: Int): Boolean =
    new java.io.File(Snapshots.path(base, v)).listFiles().exists(_.getName.startsWith(Deltas.Marker))

  /** Two snapshots holding the same v1 (full, `Layout.writeSorted`) and
    * v2 (a delta over v1): one committed to with client batches, one
    * with the same batches made table-derived. */
  private lazy val (clientBase, derivedBase) = {
    val dirs = Seq("graft_client_batch", "graft_derived_batch").map(TempDirs.create(_).toString)
    dirs.foreach { d =>
      Layout.writeSorted(client(baseRows), "k", Snapshots.path(d, 1), buckets = 4)
      Snapshots.write(Mutations.put(Snapshots.read(spark, d, 1),
        client(puts(Seq(4L, 6L, 3001L), "v2_")), "k"), "k", d, 2)
      assert(isDelta(d, 2), s"$d v2 is not a delta")
    }
    (dirs(0), dirs(1))
  }

  private var nextVersion = 10

  /** The kind's row op over `cur`, from a put batch and a delete batch. */
  private def op(kind: String, cur: DataFrame, p: DataFrame, d: DataFrame): DataFrame = kind match {
    case "put" => Mutations.put(cur, p, "k")
    case "deleteRows" => Mutations.deleteRows(cur, d, "k")
    case "checkAndPut" => Mutations.checkAndPut(cur, p, "k", check)
    case "checkAndPutAbsent" => Mutations.checkAndPutAbsent(cur, p, "k")
    case "checkAndDelete" => Mutations.checkAndDelete(cur, d, "k", check)
    case "mutateRow" => Mutations.mutateRow(cur, p, d, "k")
    case "checkAndMutateRow" => Mutations.checkAndMutateRow(cur, p, d, "k", check)
  }

  private val kinds = Seq("put", "deleteRows", "mutateRow",
    "checkAndPut", "checkAndPutAbsent", "checkAndDelete", "checkAndMutateRow")

  /** Build and commit `kind` over version `parent` of both snapshots,
    * as client rows and as table-derived rows; the two commits must
    * write the same rows and read the same. Returns the client commit's
    * job count, whether it wrote a delta, and what it reads. */
  private def both(kind: String, parent: Int, putRows: Seq[Row],
                   delRows: Seq[Row]): (Int, Boolean, Seq[String]) = {
    val v = nextVersion
    nextVersion += 1
    val jobs = jobsIn {
      Snapshots.write(op(kind, Snapshots.read(spark, clientBase, parent),
        client(putRows), client(delRows, keySchema)), "k", clientBase, v)
    }
    val derivedJobs = jobsIn {
      Snapshots.write(op(kind, Snapshots.read(spark, derivedBase, parent),
        client(putRows).repartition(2), client(delRows, keySchema).repartition(2)),
        "k", derivedBase, v)
    }
    // control: the listener sees the distributed path's jobs
    if (putRows.nonEmpty && delRows.nonEmpty)
      assert(derivedJobs > 0, s"$kind over v$parent: table-derived rows started no job")
    val what = s"$kind over v$parent"
    assert(isDelta(clientBase, v) == isDelta(derivedBase, v), s"$what: one path wrote a delta")
    assert(sorted(spark.read.parquet(Snapshots.path(clientBase, v))) ==
      sorted(spark.read.parquet(Snapshots.path(derivedBase, v))), s"$what: committed rows differ")
    val got = sorted(Snapshots.read(spark, clientBase, v))
    assert(got == sorted(Snapshots.read(spark, derivedBase, v)), s"$what: reads differ")
    (jobs, isDelta(clientBase, v), got)
  }

  /** What `kind` leaves of `before` (key -> row string), modelled on the driver. */
  private def model(kind: String, before: Map[Long, String], p: Seq[Row], d: Seq[Row]): Seq[String] = {
    val pk = p.map(r => r.getLong(0) -> r.toString)
    val dk = d.flatMap(r => Option(r.get(0)).map(_.asInstanceOf[Long])).toSet
    val after = kind match {
      case "put" => before ++ pk
      case "deleteRows" => before -- dk
      case "checkAndPut" => before ++ pk.filter(x => before.contains(x._1) && passes(x._1))
      case "checkAndPutAbsent" => before ++ pk.filterNot(x => before.contains(x._1))
      case "checkAndDelete" => before -- dk.filter(k => before.contains(k) && passes(k))
      case "mutateRow" => (before -- dk) ++ pk.filterNot(x => dk(x._1))
      case "checkAndMutateRow" =>
        val pass = (pk.map(_._1).toSet ++ dk).filter(k => before.contains(k) && passes(k))
        (before -- dk.filter(pass)) ++ pk.filter(x => pass(x._1) && !dk(x._1))
    }
    after.values.toSeq.sorted
  }

  private def current(parent: Int): Map[Long, String] =
    Snapshots.read(spark, clientBase, parent).collect().map(r => r.getLong(0) -> r.toString).toMap

  test("every row op commits and reads the same as client rows and as table-derived rows") {
    // present keys (some pass the check, some not), absent keys, and a
    // key only v2 holds; the delete batch overlaps the puts and repeats a key
    val putKeys = Seq(0L, 8L, 10L, 12L, 26L, 40L, 41L, 3001L, 5555L)
    val delKeys = Seq(10L, 12L, 12L, 14L, 27L, 3001L, 9999L)
    for (parent <- Seq(1, 2); kind <- kinds) {
      val before = current(parent)
      val p = puts(putKeys, s"$kind$parent-")
      val d = dels(delKeys)
      val (jobs, delta, got) = both(kind, parent, p, d)
      assert(delta, s"$kind over v$parent did not write a delta")
      assert(got == model(kind, before, p, d), s"$kind over v$parent differs from the model")
      if (kind.startsWith("check")) assert(jobs <= 1, s"$kind over v$parent started $jobs jobs")
      else assert(jobs == 0, s"$kind over v$parent started $jobs jobs")
    }
  }

  test("empty batches, absent keys, NULL delete keys and a CAS no key passes") {
    for (parent <- Seq(1, 2); kind <- kinds) {
      val before = current(parent)
      // an empty batch changes nothing
      val (j0, d0, empty) = both(kind, parent, Nil, Nil)
      assert(d0 && empty == before.values.toSeq.sorted, s"empty $kind over v$parent")
      assert(j0 == 0, s"empty $kind over v$parent started $j0 jobs")
      // keys absent from the base, and NULL delete keys, which match no row
      val absent = puts(Seq(1L, 7L, 4001L), "a")
      val nullDels = dels(Seq(null, 5L, null))
      val (_, _, got) = both(kind, parent, absent, nullDels)
      assert(got == model(kind, before, absent, nullDels), s"absent-key $kind over v$parent")
      // present keys that all fail the check
      val failing = (0L until 2048L by 2).filterNot(passes).take(6)
      val (_, _, none) = both(kind, parent, puts(failing, "f"), dels(failing))
      if (kind.startsWith("check") && kind != "checkAndPutAbsent")
        assert(none == before.values.toSeq.sorted, s"$kind over v$parent applied a failing key")
    }
  }

  /** The message of the `raise_error` that `e` carries. */
  private def raised(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).collectFirst {
      case t: SparkThrowable if t.getCondition == "USER_RAISED_EXCEPTION" => t.getMessage
    }.getOrElse(fail(s"no raise_error in ${e.getMessage}", e))

  test("NULL and duplicate put keys fail with the same message on both paths, the client one when built") {
    val cases = Seq(
      ("put", Seq(Row(null, "n", 0.1), Row(20L, "y", 0.2)), "put: NULL put key"),
      ("checkAndPutAbsent", Seq(Row(null, "n", 0.1)), "checkAndPutAbsent: NULL put key"),
      // mutateRow applies its puts through put, which names itself
      ("mutateRow", Seq(Row(null, "n", 0.1)), "put: NULL put key"),
      ("put", puts(Seq(20L, 21L, 20L), "d"), "put: duplicate put key 20 "),
      ("checkAndPutAbsent", puts(Seq(21L, 21L), "d"), "checkAndPutAbsent: duplicate put key 21 "),
      ("checkAndPut", puts(Seq(10L, 10L), "d"), "put: duplicate put key 10 "),
      ("mutateRow", puts(Seq(22L, 22L), "d"), "put: duplicate put key 22 "))
    for ((kind, rows, want) <- cases; parent <- Seq(1, 2)) {
      val dk = client(dels(Seq(99L)), keySchema)
      val onBuild = intercept[Exception](op(kind, Snapshots.read(spark, clientBase, parent),
        client(rows), dk))
      val onCommit = intercept[Exception](Snapshots.write(op(kind, Snapshots.read(spark, derivedBase, parent),
        client(rows).repartition(2), dk.repartition(2)), "k", derivedBase, nextVersion))
      nextVersion += 1
      assert(raised(onBuild).contains(want), s"$kind: ${raised(onBuild)}")
      assert(raised(onBuild) == raised(onCommit), s"$kind over v$parent")
    }
  }

  test("a client batch past Deltas.maxKeys compacts to a full write, as a table-derived one does") {
    // v1 holds 1024 rows, so the delta bound is 64 keys
    assert(Deltas.maxKeys(1024) == 64)
    val many = (0L until 2048L by 2).take(80)
    for (parent <- Seq(1, 2); kind <- Seq("put", "deleteRows", "mutateRow", "checkAndDelete")) {
      val before = current(parent)
      val p = puts(many, "m")
      val d = dels(if (kind == "mutateRow") many.take(10) else many)
      val (_, delta, got) = both(kind, parent, p, d)
      val changed = model(kind, before, p, d)
      assert(got == changed, s"$kind over v$parent differs from the model")
      if (kind != "checkAndDelete") assert(!delta, s"$kind of 80 keys over v$parent wrote a delta")
    }
  }
}
