package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Deltas, Layout, Snapshots, Tables}
import graft.kv.{Mutations, Scans}

/** Merge-on-read commits ([[graft.core.Deltas]]): a row op committed
  * over an earlier version writes a delta, and every version reads the
  * same as a driver model of the ops and as the same contents written
  * in full. */
class MergeOnReadSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val schemaOf = (kt: DataType) => StructType(Seq(
    StructField("k", kt), StructField("s", StringType), StructField("x", DoubleType)))

  private def isDelta(base: String, v: Int): Boolean =
    new java.io.File(Snapshots.path(base, v)).listFiles().exists(_.getName.startsWith(Deltas.Marker))

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Every file of a version dir with its length and mtime. */
  private def listing(base: String, v: Int): Seq[(String, Long, Long)] =
    new java.io.File(Snapshots.path(base, v)).listFiles().toSeq
      .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1)

  /** The tiers of version `v`'s chain; 0 for a full version. */
  private def chain(base: String, v: Int): Int =
    graft.core.Region.of(Snapshots.read(spark, base, v))._3.delta.fold(0)(_.tiers.size)

  /** A random sequence of `commits` row ops over a base of `n` keyed
    * rows (Long extremes included when the key is a long) plus three
    * NULL-key rows, checked after every commit against a driver model
    * and a full write of the same plan, with one older version reread
    * in turn; no version's chain may hold more than 10 tiers.
    * Afterwards every older version must still list the same files
    * and read the same rows. Returns the minor and the major
    * compactions seen. */
  private def differential(kt: DataType, seed: Long, n: Int, commits: Int): (Int, Int) = {
    val rnd = new scala.util.Random(seed)
    val base = TempDirs.create(s"graft_mor_${kt.simpleString}").toString
    val fullBase = TempDirs.create(s"graft_mor_full_${kt.simpleString}").toString
    def key(l: Long): Any = if (kt == IntegerType) l.toInt else l
    val extremes =
      if (kt == LongType) Seq(Long.MinValue, Long.MaxValue)
      else Seq(Int.MinValue.toLong, Int.MaxValue.toLong)
    val pool = (extremes ++ (1 to n * 2).map(_ => (rnd.nextInt(200000) - 100000).toLong)).distinct
    val model = scala.collection.mutable.Map[Long, (String, Double)]()
    pool.take(n).foreach(k => model(k) = (s"b$k", rnd.nextDouble()))
    val nulls = Seq(Row(null, "n1", 0.9), Row(null, "n2", 0.1), Row(null, "n3", 0.6))
    def df(rows: Seq[Row], schema: StructType = schemaOf(kt)) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    def rowOf(k: Long, v: (String, Double)) = Row(key(k), v._1, v._2)
    def modelRows: Seq[String] =
      (model.toSeq.map { case (k, v) => rowOf(k, v) } ++ nulls).map(_.toString).sorted
    Snapshots.write(df(model.toSeq.map { case (k, v) => rowOf(k, v) } ++ nulls), "k", base, 1)
    val deleted = scala.collection.mutable.Set[Long]()
    def pick(m: Int): Seq[Long] = {
      // present keys, absent keys, and keys deleted earlier (re-puts)
      val present = rnd.shuffle(model.keys.toSeq).take(m)
      val absent = rnd.shuffle(pool.filterNot(model.contains)).take(m / 3 + 1)
      val again = rnd.shuffle(deleted.toSeq).take(2)
      (present ++ absent ++ again).distinct
    }
    val check: Column = col("x") > 0.5
    def passes(k: Long) = model.get(k).exists(_._2 > 0.5)
    val kinds = Seq("put", "deleteRows", "checkAndPut", "checkAndPutAbsent",
      "checkAndDelete", "mutateRow", "checkAndMutateRow")
    val history = scala.collection.mutable.ArrayBuffer[(Int, Seq[(String, Long, Long)], Seq[String])]()
    var deltas = 0
    var compactions = 0
    var minors = 0
    (1 to commits).foreach { v =>
      val kind = kinds((v - 1) % kinds.size)
      val puts = pick(6 + rnd.nextInt(8)).map(k => k -> (s"p$v-$k", rnd.nextDouble()))
      val dels = pick(3 + rnd.nextInt(5))
      val putDf = df(puts.map { case (k, p) => rowOf(k, p) })
      val delDf = df(dels.map(k => Row(key(k))), StructType(Seq(StructField("k", kt))))
      val cur = Snapshots.read(spark, base, v)
      val next = kind match {
        case "put" => Mutations.put(cur, putDf, "k")
        case "deleteRows" => Mutations.deleteRows(cur, delDf, "k")
        case "checkAndPut" => Mutations.checkAndPut(cur, putDf, "k", check)
        case "checkAndPutAbsent" => Mutations.checkAndPutAbsent(cur, putDf, "k")
        case "checkAndDelete" => Mutations.checkAndDelete(cur, delDf, "k", check)
        case "mutateRow" => Mutations.mutateRow(cur, putDf, delDf, "k")
        case "checkAndMutateRow" => Mutations.checkAndMutateRow(cur, putDf, delDf, "k", check)
      }
      kind match {
        case "put" => puts.foreach { case (k, p) => model(k) = p }
        case "deleteRows" => dels.foreach(model.remove)
        case "checkAndPut" => puts.foreach { case (k, p) => if (passes(k)) model(k) = p }
        case "checkAndPutAbsent" => puts.foreach { case (k, p) => if (!model.contains(k)) model(k) = p }
        case "checkAndDelete" => dels.filter(passes).foreach(model.remove)
        case "mutateRow" =>
          dels.foreach(model.remove)
          puts.foreach { case (k, p) => if (!dels.contains(k)) model(k) = p }
        case "checkAndMutateRow" =>
          val pass = (puts.map(_._1) ++ dels).filter(passes).toSet
          dels.filter(pass).foreach(model.remove)
          puts.foreach { case (k, p) => if (pass(k) && !dels.contains(k)) model(k) = p }
      }
      deleted ++= dels.filterNot(model.contains)
      Snapshots.write(next, "k", base, v + 1)
      Layout.writeSorted(next, "k", Snapshots.path(fullBase, v + 1))
      val got = sorted(Snapshots.read(spark, base, v + 1))
      assert(got == modelRows, s"v${v + 1} ($kind) differs from the model")
      assert(got == sorted(spark.read.parquet(Snapshots.path(fullBase, v + 1))),
        s"v${v + 1} ($kind) differs from the same plan written in full")
      if (isDelta(base, v + 1)) deltas += 1
      else if (v > 1 && isDelta(base, v)) compactions += 1
      val tiers = chain(base, v + 1)
      assert(tiers <= 10, s"v${v + 1}'s chain holds $tiers tiers")
      if (isDelta(base, v + 1) && isDelta(base, v) && tiers <= chain(base, v)) minors += 1
      history += ((v + 1, listing(base, v + 1), got))
      val (old, _, oldRows) = history(v % history.size)
      assert(sorted(Snapshots.read(spark, base, old)) == oldRows, s"v$old's rows changed by v${v + 1}")
    }
    assert(deltas >= commits / 2, s"only $deltas of $commits commits wrote a delta")
    assert(compactions >= 1, "no commit compacted past the delta bound")
    history.foreach { case (v, files, rows) =>
      assert(listing(base, v) == files, s"v$v's files changed")
      Tables.readMemo.keySet().removeIf(_.path == Snapshots.path(base, v))
      assert(sorted(Snapshots.read(spark, base, v)) == rows, s"v$v's rows changed")
    }
    (minors, compactions)
  }

  test("seeded random row-op sequences over a long key read as the model and as a full write") {
    differential(LongType, seed = 8101L, n = 1200, commits = 35)
  }

  test("seeded random row-op sequences over an int key read as the model and as a full write") {
    differential(IntegerType, seed = 8102L, n = 900, commits = 30)
  }

  test("a hundred seeded commits over tiers merge by the ratio rule and compact in full, reading as the model") {
    val (minors, majors) = differential(LongType, seed = 8103L, n = 4000, commits = 110)
    assert(minors >= 1, "no commit merged tiers")
    assert(majors >= 1, "no commit compacted in full")
  }

  test("the tier window is Tools.compactionSelect's pick on seeded random size lists") {
    import spark.implicits._
    val rnd = new scala.util.Random(8104L)
    val lists = (0 until 240).map { _ =>
      val n = rnd.nextInt(14)
      // small sizes tie often; tier-like sizes mix a fixed cost with growth
      if (rnd.nextBoolean()) Seq.fill(n)(1L + rnd.nextInt(12))
      else Seq.fill(n)(2000L + (rnd.nextInt(4000) * math.pow(2.5, rnd.nextInt(4))).toLong)
    }
    val files = lists.zipWithIndex.flatMap { case (sizes, r) =>
      sizes.zipWithIndex.map { case (sz, i) => (r, i.toLong, sz) }
    }
    val picked = graft.analytics.Tools.compactionSelect(files.toDF("region", "seq", "size"),
      minFiles = Deltas.MinTiers, maxFiles = Deltas.MaxTiers, ratio = Deltas.Ratio)
      .select("region", "first_seq", "n_files").as[(Int, Long, Long)].collect()
      .map { case (r, s, n) => r -> (s.toInt, n.toInt) }.toMap
    lists.zipWithIndex.foreach { case (sizes, r) =>
      assert(Deltas.window(sizes) == picked.get(r), s"sizes $sizes")
    }
    assert(picked.size >= 100, s"only ${picked.size} lists had a window")
    // past 10 tiers with no window, the 10 contiguous tiers of fewest bytes
    val stuck = Seq(90000L, 30000L, 10000L, 4000L, 1500L, 600L, 250L, 100L, 40L, 16L, 7L, 3L)
    assert(Deltas.window(stuck).isEmpty)
    assert(Deltas.select(stuck) == Some((2, 10)))
    assert(Deltas.select(stuck.take(10)).isEmpty)
  }

  /** A snapshot whose v4 reads three tiers the ratio rule leaves apart:
    * v1 holds 16000 even keys (0 to 31998) in 8 region files; v2 puts
    * 400 keys from 10000 with long payloads, v3 60 from 20000, and v4
    * puts 31001 and 31003 and deletes 500 and 502. Returns the
    * snapshot and v4's rows as a model; `counting` puts it under the
    * [[CountingFs]] scheme. */
  private def threeTiers(name: String, counting: Boolean = false): (String, Map[Long, String]) = {
    import spark.implicits._
    val base = if (counting) CountingFs.dir(spark, s"graft_tiers_$name") else TempDirs.create(s"graft_tiers_$name").toString
    val model = scala.collection.mutable.Map[Long, String]()
    (0L until 32000L by 2).foreach(k => model(k) = s"b$k")
    Layout.writeSorted(model.toSeq.toDF("k", "s"), "k", Snapshots.path(base, 1), buckets = 8)
    def put(v: Int, rows: Seq[(Long, String)]): Unit = {
      Snapshots.write(Mutations.put(Snapshots.read(spark, base, v - 1), rows.toDF("k", "s"), "k"), "k", base, v)
      model ++= rows
    }
    put(2, (0L until 400L).map(i => (10000L + 2 * i) -> java.util.UUID.nameUUIDFromBytes(Array(i.toByte, (i >> 8).toByte)).toString * 2))
    put(3, (0L until 60L).map(i => (20000L + 2 * i) -> s"t$i"))
    Snapshots.write(Mutations.mutateRow(Snapshots.read(spark, base, 3), Seq(31001L -> "a", 31003L -> "c").toDF("k", "s"),
      Seq(500L, 502L).toDF("k"), "k"), "k", base, 4)
    model ++= Seq(31001L -> "a", 31003L -> "c")
    model --= Seq(500L, 502L)
    assert(chain(base, 4) == 3, s"v4 reads ${chain(base, 4)} tiers")
    (base, model.toMap)
  }

  /** Rows, files read and scans of `df`'s collect. */
  private def scanned(df: DataFrame): (Seq[String], Long, Int) = {
    val rows = df.collect().map(_.toString).toSeq.sorted
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    (rows, scans.map(_.metrics("numFiles").value).sum, scans.size)
  }

  test("over three tiers a Get reads one file, a range opens only the tiers it holds keys of, and resolving starts no job") {
    val (base, model) = threeTiers("reads")
    Tables.readMemo.keySet().removeIf(_.path == Snapshots.path(base, 4))
    var v4: DataFrame = null
    assert(jobsIn { v4 = Snapshots.read(spark, base, 4) } == 0)
    def row(k: Long) = model.get(k).map(s => s"[$k,$s]").toSeq
    for (k <- Seq(10002L, 20004L, 31001L, 4000L))
      assert(scanned(Scans.get(v4, "k", k, Seq("k", "s"))) == ((row(k), 1L, 1)), s"a Get of $k")
    for (k <- Seq(500L, 40001L))
      assert(scanned(Scans.get(v4, "k", k, Seq("k", "s"))) == ((Nil, 0L, 1)), s"a Get of $k")
    val v1 = Snapshots.read(spark, base, 1)
    def range(lo: Long, hi: Long) = model.toSeq.filter(kv => kv._1 >= lo && kv._1 < hi).sortBy(_._1)
      .map { case (k, s) => s"[$k,$s]" }.sorted
    // [1000, 3000) holds no tier key, [10000, 10100) v2's, [0, 1000) v4's tombstones only
    for (((lo, hi), tiers) <- Seq(((1000L, 3000L), 0L), ((10000L, 10100L), 1L), ((0L, 1000L), 0L),
                                  ((19990L, 20010L), 1L), ((9000L, 32000L), 3L))) {
      val (rows, files, _) = scanned(Scans.range(v4, "k", lo, hi, Seq("k", "s")))
      assert(rows == range(lo, hi), s"range [$lo, $hi)")
      assert(files == scanned(Scans.range(v1, "k", lo, hi, Seq("k", "s")))._2 + tiers, s"files of [$lo, $hi)")
    }
    // concurrent in-thread reads of one Dataset, as FetchSpec's
    val df = Scans.range(v4, "k", 9000L, 21000L, Seq("k", "s"))
    val want = range(9000L, 21000L)
    assert(jobsIn(df.collect()) == 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val wrong = (0 until 4).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          override def call(): Int = (0 until 10).count(_ => df.collect().map(_.toString).toSeq.sorted != want)
        })
      }.map(_.get()).sum
      assert(wrong == 0, s"$wrong of 40 concurrent collects read other rows")
    } finally pool.shutdown()
  }

  test("a tiered version whose middle tier dir was rewritten or deleted fails naming both") {
    import spark.implicits._
    for (how <- Seq("rewritten", "deleted")) {
      val (base, model) = threeTiers(how)
      assert(Snapshots.read(spark, base, 4).count() == model.size.toLong)
      if (how == "rewritten") Snapshots.write(Seq((1L, "x")).toDF("k", "s"), "k", base, 3)
      else org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(Snapshots.path(base, 3)))
      val e = intercept[IllegalStateException](Snapshots.read(spark, base, 4).collect())
      assert(e.getMessage.contains(Snapshots.path(base, 4)), e.getMessage)
      assert(e.getMessage.contains(Snapshots.path(base, 3)), e.getMessage)
      assert(e.getMessage.contains(if (how == "rewritten") "rewritten" else "missing"), e.getMessage)
    }
  }

  test("a truncated marker fails naming the table, the version dir and the marker") {
    import spark.implicits._
    val base = TempDirs.create("graft_mor_marker").toString
    Snapshots.write((1L to 64L).map(k => (k, k)).toDF("k", "v"), "k", base, 1)
    Snapshots.write(Mutations.deleteRows(Snapshots.read(spark, base, 1), Seq(3L).toDF("k"), "k"), "k", base, 2)
    val dir = new java.io.File(Snapshots.path(base, 2))
    assert(!dir.listFiles().exists(_.getName.contains("pending")), "an unpublished marker is left")
    val marker = new java.io.File(dir, s"${Deltas.Marker}1")
    val bytes = java.nio.file.Files.readAllBytes(marker.toPath)
    java.nio.file.Files.write(marker.toPath, bytes.take(bytes.length / 2))
    new java.io.File(dir, s".${marker.getName}.crc").delete()
    val e = intercept[IllegalStateException](Snapshots.read(spark, base, 2).collect())
    for (name <- Seq(base, Snapshots.path(base, 2), marker.getName))
      assert(e.getMessage.contains(name), e.getMessage)
  }

  test("a non-integral key or a commit into another base writes in full") {
    import spark.implicits._
    val a = TempDirs.create("graft_mor_strkey").toString
    Snapshots.write(Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), "k", a, 1)
    Snapshots.write(Mutations.put(Snapshots.read(spark, a, 1), Seq(("c", 3L)).toDF("k", "v"), "k"),
      "k", a, 2)
    assert(!isDelta(a, 2))
    assert(sorted(Snapshots.read(spark, a, 2)) == Seq("[a,1]", "[b,2]", "[c,3]"))

    val x = TempDirs.create("graft_mor_x").toString
    val y = TempDirs.create("graft_mor_y").toString
    Snapshots.write((1L to 64L).map(k => (k, k)).toDF("k", "v"), "k", x, 1)
    val next = Mutations.put(Snapshots.read(spark, x, 1), Seq((5L, 50L)).toDF("k", "v"), "k")
    Snapshots.write(next, "k", y, 2)
    assert(!isDelta(y, 2))
    Snapshots.write(next, "k", x, 2)
    assert(isDelta(x, 2))
    assert(sorted(Snapshots.read(spark, y, 2)) == sorted(Snapshots.read(spark, x, 2)))
  }

  test("a new delta version resolves with no Spark job, and a Get reads one file through one scan") {
    import spark.implicits._
    val base = TempDirs.create("graft_mor_get").toString
    Layout.writeSorted((0L until 4096L).map(k => (k, s"v$k")).toDF("k", "s"), "k",
      Snapshots.path(base, 1), buckets = 16)
    Snapshots.write(Mutations.put(Snapshots.read(spark, base, 1),
      Seq((7L, "put"), (9999L, "new")).toDF("k", "s"), "k"), "k", base, 2)
    assert(isDelta(base, 2))
    Tables.readMemo.keySet().removeIf(_.path == Snapshots.path(base, 2))
    var v2: DataFrame = null
    assert(jobsIn { v2 = Snapshots.read(spark, base, 2) } == 0)
    def get(k: Long): (Seq[String], Long, Int) = {
      val df = Scans.get(v2, "k", k, Seq("k", "s"))
      val rows = df.collect().map(_.toString).toSeq
      val plan = df.queryExecution.executedPlan
      val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
      (rows, scans.map(_.metrics("numFiles").value).sum, scans.size)
    }
    assert(get(7L) == ((Seq("[7,put]"), 1L, 1)), "a Get of a delta key")
    assert(get(9999L) == ((Seq("[9999,new]"), 1L, 1)), "a Get of a key only the delta holds")
    assert(get(100L) == ((Seq("[100,v100]"), 1L, 1)), "a Get of a base key")
    assert(get(5000L) == ((Nil, 0L, 1)), "a Get of an absent key")
    // a batch that changes nothing commits an empty delta
    Snapshots.write(Mutations.checkAndPut(Snapshots.read(spark, base, 1),
      Seq((8L, "x")).toDF("k", "s"), "k", col("s") === "no such value"), "k", base, 3)
    assert(isDelta(base, 3))
    assert(sorted(Snapshots.read(spark, base, 3)) == sorted(Snapshots.read(spark, base, 1)))
  }

  test("a delta version whose base was rewritten or deleted fails naming both") {
    import spark.implicits._
    for (how <- Seq("rewritten", "deleted")) {
      val base = TempDirs.create(s"graft_mor_stale_$how").toString
      Snapshots.write((1L to 64L).map(k => (k, k)).toDF("k", "v"), "k", base, 1)
      Snapshots.write(Mutations.deleteRows(Snapshots.read(spark, base, 1), Seq(3L).toDF("k"), "k"),
        "k", base, 2)
      assert(isDelta(base, 2))
      assert(Snapshots.read(spark, base, 2).count() == 63L)
      if (how == "rewritten") Snapshots.write((1L to 64L).map(k => (k, -k)).toDF("k", "v"), "k", base, 1)
      else org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(Snapshots.path(base, 1)))
      val e = intercept[IllegalStateException](Snapshots.read(spark, base, 2).collect())
      assert(e.getMessage.contains(Snapshots.path(base, 2)), e.getMessage)
      assert(e.getMessage.contains(Snapshots.path(base, 1)), e.getMessage)
      assert(e.getMessage.contains(if (how == "rewritten") "rewritten" else "missing"), e.getMessage)
    }
  }

  test("a tiered version's first read lists its own dir and its base once each and no chain dir; a memo hit makes the check's calls only") {
    import spark.implicits._
    val base = CountingFs.dir(spark, "graft_mor_count")
    Layout.writeSorted((0L until 32000L by 2).map(k => (k, s"b$k")).toDF("k", "s"), "k",
      Snapshots.path(base, 1), buckets = 8)
    def put(v: Int, rows: Seq[(Long, String)]): Unit =
      Snapshots.write(Mutations.put(Snapshots.read(spark, base, v - 1), rows.toDF("k", "s"), "k"), "k", base, v)
    put(2, (0L until 400L).map(i => (10000L + 2 * i) ->
      (java.util.UUID.nameUUIDFromBytes(Array(i.toByte, (i >> 8).toByte)).toString * 2)))
    put(3, (0L until 60L).map(i => (20000L + 2 * i) -> s"t$i"))
    put(4, Seq(31001L -> "a", 31003L -> "c"))
    val tiers = graft.core.Region.of(Snapshots.read(spark, base, 4))._3.delta.get.tiers
    assert(tiers.map(_.version) == Seq(Some(2), Some(3), Some(4)), tiers)
    def dir(v: Int) = new org.apache.hadoop.fs.Path(Snapshots.path(base, v)).toUri.getPath
    val chainFiles = tiers.filter(_.version != Some(4)).map(_.file.toUri.getPath)
    // drop v4 and its base from the read memo: the first read resolves both
    Tables.readMemo.keySet().removeIf(k => k.path == Snapshots.path(base, 4) || k.path == Snapshots.path(base, 1))
    var first: DataFrame = null
    val (jobs, calls) = CountingFs.during(jobsIn { first = Snapshots.read(spark, base, 4) })
    def count(cs: Seq[(String, String)], op: String, path: String) = cs.count(_ == (op -> path))
    assert(jobs == 0, "the first read started a Spark job")
    assert(count(calls, "list", dir(4)) <= 1 && count(calls, "list", dir(1)) <= 1, calls)
    for (v <- Seq(2, 3)) assert(count(calls, "list", dir(v)) <= 1, calls)
    for (f <- chainFiles) assert(count(calls, "stat", f) <= 1, calls)
    // a hit makes only the check's calls: the own listing, the base
    // listing and one stat per chain file in another dir
    var hit: DataFrame = null
    val (hitJobs, hitCalls) = CountingFs.during(jobsIn { hit = Snapshots.read(spark, base, 4) })
    assert(hitJobs == 0, "the memo-hit read started a Spark job")
    assert(hit eq first, "the second read was not a memo hit")
    assert(hitCalls.size <= 4 + chainFiles.size, hitCalls)
    assert(hitCalls.forall(_._1 != "open"), hitCalls)
    assert(hit.count() == 16002L)
  }

  test("a chain tier file rewritten in place fails the next read naming both dirs, memo hit or miss") {
    val (base, model) = threeTiers("inplace")
    val v4 = Snapshots.read(spark, base, 4)
    assert(v4.count() == model.size.toLong)
    val tiers = graft.core.Region.of(v4)._3.delta.get.tiers
    val mid = new java.io.File(tiers.find(_.version == Some(3)).get.file.toUri.getPath)
    val other = new java.io.File(tiers.find(_.version == Some(2)).get.file.toUri.getPath)
    java.nio.file.Files.write(mid.toPath, java.nio.file.Files.readAllBytes(other.toPath))
    new java.io.File(mid.getParentFile, s".${mid.getName}.crc").delete()
    for (drop <- Seq(false, true)) {
      if (drop) Tables.readMemo.keySet().removeIf(_.path == Snapshots.path(base, 4))
      val e = intercept[IllegalStateException](Snapshots.read(spark, base, 4).collect())
      for (name <- Seq(Snapshots.path(base, 4), Snapshots.path(base, 3), "rewritten"))
        assert(e.getMessage.contains(name), e.getMessage)
    }
  }

  test("a marker whose key count runs past its end fails as corrupt, naming the table, the version dir and the marker") {
    import spark.implicits._
    val base = TempDirs.create("graft_mor_count_field").toString
    Snapshots.write((1L to 64L).map(k => (k, k)).toDF("k", "v"), "k", base, 1)
    Snapshots.write(Mutations.deleteRows(Snapshots.read(spark, base, 1), Seq(3L).toDF("k"), "k"), "k", base, 2)
    val dir = new java.io.File(Snapshots.path(base, 2))
    val marker = new java.io.File(dir, s"${Deltas.Marker}1")
    val bytes = java.nio.file.Files.readAllBytes(marker.toPath)
    // the leading fields, as the reader takes them, up to the first own file's key count
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    in.readUTF()
    in.readUTF()
    (0 until in.readInt()).foreach { _ =>
      if (in.readBoolean()) in.readInt()
      in.readUTF()
      in.readInt()
      in.readLong()
      in.readLong()
    }
    assert(in.readInt() >= 1, "the marker lists no own tier file")
    in.readUTF()
    java.nio.ByteBuffer.wrap(bytes).putInt(bytes.length - in.available(), Int.MaxValue)
    java.nio.file.Files.write(marker.toPath, bytes)
    new java.io.File(dir, s".${marker.getName}.crc").delete()
    val e = intercept[IllegalStateException](Snapshots.read(spark, base, 2).collect())
    for (name <- Seq(base, Snapshots.path(base, 2), marker.getName))
      assert(e.getMessage.contains(name), e.getMessage)
  }

  test("a commit over a fresh read lists no dir, and stats or opens only its own dir and the tiers it compacts") {
    import spark.implicits._
    def path(base: String, v: Int) = new org.apache.hadoop.fs.Path(Snapshots.path(base, v)).toUri.getPath
    def tierFiles(base: String, v: Int) =
      graft.core.Region.of(Snapshots.read(spark, base, v))._3.delta.fold(Set.empty[String])(_.tiers.map(_.file.toUri.getPath).toSet)
    val full = CountingFs.dir(spark, "graft_mor_commit_full")
    Layout.writeSorted((0L until 4000L by 2).map(k => (k, s"b$k")).toDF("k", "s"), "k", Snapshots.path(full, 1), buckets = 4)
    val (tiered, _) = threeTiers("commit", counting = true)
    for ((base, u) <- Seq(full -> 1, tiered -> 4)) {
      val next = Mutations.put(Snapshots.read(spark, base, u), Seq(1001L -> "p", 20002L -> "q").toDF("k", "s"), "k")
      val (_, calls) = CountingFs.during(Snapshots.write(next, "k", base, u + 1))
      val chain = tierFiles(base, u + 1)
      assert(chain.nonEmpty, s"v${u + 1} was written in full")
      assert(!calls.exists(_._1 == "list"), s"the commit of v${u + 1} listed: $calls")
      // the parent's tier files merged away were read by a minor compaction
      val compacted = tierFiles(base, u) -- chain
      val own = path(base, u + 1)
      val outside = calls.filterNot { case (_, p) => p == own || p.startsWith(s"$own/") || compacted(p) }
      assert(outside.isEmpty, s"the commit of v${u + 1} touched other files: $outside")
    }
  }

  test("a parent rewritten between its read and the commit fails the new version's read, naming both dirs") {
    import spark.implicits._
    // (parent is tiered, dir rewritten): a full v1 itself, a tiered v2
    // itself, and the base v1 under a tiered v2
    for ((tiered, rewritten) <- Seq(false -> 1, true -> 2, true -> 1)) {
      val base = TempDirs.create("graft_mor_stale_parent").toString
      Snapshots.write((1L to 64L).map(k => (k, k)).toDF("k", "v"), "k", base, 1)
      if (tiered) Snapshots.write(Mutations.deleteRows(Snapshots.read(spark, base, 1), Seq(3L).toDF("k"), "k"),
        "k", base, 2)
      val u = if (tiered) 2 else 1
      assert(isDelta(base, u) == tiered)
      val next = Mutations.put(Snapshots.read(spark, base, u), Seq((5L, 50L), (99L, 9L)).toDF("k", "v"), "k")
      Snapshots.write((1L to 64L).map(k => (k, -k)).toDF("k", "v"), "k", base, rewritten)
      Snapshots.write(next, "k", base, u + 1)
      assert(isDelta(base, u + 1), s"v${u + 1} was written in full")
      val e = intercept[IllegalStateException](Snapshots.read(spark, base, u + 1).collect())
      for (name <- Seq(Snapshots.path(base, u + 1), Snapshots.path(base, rewritten), "rewritten"))
        assert(e.getMessage.contains(name), e.getMessage)
    }
  }

  test("a commit over a read the memo no longer holds still writes a tier, reading as the model") {
    import spark.implicits._
    val full = TempDirs.create("graft_mor_evicted_full").toString
    val fullModel = (0L until 4000L by 2).map(k => k -> s"b$k").toMap
    Layout.writeSorted(fullModel.toSeq.toDF("k", "s"), "k", Snapshots.path(full, 1), buckets = 4)
    val (tiered, tieredModel) = threeTiers("evicted")
    for ((base, u, model) <- Seq((full, 1, fullModel), (tiered, 4, tieredModel))) {
      val puts = Seq(1001L -> "p", 20002L -> "q")
      val next = Mutations.put(Snapshots.read(spark, base, u), puts.toDF("k", "s"), "k")
      Tables.readMemo.clear()
      Snapshots.write(next, "k", base, u + 1)
      assert(isDelta(base, u + 1), s"v${u + 1} was written in full")
      val want = (model ++ puts).toSeq.map { case (k, s) => s"[$k,$s]" }.sorted
      assert(sorted(Snapshots.read(spark, base, u + 1)) == want, s"v${u + 1} differs from the model")
    }
  }

  test("a commit over a parent rewritten and read again before it fails the new version's read, naming both dirs") {
    import spark.implicits._
    for (tiered <- Seq(false, true)) {
      val base = TempDirs.create("graft_mor_stale_reread").toString
      Snapshots.write((1L to 64L).map(k => (k, k)).toDF("k", "v"), "k", base, 1)
      if (tiered) Snapshots.write(Mutations.deleteRows(Snapshots.read(spark, base, 1), Seq(3L).toDF("k"), "k"),
        "k", base, 2)
      val u = if (tiered) 2 else 1
      val next = Mutations.put(Snapshots.read(spark, base, u), Seq((5L, 50L), (99L, 9L)).toDF("k", "v"), "k")
      Snapshots.write((1L to 64L).map(k => (k, -k)).toDF("k", "v"), "k", base, u)
      // the new stamp's read evicts the read `next` was built over
      assert(Snapshots.read(spark, base, u).count() == 64L)
      Snapshots.write(next, "k", base, u + 1)
      val e = intercept[IllegalStateException](Snapshots.read(spark, base, u + 1).collect())
      for (name <- Seq(Snapshots.path(base, u + 1), Snapshots.path(base, u), "rewritten"))
        assert(e.getMessage.contains(name), e.getMessage)
    }
  }

  test("a put over a filtered read, a scanDirect view or a restricted read writes in full") {
    import spark.implicits._
    val base = TempDirs.create("graft_mor_derived").toString
    Snapshots.write((1L to 64L).map(k => (k, k)).toDF("k", "v"), "k", base, 1)
    Snapshots.write(Mutations.deleteRows(Snapshots.read(spark, base, 1), Seq(3L).toDF("k"), "k"), "k", base, 2)
    assert(isDelta(base, 2))
    val bases = Seq(
      "a filtered read" -> Snapshots.read(spark, base, 1).where(col("k") > 0),
      "a scanDirect view" -> Snapshots.scanDirect(spark, base, 1, "k", 0L, 100L),
      "a restricted full read" -> graft.core.Region.restrict(Snapshots.read(spark, base, 1), _ => true),
      "a restricted tiered read" -> graft.core.Region.restrict(Snapshots.read(spark, base, 2), _ => true))
    for (((what, over), i) <- bases.zipWithIndex) {
      val v = 3 + i
      Snapshots.write(Mutations.put(over, Seq((5L, 50L)).toDF("k", "v"), "k"), "k", base, v)
      assert(!isDelta(base, v), s"a put over $what wrote a tier")
      val want = (1L to 64L).filter(k => k != 3L || i < 3).map(k => s"[$k,${if (k == 5L) 50L else k}]").sorted
      assert(sorted(Snapshots.read(spark, base, v)) == want, s"a put over $what")
    }
  }
}
