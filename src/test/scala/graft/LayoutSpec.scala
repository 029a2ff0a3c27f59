package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.{Layout, Snapshots, Tables}

class LayoutSpec extends SparkSpec {

  test("sorted layout: rowkey predicate reaches the parquet scan (region pruning)") {
    val dir = TempDirs.create("graft_layout").toString
    Layout.writeSorted(Tables.load(spark, sfDir, "orders"), "o_orderkey", dir, buckets = 4)
    val scan = Layout.read(spark, dir)
      .where(col("o_orderkey") >= 1000 && col("o_orderkey") < 2000)
      .select("o_orderkey", "o_totalprice")
    val plan = scan.queryExecution.executedPlan.toString()
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), GreaterThanOrEqual(o_orderkey,1000)"),
      s"rowkey range not pushed:\n$plan")
    assert(plan.contains("ReadSchema") && !plan.contains("o_orderdate"),
      "projection not pruned to the selected columns")
    // file-level key ranges are disjoint (regions): every file's [min,max]
    // must not overlap any other's
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg(min("o_orderkey").as("lo"), max("o_orderkey").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"overlapping file ranges: $ranges")
      case _ =>
    }
  }

  test("bucketed tables join without a shuffle (co-located join)") {
    import org.apache.spark.sql.functions.sum
    import scala.reflect.io.Directory
    Seq("b_orders", "b_lineitem").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      new Directory(new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:") + s"/$t"))
        .deleteRecursively()
    }
    Layout.writeBucketed(Tables.load(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice"), "o_orderkey", 4, "b_orders")
    Layout.writeBucketed(Tables.load(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity"), "l_orderkey", 4, "b_lineitem")
    // force the non-broadcast path so the bucketing (not a tiny-table
    // broadcast) is what eliminates the shuffle — at real scale neither
    // side fits in a broadcast anyway
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_custkey").agg(sum("l_quantity"))
      val p = joined.queryExecution.executedPlan.toString()
      assert(p.contains("SortMergeJoin"), s"expected SMJ:\n$p")
      // the join inputs must come straight from the bucketed scans — the
      // only allowed exchange is the one AFTER the join for the groupBy
      val joinSection = p.split("SortMergeJoin", 2)(1)
      assert(!joinSection.contains("Exchange"),
        s"shuffle under the bucketed join:\n$p")
      assert(joined.collect().nonEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("snapshot versions are immutable point-in-time reads") {
    val dir = TempDirs.create("graft_snap").toString
    val v1 = Tables.load(spark, sfDir, "orders").select("o_orderkey", "o_totalprice")
    Snapshots.write(v1, "o_orderkey", dir, 1)
    Snapshots.write(v1.where(col("o_orderkey") % 2 === 0), "o_orderkey", dir, 2)
    assert(Snapshots.read(spark, dir, 1).count() == v1.count())
    assert(Snapshots.read(spark, dir, 2).count() < v1.count())
  }

  test("scanDirect manifest memo is evicted when its version is rewritten") {
    import spark.implicits._
    val dir = TempDirs.create("graft_memo").toString
    val v1 = (1L to 100L).map(k => (k, k * 2)).toDF("k", "v")
    Snapshots.write(v1, "k", dir, 1)
    // prime the memo: this caches v=1's part-file manifest
    assert(Snapshots.scanDirect(spark, dir, 1, "k", 1L, 101L).count() == 100L)
    // REWRITE the same version (the documented half-written-version
    // recovery path): mode(overwrite) deletes the cached part files,
    // so a stale manifest would read deleted paths or stale rows
    val v1b = (1L to 40L).map(k => (k, k * 3)).toDF("k", "v")
    Snapshots.write(v1b, "k", dir, 1)
    val after = Snapshots.scanDirect(spark, dir, 1, "k", 1L, 101L)
    assert(after.count() == 40L, "stale manifest survived the rewrite")
    assert(after.where(col("k") === 5L).select("v").as[Long].head() == 15L)
  }

  test("scanDirect heals an out-of-process rewrite that ran no eviction (validate-on-use)") {
    import spark.implicits._
    // the r12 verdict's residual window: eviction covers every
    // replacement site IN THIS JVM; a rewrite by another process runs
    // none of them. Every replacement writes fresh random part-file
    // names, so staleness shows as missing files — the whole-manifest
    // existence probe must REBUILD, not FileNotFound, and not return a
    // wrong empty pick when the new data lives in a key range the old
    // regions never covered.
    val dir = TempDirs.create("graft_heal").toString
    val v1 = (1L to 100L).map(k => (k, k * 2)).toDF("k", "v")
    Snapshots.write(v1, "k", dir, 1)
    // prime the memo
    assert(Snapshots.scanDirect(spark, dir, 1, "k", 1L, 101L).count() == 100L)
    // rewrite the version dir BEHIND the memo: writeSorted straight at
    // the version path — the in-JVM stand-in for another process's
    // replacement (Snapshots.write would evict; this does not)
    val v1b = (200L to 219L).map(k => (k, k * 3)).toDF("k", "v")
    Layout.writeSorted(v1b, "k", Snapshots.path(dir, 1))
    // stale manifest picks ZERO old regions for [200, 220) — the probe
    // must still detect the dead files and rebuild
    val healed = Snapshots.scanDirect(spark, dir, 1, "k", 200L, 220L)
    assert(healed.count() == 20L,
      "stale manifest survived the out-of-process rewrite")
    assert(healed.where(col("k") === 205L).select("v").as[Long].head() == 615L)
    // and the OLD key range now correctly reads empty, not FileNotFound
    assert(Snapshots.scanDirect(spark, dir, 1, "k", 1L, 101L).count() == 0L)
  }

  test("scanDirect does not trust a memoized EMPTY manifest (r13: filled-behind-memo heals)") {
    import spark.implicits._
    // an empty manifest has no file paths to probe, so the existence
    // check can never detect an out-of-process fill — a previously
    // empty version returned a wrong empty result forever
    val dir = TempDirs.create("graft_emptymemo").toString
    val empty = Seq.empty[(Long, Long)].toDF("k", "v")
    Snapshots.write(empty, "k", dir, 1)
    assert(Snapshots.scanDirect(spark, dir, 1, "k", 0L, 100L).count() == 0L)
    // fill the version BEHIND the memo (no eviction site runs)
    Layout.writeSorted((1L to 30L).map(k => (k, k)).toDF("k", "v"),
      "k", Snapshots.path(dir, 1))
    assert(Snapshots.scanDirect(spark, dir, 1, "k", 0L, 100L).count() == 30L,
      "memoized empty manifest survived the out-of-process fill")
  }

  test("writeBucketed refuses a non-identifier table name (SQL splice guard)") {
    val e = intercept[IllegalArgumentException] {
      Layout.writeBucketed(
        Tables.load(spark, sfDir, "region"), "r_regionkey", 2,
        "t` ; DROP TABLE `other")
    }
    assert(e.getMessage.contains("must match [A-Za-z0-9_]+"), e.getMessage)
  }

  test("scanDirect widens integral keys and rejects string keys loudly") {
    import spark.implicits._
    val dir = TempDirs.create("graft_intkey").toString
    // IntegerType rowkey: the manifest collect reads Longs — the cast
    // inside regionManifest must widen, not ClassCastException at scan
    val v = (1 to 50).map(k => (k, s"r$k")).toDF("k", "v")
    Snapshots.write(v, "k", dir, 1)
    assert(Snapshots.scanDirect(spark, dir, 1, "k", 10L, 20L).count() == 10L)
    // a string rowkey has no numeric range semantics — named refusal
    val sdir = TempDirs.create("graft_strkey").toString
    Snapshots.write(v.withColumn("k", concat(lit("k"), col("k"))), "k", sdir, 1)
    val e = intercept[IllegalArgumentException](
      Snapshots.scanDirect(spark, sdir, 1, "k", 10L, 20L).count())
    assert(e.getMessage.contains("integral key column"), e.getMessage)
  }

  test("Tables.load(events) does not leak nanosAsLong into the session (micros generation)") {
    val flag = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(flag)
    val df = Tables.load(spark, sfDir, "events")
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // the testdata generation is MICROS/NTZ — the probe flag must be
    // restored (getOption surfaces the registered DEFAULT "false", so
    // assert the value, not absence) so unrelated TIMESTAMP(NANOS)
    // parquet still fails loudly instead of silently decoding as long
    assert(spark.conf.get(flag) == "false",
      s"$flag leaked into the session as ${spark.conf.get(flag)}")
  }

  test("Intervals.literal: multi-unit and fractional literals pass, injection fails") {
    import graft.core.Intervals
    // Spark's own INTERVAL parser accepts these — the splice guard
    // must not narrow the operator input language (r12 ADVICE)
    for (ok <- Seq("10 DAYS", "1 DAY 12 HOURS", "1.5 SECONDS",
                   "2 weeks 3 days", " 7 day ", "1 YEAR 2 MONTHS")) {
      val c = Intervals.literal(ok)
      // parse it for real: a literal the guard passes but the parser
      // rejects would fail operators at plan time
      spark.range(1).select(
        (current_timestamp() - c).as("t")).collect()
    }
    // the parser's own error classes must fail HERE with the named
    // error, never as an unnamed ParseException from inside the plan:
    // fractions off seconds, year-month mixed into day-time, and a
    // missing group separator
    for (bad <- Seq("10; DROP TABLE x", "DAYS 10", "10", "ten days",
                    "10 fortnights", "0.5 HOURS", "1 MONTH 5 DAYS",
                    "1 DAY2 HOURS", null)) {
      intercept[IllegalArgumentException](Intervals.literal(bad))
    }
  }

  test("restore rolls the table back to the snapshot; clones are unaffected") {
    import spark.implicits._
    val dir = TempDirs.create("graft_restore").toString
    val snap = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "name", "v")
    Snapshots.write(snap, "k", dir, 1)
    // current state drifts three ways: k=1 deleted, k=2 updated,
    // k=9 inserted after the snapshot
    val current = Seq((2L, "b", 99.0), (3L, "c", 30.0), (9L, "z", 1.0))
      .toDF("k", "name", "v")
    Snapshots.write(current, "k", dir, 2)
    // a clone taken from the snapshot BEFORE the rollback
    val cloneDir = TempDirs.create("graft_restore_clone").toString
    Snapshots.exportSnapshot(dir, 1, cloneDir)
    // the in-place rollback: v3 becomes the serving state
    Snapshots.restore(dir, 1, 3)
    val restored = Snapshots.read(spark, dir, 3)
      .orderBy("k").as[(Long, String, Double)].collect()
    assert(restored.sameElements(Array((1L, "a", 10.0), (2L, "b", 20.0),
      (3L, "c", 30.0))), restored.mkString(","))
    // the audit prices exactly what the rollback changed
    val audit = Snapshots.restoreAudit(
        Snapshots.read(spark, dir, 1), Snapshots.read(spark, dir, 2),
        "k", Seq("name", "v"))
      .orderBy("k").as[(Long, String)].collect()
    assert(audit.sameElements(Array((1L, "resurrected"),
      (2L, "reverted_update"), (9L, "discarded_insert"))), audit.mkString(","))
    // clone independence: the origin's restore must not perturb a
    // clone taken from the snapshot (copy-on-write placement)
    val clone = Snapshots.read(spark, cloneDir, 1)
      .orderBy("k").as[(Long, String, Double)].collect()
    assert(clone.sameElements(restored), clone.mkString(","))
    // restore refuses to overwrite the snapshot slot itself
    val e = intercept[IllegalArgumentException](Snapshots.restore(dir, 3, 2))
    assert(e.getMessage.contains("NEW current version"))
  }

  // the snapshot read memo: Snapshots.read / Layout.read resolve a
  // (session, path, stamp) plan once; a rewrite changes the stamp
  private def kv(keys: Seq[Long], mul: Long) = {
    import spark.implicits._
    keys.map(k => (k, k * mul)).toDF("k", "v")
  }
  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  test("snapshot read memo: a second read of one version is the same plan and starts no job") {
    val dir = TempDirs.create("graft_readmemo").toString
    Snapshots.write(kv(1L to 50L, 2), "k", dir, 1)
    // control: an unmemoized read runs its schema-inference job, so
    // the listener does see read-time jobs
    assert(jobsIn(spark.read.parquet(Snapshots.path(dir, 1))) > 0)
    val first = Snapshots.read(spark, dir, 1)
    var second: org.apache.spark.sql.DataFrame = null
    val n = jobsIn { second = Snapshots.read(spark, dir, 1) }
    assert(second eq first, "second read of an unchanged version re-resolved")
    assert(n == 0, s"memoized snapshot read started $n jobs")
  }

  test("snapshot read memo: Snapshots.write over the same version is seen by the next read") {
    val dir = TempDirs.create("graft_readmemo_write").toString
    Snapshots.write(kv(1L to 50L, 2), "k", dir, 1)
    assert(Snapshots.read(spark, dir, 1).count() == 50L)
    Snapshots.write(kv(100L to 119L, 3), "k", dir, 1)
    assert(rows(Snapshots.read(spark, dir, 1)) == (100L to 119L).map(k => (k, k * 3)))
  }

  test("snapshot read memo: Snapshots.restore into a slot is seen by the next read") {
    val dir = TempDirs.create("graft_readmemo_restore").toString
    Snapshots.write(kv(1L to 10L, 2), "k", dir, 1)
    Snapshots.write(kv(20L to 40L, 5), "k", dir, 2)
    assert(Snapshots.read(spark, dir, 2).count() == 21L)
    Snapshots.restore(dir, 1, 2)
    assert(rows(Snapshots.read(spark, dir, 2)) == (1L to 10L).map(k => (k, k * 2)))
  }

  test("snapshot read memo: a bare Layout.writeSorted behind the memo is seen by the next read") {
    val dir = TempDirs.create("graft_readmemo_behind").toString
    Snapshots.write(kv(1L to 30L, 2), "k", dir, 1)
    assert(Snapshots.read(spark, dir, 1).count() == 30L)
    // no Snapshots entry point runs: the in-JVM stand-in for another
    // process replacing the version dir
    Layout.writeSorted(kv(200L to 204L, 7), "k", Snapshots.path(dir, 1))
    assert(rows(Snapshots.read(spark, dir, 1)) == (200L to 204L).map(k => (k, k * 7)))
  }

  test("snapshot read memo: older versions read the same rows after newer commits") {
    val dir = TempDirs.create("graft_readmemo_old").toString
    Snapshots.write(kv(1L to 40L, 2), "k", dir, 1)
    val v1 = rows(Snapshots.read(spark, dir, 1))
    Snapshots.write(kv(1L to 40L, 3), "k", dir, 2)
    Snapshots.write(kv(41L to 60L, 4), "k", dir, 3)
    assert(rows(Snapshots.read(spark, dir, 1)) == v1)
    assert(rows(Snapshots.read(spark, dir, 2)) == (1L to 40L).map(k => (k, k * 3)))
  }

  test("read memo stamp: a same-size rewrite inside one mtime tick restamps by file name") {
    import java.nio.file.{Paths, attribute}
    val dir = TempDirs.create("graft_stamp_names")
    val a = dir.resolve("part-a.parquet")
    Files.copy(Paths.get(s"$sfDir/region.parquet"), a)
    val before = Layout.read(spark, dir.toString)
    assert(before.count() == 5L)
    // same count, same length, same mtime: only the name tells the
    // rewrite apart — a stale plan would list the deleted part-a
    val mtime = Files.getLastModifiedTime(a)
    val b = Files.move(a, dir.resolve("part-b.parquet"))
    Files.setLastModifiedTime(b, attribute.FileTime.fromMillis(mtime.toMillis))
    val after = Layout.read(spark, dir.toString)
    assert(!(after eq before), "rename behind the memo kept the old plan")
    assert(after.count() == 5L)
  }

  test("read memo is capped at Tables.memoCap entries") {
    val dir = TempDirs.create("graft_memo_cap")
    val src = java.nio.file.Paths.get(s"$sfDir/region.parquet")
    val paths = (0 to Tables.memoCap).map { i =>
      Files.copy(src, dir.resolve(s"r$i.parquet")).toString
    }
    paths.foreach(Layout.read(spark, _))
    assert(Tables.readMemo.size <= Tables.memoCap,
      s"memo holds ${Tables.readMemo.size} plans past the cap ${Tables.memoCap}")
    val last = Layout.read(spark, paths.last)
    assert(Layout.read(spark, paths.last) eq last)
  }

  // admin ops on merge-on-read versions: each delta version is checked
  // against a twin snapshot whose every version is a full write of the
  // same contents
  private def isDelta(base: String, v: Int): Boolean =
    new java.io.File(Snapshots.path(base, v)).listFiles()
      .exists(_.getName.startsWith(graft.core.Deltas.Marker))

  /** v1 = keys 1..400 in full; v2 puts 11 keys (a tier), v3 deletes 8
    * (a second tier, 19 tier rows), v4 puts 12 more (31 tier rows, past
    * the 400/16 = 25 bound: a compaction) and v5 deletes 5 (a tier over
    * v4). Returns the merge-on-read base and its full-write twin. */
  private def deltaTwins(name: String): (String, String) = {
    import spark.implicits._
    import graft.kv.Mutations
    val mor = TempDirs.create(s"graft_${name}_mor").toString
    val full = TempDirs.create(s"graft_${name}_full").toString
    val v1 = (1L to 400L).map(k => (k, s"v$k", k * 0.5)).toDF("k", "name", "v")
    Snapshots.write(v1, "k", mor, 1)
    Snapshots.write(v1, "k", full, 1)
    val puts1 = ((5L to 50L by 5) :+ 900L).map(k => (k, s"p$k", -1.0)).toDF("k", "name", "v")
    val dels1 = Seq(3L, 4L, 5L, 6L, 100L, 101L, 102L, 950L).toDF("k")
    val puts2 = (300L to 311L).map(k => (k, s"q$k", 2.0)).toDF("k", "name", "v")
    val dels2 = Seq(1L, 2L, 303L, 304L, 399L).toDF("k")
    val ops: Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Seq(
      Mutations.put(_, puts1, "k"), Mutations.deleteRows(_, dels1, "k"),
      Mutations.put(_, puts2, "k"), Mutations.deleteRows(_, dels2, "k"))
    ops.zipWithIndex.foreach { case (op, i) =>
      Snapshots.write(op(Snapshots.read(spark, mor, i + 1)), "k", mor, i + 2)
      Layout.writeSorted(op(Snapshots.read(spark, full, i + 1)), "k", Snapshots.path(full, i + 2))
    }
    assert(Seq(2, 3, 4, 5).map(isDelta(mor, _)) == Seq(true, true, false, true))
    assert((2 to 5).forall(!isDelta(full, _)))
    (mor, full)
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("scanDirect and multiSnapshotScan read delta versions as their full twins") {
    val (mor, full) = deltaTwins("direct")
    for (v <- 1 to 5; (lo, hi) <- Seq((0L, 1000L), (1L, 7L), (40L, 120L), (300L, 306L), (900L, 901L))) {
      assert(sortedRows(Snapshots.scanDirect(spark, mor, v, "k", lo, hi)) ==
        sortedRows(Snapshots.scanDirect(spark, full, v, "k", lo, hi)), s"v$v [$lo, $hi)")
    }
    val scans = (b: String) => Seq(("a", b, 2), ("b", b, 3), ("c", b, 5))
    assert(sortedRows(Snapshots.multiSnapshotScan(spark, scans(mor), "k", 2L, 320L)) ==
      sortedRows(Snapshots.multiSnapshotScan(spark, scans(full), "k", 2L, 320L)))
  }

  test("regionManifest of a delta version lists its base's regions and its delta file") {
    val (mor, _) = deltaTwins("manifest")
    def manifest(v: Int) = Snapshots.regionManifest(spark, mor, v, "k").collect().toSeq
      .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2)), r.getLong(3)))
    // v3 = v1's region files, shadowed rows counted, plus two tiers:
    // v2's 11 puts and v3's own 8 tombstones, each file's range and
    // count its own batch's
    val (base, tiers) = manifest(3).partition(_._1.contains("/v=1/"))
    assert(base == manifest(1))
    assert(tiers.map(r => (r._2, r._3, r._4)) == Seq((Some(5L), Some(900L), 11L), (Some(3L), Some(950L), 8L)), tiers)
    // v5 = the compacted v4's regions plus a 5-key delta
    val (base5, delta5) = manifest(5).partition(!_._1.contains("/v=5/"))
    assert(base5 == manifest(4))
    assert(delta5.map(r => (r._2, r._3, r._4)) == Seq((Some(1L), Some(399L), 5L)), delta5)
  }

  test("exportSnapshot of a delta version reads the same after the source base is deleted") {
    val (mor, full) = deltaTwins("export")
    val target = TempDirs.create("graft_export_delta").toString
    Snapshots.exportSnapshot(mor, 3, target)
    Snapshots.exportSnapshot(mor, 4, target)
    assert(!isDelta(target, 3))
    val want = sortedRows(Snapshots.read(spark, full, 3))
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(Snapshots.path(mor, 1)))
    assert(sortedRows(Snapshots.read(spark, target, 3)) == want)
    assert(sortedRows(Snapshots.read(spark, target, 4)) == sortedRows(Snapshots.read(spark, full, 4)))
  }

  test("restore to and from delta versions, diff and restoreAudit agree with full writes") {
    val (mor, full) = deltaTwins("restore_delta")
    // to a delta version (the copy stays a delta of v1), and from one
    // (the current v5 is a delta) back to the full v1, across the v4
    // compaction
    for (b <- Seq(mor, full)) {
      Snapshots.restore(b, 3, 6)
      Snapshots.restore(b, 1, 7)
    }
    assert(isDelta(mor, 6))
    for (v <- Seq(6, 7))
      assert(sortedRows(Snapshots.read(spark, mor, v)) == sortedRows(Snapshots.read(spark, full, v)))
    assert(sortedRows(Snapshots.read(spark, mor, 6)) == sortedRows(Snapshots.read(spark, mor, 3)))
    for ((a, c) <- Seq((1, 3), (2, 5), (3, 4), (5, 6))) {
      def diffs(b: String) = sortedRows(Snapshots.diff(Snapshots.read(spark, b, a),
        Snapshots.read(spark, b, c), "k", Seq("name", "v")))
      def audits(b: String) = sortedRows(Snapshots.restoreAudit(Snapshots.read(spark, b, a),
        Snapshots.read(spark, b, c), "k", Seq("name", "v")))
      assert(diffs(mor) == diffs(full), s"diff v$a v$c")
      assert(audits(mor) == audits(full), s"restoreAudit v$a v$c")
      assert(diffs(mor).nonEmpty)
    }
  }
}
