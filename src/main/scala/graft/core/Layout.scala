package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical layout: the HBase region model (rowkey-sorted HFiles per
  * region) re-expressed as rowkey-range-partitioned, within-partition-
  * sorted parquet. Each output file covers a disjoint key range with
  * monotone pages, so a rowkey predicate prunes at three levels, the
  * moral equivalent of region pruning + HFile block index seeks:
  *  - files: [[read]] keeps each file's footer min/max per integral
  *    column ([[RegionIndex]]), and a scan never opens a file whose
  *    range misses its pushed key predicates;
  *  - row groups, by their statistics;
  *  - pages, by the page index.
  */
object Layout {

  /** Write `df` as a sorted snapshot: range-partition on the rowkey
    * (`buckets` ≈ region count), sort within partitions, one parquet
    * dir. Scans with rowkey predicates then touch only the matching
    * files/row groups. */
  def writeSorted(df: DataFrame, keyCol: String, path: String, buckets: Int = 8): Unit =
    df.repartitionByRange(buckets, col(keyCol))
      .sortWithinPartitions(keyCol)
      .write.mode("overwrite").parquet(path)

  /** The parquet at `path`, resolved once per (session, path, stamp)
    * through [[Tables.readMemo]]: plans, not results — a rewrite of
    * the path is seen by the next read because its stamp changes. The
    * relation prunes files by their footer key ranges. */
  def read(spark: SparkSession, path: String): DataFrame =
    Tables.read(spark, path, "Layout.read: parquet")

  /** Bucket `df` unless this context already holds `table`. Bucketing
    * is ingest-time work done once; the recurring operation a bucketed
    * layout exists FOR is the exchange-free join/agg on top of it — so
    * repeated calls (e.g. a benchmark's warmup + timed pass) must not
    * re-pay the write. Built through [[Once]], keyed by TABLE, not
    * (session, table): spark.newSession() shares the catalog and the
    * warehouse location, so per-session keys would let two sessions
    * run DROP/delete/create concurrently on the SAME path. The catalog
    * check covers a table dropped out-of-band; a stopped context's
    * entries are swept, so a restarted context (a fresh in-memory
    * catalog) rewrites rather than trusting stale on-disk leftovers. */
  private val bucketed = new Once[Unit]

  def ensureBucketed(df: => DataFrame, keyCol: String, buckets: Int, table: String)
                    (spark: SparkSession): Unit =
    bucketed(spark, table) {
      if (!spark.catalog.tableExists(table))
        writeBucketed(df, keyCol, buckets, table)
    }

  /** Write as a bucketed+sorted catalog table: both sides of a future
    * equi-join bucketed by the same key into the same bucket count
    * join WITHOUT a shuffle (Spark plans SortMergeJoin over the
    * existing bucketing — the co-located join HBase gets from
    * co-partitioned regions). */
  def writeBucketed(df: DataFrame, keyCol: String, buckets: Int, table: String): Unit = {
    val spark = df.sparkSession
    // the table name splices into DROP TABLE SQL below — the shared
    // identifier guard every other splice point enforces (r13 review:
    // a backtick-bearing name re-tokenized the statement AND desynced
    // from the unvalidated name saveAsTable/defaultTablePath see)
    Hashes.requireIdentifier(table, "writeBucketed table")
    // true overwrite across JVMs: the in-memory catalog is per-session,
    // so a previous run may have left the managed location on disk with
    // no catalog entry — CREATE then refuses with LOCATION_ALREADY_EXISTS
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      org.apache.spark.sql.graftbridge.SessionBridge.defaultTablePath(spark, table))
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode("overwrite")
      .bucketBy(buckets, keyCol).sortBy(keyCol)
      .format("parquet").saveAsTable(table)
  }

  import org.apache.spark.sql.Column

  /** Normalize a numeric column to an integer bucket in [0, 2^bits)
    * against broadcast corpus bounds `lo`/`hi` — DELEGATES to
    * [[graft.analytics.Tools.totalOrderBucket]] with n = 2^bits: that
    * is THE one copy of the parity-load-bearing bucket formula every
    * DuckDB oracle mirrors (this function was a second hand copy of
    * the identical double-multiply expression — the r10 dirKey
    * hand-sync class). Exact while x·2^bits < 2^53, hence bits ≤ 16. */
  def dimBucket(c: Column, lo: Column, hi: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 16, s"bits ($bits) must be in [1, 16]")
    graft.analytics.Tools.totalOrderBucket(c, lo, hi, 1 << bits)
  }

  /** Morton (Z-order) interleave of two `bits`-bit buckets: dim A takes
    * the odd bit positions, dim B the even. Rows sorted by this key
    * cluster in BOTH dimensions at once, so min/max zone maps prune
    * two-column predicates — the multi-dimensional clustering
    * OPTIMIZE ZORDER gives a lakehouse table, built from shifts and
    * masks that stay inside whole-stage codegen. */
  def mortonKey(a: Column, b: Column, bits: Int): Column = {
    // bits = 0 would crash an empty reduce; bits >= 32 shifts past 63
    // and the JVM wraps shift counts mod 64 — silently COLLIDING
    // Z-order keys, the worst failure mode for a clustering key
    require(bits >= 1 && bits <= 16, s"bits ($bits) must be in [1, 16]")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i + 1) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i)
    }.reduce(_ + _)
  }
}

/** Ensure-once side artifacts: secondary-index tables, snapshot
  * fixtures, import sources. HBase applications write these at INGEST
  * time (each Put writes the base row and its index row); serving-time
  * reads only consume them. Building one inside a read query both
  * times a write in a read and rebuilds per invocation — so each build
  * runs once per (session, source dir, name) through [[Once]], the
  * same registry [[Layout.ensureBucketed]] uses for bucketed layouts. */
object Indexes {
  private val dirs = new Once[String]

  /** Path of the `name` artifact over source `dir`, building it via
    * `build(targetDir)` only on first request for this session. The
    * target is a fresh dir deleted at JVM exit; a failed build deletes
    * its partial output and caches nothing, so the next request
    * retries cleanly. A build may itself ensure another artifact. */
  def ensure(spark: SparkSession, dir: String, name: String)
            (build: String => Unit): String =
    dirs(spark,
      s"${org.apache.spark.sql.graftbridge.SessionBridge.sessionUUID(spark)}|$dir|$name") {
      val target = org.apache.spark.sql.graftbridge.TempDirBridge.create(s"graft_idx_$name")
      try { build(target); target }
      catch { case e: Throwable =>
        // clean through the SAME filesystem the builders write: a
        // scheme-less path resolves against the Hadoop DEFAULT FS, so
        // off-local a java.nio walk would clean an empty LOCAL twin and
        // leave the partial parquet orphaned. A cleanup failure is
        // SUPPRESSED onto the build error, never replacing it.
        try {
          val tp = new org.apache.hadoop.fs.Path(target)
          val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(tp)) fs.delete(tp, true)
          java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(target))
        } catch { case c: Throwable => e.addSuppressed(c) }
        throw e
      }
    }
}

/** Snapshots (HBase admin snapshots / MultiTableSnapshotInputFormat):
  * a snapshot is an immutable versioned directory; point-in-time read =
  * read that version's directory. Mutations write the NEXT version
  * (copy-on-write), never touching previous ones — so old snapshots
  * stay readable byte-for-byte, which is the property snapshot_read
  * verifies.
  */
object Snapshots {
  def path(base: String, version: Int): String = s"$base/v=$version"

  def write(df: DataFrame, keyCol: String, base: String, version: Int): Unit =
    Layout.writeSorted(df, keyCol, path(base, version))

  def read(spark: SparkSession, base: String, version: Int): DataFrame =
    Layout.read(spark, path(base, version))

  /** Row-level diff of two snapshot versions — the "what changed
    * between yesterday's and today's snapshot" audit (HBase answers it
    * with SyncTable's re-scan of mismatched ranges; here the diff IS
    * the output). One full-outer sort-merge join on the row id; each
    * emitted row carries its change kind. Payload comparison is a
    * struct equality over `cmpCols` — map-side projections, the join
    * is the only shuffle. */
  def diff(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame,
           keyCol: String, cmpCols: Seq[String]): org.apache.spark.sql.DataFrame =
    labeledDiff(a, b, keyCol, cmpCols,
      onlyInA = "removed", onlyInB = "added", changed = "changed")

  /** ONE copy of the labeled full-outer diff shape shared by [[diff]]
    * and [[restoreAudit]] (their docs each say "same join shape" — so
    * it IS the same code): key + struct payload per side, full-outer
    * SMJ, a change label per divergence class, identical rows silent. */
  private def labeledDiff(a: DataFrame, b: DataFrame, keyCol: String,
                          cmpCols: Seq[String], onlyInA: String,
                          onlyInB: String, changed: String): DataFrame = {
    val av = a.select(col(keyCol), struct(cmpCols.map(col): _*).as("_a"))
    val bv = b.select(col(keyCol), struct(cmpCols.map(col): _*).as("_b"))
    av.join(bv, Seq(keyCol), "full_outer")
      .withColumn("change",
        when(col("_b").isNull, onlyInA)
          .when(col("_a").isNull, onlyInB)
          .when(!(col("_a") === col("_b")), changed))
      .where(col("change").isNotNull)
      .select(col(keyCol), col("change"))
  }

  /** The snapshot's region manifest: one row per non-empty part file
    * with its key range and row count (file, start_key, end_key,
    * n_rows). [[Layout.writeSorted]] range-partitions on the rowkey, so
    * each part file IS a region — disjoint key range, sorted within —
    * and this table is the split table TableSnapshotInputFormat derives
    * from the snapshot manifest (hbase-server/.../mapreduce/
    * TableSnapshotInputFormat.java:86, one split per region with its
    * key range). A driver-local view, no Spark job: the ranges and row
    * counts are the footer statistics [[Tables.read]] keeps once per
    * version ([[Region]]), the same once-per-open read the reference
    * makes of its persisted manifest. start_key/end_key are NULL when
    * every key in the file is NULL, or when its footer carries no key
    * statistics. */
  def regionManifest(spark: SparkSession, base: String, version: Int,
                     keyCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val regions = keyed(spark, base, version, keyCol)._2
    val rows = regions.filter(_.rows > 0).sortBy(_.file.getPath.toString).map { r =>
      val s = r.spans.get(keyCol).filter(_.nonEmpty)
      Row(r.file.getPath.toUri.toString, s.map(x => Long.box(x.lo)).orNull,
        s.map(x => Long.box(x.hi)).orNull, r.rows)
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("file", StringType, nullable = false),
      StructField("start_key", LongType), StructField("end_key", LongType),
      StructField("n_rows", LongType, nullable = false))))
  }

  /** A version's read and its footer regions, after checking `keyCol`
    * is an integral column: a string rowkey has no numeric range
    * semantics here at all. The check matches simpleString names
    * (tinyint/smallint, not the Scala-side byte/short), so Byte and
    * Short keys pass. */
  private def keyed(spark: SparkSession, base: String, version: Int,
                    keyCol: String): (DataFrame, Seq[Region]) = {
    val src = read(spark, base, version)
    val kt = src.schema(keyCol).dataType
    require(Seq("tinyint", "smallint", "int", "bigint").contains(kt.simpleString),
      s"regionManifest needs an integral key column; '$keyCol' is $kt")
    (src, Region.of(src)._3.regions.values.toSeq)
  }

  /** TableSnapshotInputFormat-style DIRECT snapshot scan: read the
    * snapshot's files with no serving table in the path, touching ONLY
    * the region files whose key range overlaps `[lo, hi)`. The file
    * pick is driver-side over the version's footer ranges, which
    * [[Tables.read]] resolved once per version — the same O(regions)
    * work the reference's getSplits does when it turns the snapshot
    * manifest into splits; non-overlapping regions are absent from the
    * read (`inputFiles` shrinks), not filtered after it. The residual
    * in-file predicate still pushes to parquet for the boundary
    * regions. A file whose footer has no key statistics is kept. */
  def scanDirect(spark: SparkSession, base: String, version: Int,
                 keyCol: String, lo: Long, hi: Long): DataFrame = {
    require(hi >= lo, s"bad range [$lo, $hi)")
    val (src, regions) = keyed(spark, base, version, keyCol)
    def overlaps(r: Region): Boolean =
      r.rows > 0 && r.spans.get(keyCol).forall(s => s.nonEmpty && s.lo < hi && s.hi >= lo)
    if (!regions.exists(overlaps)) src.where(lit(false))
    else Region.restrict(src, overlaps).where(col(keyCol) >= lo && col(keyCol) < hi)
  }

  /** MultiTableSnapshotInputFormat (hbase-server/.../mapreduce/
    * MultiTableSnapshotInputFormat.java:62, getSplits collecting one
    * split list PER configured snapshot): ONE job reading SEVERAL
    * snapshots, each contributing only the region files whose key
    * range overlaps the scan — the per-snapshot split planning of
    * [[scanDirect]] repeated per snapshot, unioned under a snapshot
    * name column so downstream code can tell the sources apart (the
    * reference encodes the same provenance in each split's snapshot
    * name).
    *
    * Scale shape: split pruning is driver-side over each snapshot's
    * footer ranges (exactly the reference's getSplits cost);
    * the union is a no-shuffle concatenation of pruned scans, and the
    * residual key predicate still pushes into every parquet leaf. */
  def multiSnapshotScan(spark: SparkSession,
                        scans: Seq[(String, String, Int)],
                        keyCol: String, lo: Long, hi: Long): DataFrame = {
    require(scans.nonEmpty, "multiSnapshotScan needs at least one snapshot")
    scans.map { case (name, base, version) =>
      scanDirect(spark, base, version, keyCol, lo, hi)
        .withColumn("snapshot", lit(name))
    }.reduce(_.unionByName(_))
  }

  /** ExportSnapshot (hbase-server/.../snapshot/ExportSnapshot.java) —
    * ship a snapshot to another cluster by copying its files directly
    * (the tool moves HFiles, bypassing region servers entirely; the
    * receiving side verifies integrity). Here: a byte-level copy of the
    * version directory; verification is the caller composing per-bucket
    * digests over source and export (see the export_snapshot query). */
  def exportSnapshot(base: String, version: Int, targetBase: String): Unit =
    copyVersionDir(path(base, version), path(targetBase, version))

  /** In-place restoreSnapshot (hbase-server/.../master/snapshot/
    * RestoreSnapshotHandler.java:63, executing RestoreSnapshotHelper
    * .restoreHdfsRegions): roll an EXISTING table back to a snapshot —
    * the table's content is REPLACED by the snapshot version (regions
    * only in the current table are dropped, regions only in the
    * snapshot re-added, shared regions restored to snapshot files);
    * reference files are put in place without moving data. Unlike
    * clone (a NEW table), every mutation made after the snapshot is
    * lost — the disaster-recovery path. Here: a file-level copy of
    * the snapshot version into the next version slot, the
    * copy-on-write equivalent of reference placement — older versions
    * (including the pre-restore current state) stay readable, which
    * is what lets [[restoreAudit]] price exactly what the rollback
    * discarded, and keeps clones taken from the snapshot independent
    * of the restore (the spec's clone-unaffected contract). */
  def restore(base: String, snapshotVersion: Int, newCurrentVersion: Int): Unit = {
    require(newCurrentVersion > snapshotVersion,
      s"restore writes a NEW current version (got v$newCurrentVersion " +
        s"over snapshot v$snapshotVersion)")
    copyVersionDir(path(base, snapshotVersion), path(base, newCurrentVersion))
  }

  /** The rollback audit — the dual of [[diff]]: given the snapshot
    * being restored and the PRE-restore current state, report every
    * row the in-place restore changes, keyed by what happened to it:
    *  - `resurrected`: deleted after the snapshot → comes back;
    *  - `discarded_insert`: inserted after the snapshot → lost (the
    *    mutation-loss class the handler's javadoc warns about);
    *  - `reverted_update`: updated after the snapshot → snapshot
    *    payload wins.
    * Rows identical in both states survive unchanged (not reported).
    * Same single full-outer sort-merge join shape as [[diff]]. */
  def restoreAudit(snapshot: DataFrame, current: DataFrame,
                   keyCol: String, cmpCols: Seq[String]): DataFrame =
    labeledDiff(snapshot, current, keyCol, cmpCols,
      onlyInA = "resurrected", onlyInB = "discarded_insert",
      changed = "reverted_update")

  /** Byte-level copy of one snapshot version directory, at the SAME
    * filesystem abstraction the snapshot writes use (Hadoop FS — a
    * java.nio walk would silently look at the LOCAL path while
    * Snapshots.write landed on the session's default FS, e.g. HDFS/S3
    * on a real cluster; writeBucketed already bridges the same way).
    * REPLACES the destination: snapshot part files carry fresh random
    * names per write, so merging into stale leftovers from an earlier
    * process would silently double the data. */
  private def copyVersionDir(srcPath: String, dstPath: String): Unit = {
    import org.apache.hadoop.fs.{FileUtil, Path => HPath}
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val src = new HPath(srcPath)
    val dst = new HPath(dstPath)
    // each side resolves its OWN FileSystem: exportSnapshot's whole
    // point is shipping to another cluster, and resolving the
    // destination through the source's FS threw "Wrong FS" the moment
    // the schemes differed (r12 core review)
    val srcFs = src.getFileSystem(conf)
    val dstFs = dst.getFileSystem(conf)
    if (dstFs.exists(dst)) dstFs.delete(dst, true)
    dstFs.mkdirs(dst.getParent)
    if (!FileUtil.copy(srcFs, src, dstFs, dst, false, true, conf))
      throw new java.io.IOException(s"copy $srcPath -> $dstPath failed")
  }
}

