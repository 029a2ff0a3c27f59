package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ListingBridge, ParquetBridge, PlanBridge, SessionBridge}
import org.apache.spark.sql.types.{StructType, TimestampNTZType}

/** Loaders for the driver-generated TPC-H-ish parquet tables, plus the
  * KV "cell view" that re-expresses HBase's data model
  * (rowkey → family → qualifier → timestamp → value) relationally.
  *
  * Reference data model: hbase-common/src/main/java/org/apache/hadoop/
  * hbase/KeyValue.java (cell = row, family, qualifier, ts, value).
  */
object Tables {

  /** Whether the events parquet at `path` encodes its `ts` column as
    * TIMESTAMP(NANOS), read from the footers [[loadFresh]] already holds
    * (no Spark plan, and no session-conf round-trip: a temporary
    * session-wide nanosAsLong flag was visible to concurrent unrelated
    * loads). Every file must agree: a dir holding two data generations
    * fails, naming the first file and the first one that disagrees. */
  private def tsIsNanos(path: String, footers: Seq[Footer]): Boolean = {
    footers.find(_.tsNanos != footers.head.tsNanos).foreach { f =>
      throw new IllegalStateException(s"tsIsNanos: mixed ts encodings under $path — " +
        s"${footers.head.region.file.getPath.getName} and ${f.region.file.getPath.getName} disagree " +
        "on TIMESTAMP(NANOS); regenerate the dir as one generation")
    }
    footers.head.tsNanos
  }

  /** Session-scoped PLAN memo — the one reader of every parquet path
    * graft treats as immutable: the generated tables ([[load]]) and
    * snapshot versions, index and ledger dirs ([[Layout.read]]). A
    * fresh `spark.read.parquet` relists the path and runs schema
    * inference (a one-task Spark job reading a footer) per call; HBase
    * opens a store file's reader once per region open, and this is the
    * same once-per-version resolution ([[read]]: one listing, footers
    * through the per-file memo [[footer]], no Spark job). It is a plan
    * cache only: nothing reads it but [[readListed]], and what a plan
    * reads (its version and stamp) is on the plan's [[RegionIndex]], so
    * an evicted entry costs a re-resolve and changes no result and no
    * commit. Invariants:
    *  - plans, not results: the memo holds the resolved DataFrame, and
    *    every action against it still scans parquet;
    *  - stamp-keyed: the key is (session, path, [[listStamp]] of the
    *    path), for full and tiered versions alike, and every rewrite of
    *    a path (Snapshots.write over a version, restore,
    *    exportSnapshot, an out-of-process writer) changes the stamp, so
    *    the next read resolves afresh; a new stamp evicts the path's
    *    older stamps in that session. What a tiered version reads in
    *    other dirs is not in the key: [[Deltas.check]] verifies it on
    *    every read, hit or miss;
    *  - the key also carries the `events` flag, so a raw read of an
    *    events.parquet path (un-normalized ts) never serves [[load]];
    *  - bounded: each commit is a new version path that same-path
    *    eviction never reaches, so past [[memoCap]] entries the memo
    *    resets, and dead sessions are swept. */
  private[graft] final case class LoadKey(session: String, path: String,
                                         stamp: String, events: Boolean)
  private[graft] val readMemo =
    new java.util.concurrent.ConcurrentHashMap[LoadKey, DataFrame]()
  private[graft] val memoCap = 256

  private val fileSystems = new Once[FileSystem]

  /** The FileSystem that holds `p`, resolved once per (session,
    * filesystem URI): `sessionState.newHadoopConf()` copies the
    * session's whole Hadoop conf, and every read and commit resolves a
    * FileSystem for two or three paths. Hadoop's own FileSystem cache
    * keeps the instance a conf first built for a URI, so reuse changes
    * nothing but the copies. graft reaches a FileSystem only here
    * (CoreToolsSpec fails on `getFileSystem(` in any other file). */
  private[graft] def fileSystem(spark: SparkSession, p: Path): FileSystem = {
    val u = p.toUri
    fileSystems(spark, s"${SessionBridge.sessionUUID(spark)}|${u.getScheme}|${u.getAuthority}")(
      p.getFileSystem(spark.sessionState.newHadoopConf()))
  }

  /** `path`, qualified by the file system that holds it. */
  private[graft] def qualified(spark: SparkSession, path: String): Path = {
    val p = new Path(path)
    fileSystem(spark, p).makeQualified(p)
  }

  /** Generation stamp of a path: (count, newest mtime, total length,
    * hash of the sorted names) over every file below it, or of the
    * file itself, and the files, in the order Spark's listing finds
    * them (a dir's files before its subdirs'). Spark writes fresh random
    * part-file names per job, so the names catch a same-size rewrite
    * inside one mtime tick. A missing path fails naming `what` and the
    * path (a raw Hadoop FileNotFoundException names neither). */
  private[graft] def listStamp(spark: SparkSession, what: String,
                               path: String): (String, Seq[FileStatus]) = {
    val p = new Path(path)
    val fs = fileSystem(spark, p)
    val root = try fs.getFileStatus(p) catch {
      case e: java.io.FileNotFoundException => throw new IllegalArgumentException(
        s"$what not found at $path", e)
    }
    // listStatus, not listFiles: a LocatedFileStatus copies owner and
    // permissions, which the local FS reads by forking a shell per file
    def below(st: FileStatus): Seq[FileStatus] = if (!st.isDirectory) Seq(st) else {
      val (dirs, files) = fs.listStatus(st.getPath).toSeq.partition(_.isDirectory)
      files ++ dirs.flatMap(below)
    }
    val files = below(root)
    (s"${files.length}:${files.map(_.getModificationTime).foldLeft(0L)(math.max)}:" +
      s"${files.map(_.getLen).sum}:" +
      scala.util.hashing.MurmurHash3.seqHash(files.map(_.getPath.toString).sorted), files)
  }

  /** The memoized plan of the parquet at `path` (see [[readMemo]]);
    * `events` applies the events table's ts normalization. */
  private[graft] def read(spark: SparkSession, path: String, what: String,
                          events: Boolean = false): DataFrame =
    readListed(spark, path, what, events, listStamp(spark, what, path))

  /** [[read]] from `listing`, the [[listStamp]] of `path` already in
    * hand: the one place a version is resolved. A tiered version
    * ([[Deltas]]) is checked first, on every read ([[Deltas.check]]: its
    * base and the tier files it reads in other dirs against its
    * marker). A miss builds the plan from the listing, with no second
    * listing: a full version through [[loadFresh]], a tiered one
    * through [[Deltas.resolve]], which reads its base through here from
    * the check's listing. So a miss loads outside the map. */
  private[graft] def readListed(spark: SparkSession, path: String, what: String, events: Boolean,
                                listing: (String, Seq[FileStatus])): DataFrame = {
    val (stamp, files) = listing
    val tiered = Deltas.baseOf(files).map(Deltas.check(spark, what, path, files, _))
    readMemo.entrySet().removeIf(_.getValue.sparkSession.sparkContext.isStopped)
    val key = LoadKey(SessionBridge.sessionUUID(spark), path, stamp, events)
    val hit = readMemo.get(key)
    if (hit != null) hit else {
      readMemo.keySet().removeIf(k =>
        k.session == key.session && k.path == path && k.stamp != key.stamp)
      if (readMemo.size >= memoCap) readMemo.clear()
      val fresh = tiered.fold(loadFresh(spark, path, what, events, stamp, files))(
        Deltas.resolve(spark, path, what, stamp, _))
      val won = readMemo.putIfAbsent(key, fresh)
      if (won == null) fresh else won
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet", s"Tables.load: table '$name'",
      events = name == "events")

  /** What a read keeps of one parquet file's footer: its [[Region]]
    * and its parquet schema with the Spark schema its writer stored,
    * not the row groups' column metadata. The Spark schema of the file
    * (`ParquetBridge.dataSchema`) is derived per read, never kept: a
    * TIMESTAMP(NANOS) file converts only once [[loadFresh]] has set
    * `nanosAsLong`. */
  private[graft] final case class Footer(region: Region, schema: MessageType, stored: Option[String]) {
    /** Whether its `ts` column is TIMESTAMP(NANOS). The getFieldIndex
      * form sidesteps MessageType's varargs getType overload (ambiguous
      * vs GroupType's single-String one in Scala). */
    def tsNanos: Boolean = schema.containsField("ts") &&
      (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
        case _ => false
      })
  }

  /** Per-file memo of what graft derives from one file's bytes: a
    * parquet [[Footer]], or a tiered version's marker ([[Deltas]]).
    * Keyed by path, length and mtime, so a file rewritten in place gets
    * a new key; a path holds one kind of file, so a key's value is
    * always what that kind's reader built. Past [[fileMemoCap]]
    * entries it resets. */
  private val fileMemo = new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), AnyRef]()
  private val fileMemoCap = 4096

  private[graft] def perFile[V <: AnyRef](f: FileStatus)(build: => V): V = {
    val key = (f.getPath.toString, f.getLen, f.getModificationTime)
    Option(fileMemo.get(key)).getOrElse {
      val v = build
      if (fileMemo.size >= fileMemoCap) fileMemo.clear()
      fileMemo.put(key, v)
      v
    }.asInstanceOf[V]
  }

  /** The footer of parquet file `f`, read once per (path, length,
    * mtime) on the driver. `readFooter(conf, status, …)`, not
    * `ParquetFileReader.open(HadoopInputFile…)`: 64 warmed footers on a
    * 4-core host took 40-80 ms this way and 0.9-1.0 s that way. */
  @annotation.nowarn("cat=deprecation")
  private[graft] def footer(spark: SparkSession, what: String, f: FileStatus): Footer = perFile(f) {
    val m = try ParquetFileReader.readFooter(fileSystem(spark, f.getPath).getConf, f,
      ParquetMetadataConverter.NO_FILTER) catch { case e: Exception => throw new IllegalStateException(
        s"$what: unreadable parquet footer ${f.getPath}", e) }
    Footer(Region(f, m), m.getFileMetaData.getSchema, ParquetBridge.storedSchema(m))
  }

  /** Resolve the parquet at `path`, listed as `files` at `stamp`, with
    * no Spark job and no second listing: read every data file's footer
    * through [[footer]], and build the relation over a [[RegionIndex]]
    * of the footers' key ranges ([[relation]]), so a scan whose pushed
    * filters miss a file's range never opens it. The schema is the one
    * Spark's non-merging inference derives, from the first data file by
    * path.
    *
    * events.parquet has shipped with two ts encodings across data
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects — read nanos as long, integer-div to µs; exact, the
    * generator emits µs precision and the DuckDB oracle also truncates
    * ns→µs) and plain TIMESTAMP(MICROS) (usable as-is). Branch on the
    * FOOTER type ([[tsIsNanos]]) so both generations load, and either
    * way normalize to TimestampType (LTZ): watermarks reject
    * TIMESTAMP_NTZ, and the UTC session timezone makes the NTZ→LTZ
    * cast wall-clock exact. */
  private def loadFresh(spark: SparkSession, path: String, what: String, events: Boolean,
                        stamp: String, files: Seq[FileStatus]): DataFrame = {
    val listing = ListingBridge.fileIndex(spark, Seq(qualified(spark, path) -> files))
    val footers = listing.allFiles().filter(_.getLen > 0).sortBy(_.getPath.toString)
      .map(f => f.getPath -> footer(spark, what, f))
    if (footers.isEmpty) throw new IllegalArgumentException(
      s"$what: no parquet data files under $path")
    val nanos = events && tsIsNanos(path, footers.map(_._2))
    // NANOS generation: the flag must be set AND stay set — the scan
    // consults it again at execution, and the schema conversion below
    // reads it. Other NANOS parquet in the session reads as long too;
    // a constant "true" never races.
    if (nanos) spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = ParquetBridge.dataSchema(spark, footers.head._1, footers.head._2.schema, footers.head._2.stored)
    if (schema.fieldNames.contains(Deltas.OpCol)) throw new IllegalStateException(
      s"$what: $path holds a delta file but no ${Deltas.Marker}<base> marker, " +
        "so its delta commit did not finish; rewrite the version")
    val df = relation(spark, path, stamp, listing, footers.map { case (p, f) => p -> f.region }.toMap, schema, None)
    if (nanos) df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (events && df.schema("ts").dataType == TimestampNTZType) df.withColumn("ts", col("ts").cast("timestamp"))
    else df
  }

  /** The plan of the parquet at `path`, listed at `stamp`: one relation
    * over `listing`, whose files `regions` prune, under the tiers'
    * visibility filter when `delta` is set. Every resolved read is
    * built here, by [[loadFresh]] or [[Deltas.resolve]], so its plan's
    * [[RegionIndex]] names the version and the stamp it reads. */
  private[graft] def relation(spark: SparkSession, path: String, stamp: String, listing: FileIndex,
                              regions: Map[Path, Region], schema: StructType, delta: Option[DeltaInfo]): DataFrame = {
    val index = new RegionIndex(listing, regions, qualified(spark, path), stamp, delta = delta)
    val lr = LogicalRelation(HadoopFsRelation(index, listing.partitionSchema, schema, None,
      new ParquetFileFormat, Map("path" -> path))(spark))
    PlanBridge.ofRows(spark, Deltas.visible(lr, index))
  }

  /** Unpivot a wide relational table into HBase-style cells
    * `(rowkey, family, qualifier, value)`. Values are cast to string
    * (HBase cells are untyped bytes). Uses `stack`, which stays inside
    * whole-stage codegen — no shuffle, no UDF.
    *
    * @param families map family name -> qualifiers (columns of `df`).
    *                 Only string/int columns should be included so the
    *                 string cast is engine-portable.
    */
  def toCells(df: DataFrame, rowkeyCol: String,
              families: Seq[(String, Seq[String])]): DataFrame = {
    // family/qualifier names land inside generated stack() SQL — the
    // dqAudit identifier discipline every other splice point follows
    // (a quote in a name would re-tokenize the SQL, r12 core review)
    for ((fam, quals) <- families; name <- fam +: quals)
      Hashes.requireIdentifier(name, "toCells family/qualifier")
    val n = families.map(_._2.size).sum
    val args = families.flatMap { case (fam, quals) =>
      quals.map(q => s"'$fam', '$q', cast(`$q` as string)")
    }.mkString(", ")
    df.select(
      col(rowkeyCol).cast("string").as("rowkey"),
      expr(s"stack($n, $args) as (family, qualifier, value)"))
  }

  /** The standard cell view of `customer` used across filter queries:
    * rowkey = c_custkey, family `id` holds keys, family `info` holds
    * attributes. Mirrors an HBase table with two column families. */
  def customerCells(spark: SparkSession, sfDir: String): DataFrame =
    toCells(load(spark, sfDir, "customer"), "c_custkey",
      Seq("id" -> Seq("c_nationkey"),
          "info" -> Seq("c_name", "c_mktsegment")))

  /** DuckDB-equivalent SQL for [[customerCells]] (UNION ALL unpivot),
    * used as a CTE prefix inside oracle SQL. */
  val customerCellsSql: String =
    """cells AS (
      |  SELECT CAST(c_custkey AS VARCHAR) AS rowkey, 'id' AS family, 'c_nationkey' AS qualifier, CAST(c_nationkey AS VARCHAR) AS value FROM customer
      |  UNION ALL
      |  SELECT CAST(c_custkey AS VARCHAR), 'info', 'c_name', c_name FROM customer
      |  UNION ALL
      |  SELECT CAST(c_custkey AS VARCHAR), 'info', 'c_mktsegment', c_mktsegment FROM customer
      |)""".stripMargin

  /** Cell view of `supplier` (rowkey = s_suppkey, families like
    * [[customerCells]]) — the second table for multi-table scans. */
  def supplierCells(spark: SparkSession, sfDir: String): DataFrame =
    toCells(load(spark, sfDir, "supplier"), "s_suppkey",
      Seq("id" -> Seq("s_nationkey"),
          "info" -> Seq("s_name")))

  val supplierCellsSql: String =
    """scells AS (
      |  SELECT CAST(s_suppkey AS VARCHAR) AS rowkey, 'id' AS family, 's_nationkey' AS qualifier, CAST(s_nationkey AS VARCHAR) AS value FROM supplier
      |  UNION ALL
      |  SELECT CAST(s_suppkey AS VARCHAR), 'info', 's_name', s_name FROM supplier
      |)""".stripMargin

  /** Versioned-cell view of `events`: an HBase table where
    * rowkey = user_id, one column family `ev`, qualifier = event_type,
    * version timestamp = ts, value = value. Multi-version semantics
    * (maxVersions / timeRange / TimestampsFilter) run against this. */
  def eventCells(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "events").select(
      col("user_id").as("rowkey"),
      lit("ev").as("family"),
      col("event_type").as("qualifier"),
      col("ts"),
      col("value"),
      col("event_id"))

  val eventCellsSql: String =
    """vcells AS (
      |  SELECT user_id AS rowkey, 'ev' AS family, event_type AS qualifier, ts, value, event_id FROM events
      |)""".stripMargin

  /** Two-family variant of [[eventCells]] (family `web` = click/view,
    * `act` = everything else) — the shape per-family time ranges
    * (Get.setColumnFamilyTimeRange) need to mean anything. */
  def eventCellsTwoFamilies(spark: SparkSession, sfDir: String): DataFrame =
    load(spark, sfDir, "events").select(
      col("user_id").as("rowkey"),
      when(col("event_type").isin("click", "view"), "web")
        .otherwise("act").as("family"),
      col("event_type").as("qualifier"),
      col("ts"),
      col("value"),
      col("event_id"))

  val eventCellsTwoFamiliesSql: String =
    """vcells2 AS (
      |  SELECT user_id AS rowkey,
      |         CASE WHEN event_type IN ('click', 'view') THEN 'web' ELSE 'act' END AS family,
      |         event_type AS qualifier, ts, value, event_id
      |  FROM events
      |)""".stripMargin
}
