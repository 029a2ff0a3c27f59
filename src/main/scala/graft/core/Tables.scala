package graft.core

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  private def tsIsNanos(path: String, footers: Seq[(FileStatus, ParquetMetadata)]): Boolean = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    def nanos(m: ParquetMetadata): Boolean = {
      val schema = m.getFileMetaData.getSchema
      // getFieldIndex form sidesteps MessageType's varargs getType
      // overload (ambiguous vs GroupType's single-String one in Scala)
      schema.containsField("ts") &&
        (schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        })
    }
    val probes = footers.map { case (f, m) => f.getPath -> nanos(m) }
    probes.find(_._2 != probes.head._2).foreach { case (f, _) =>
      throw new IllegalStateException(
        s"tsIsNanos: mixed ts encodings under $path — " +
          s"${probes.head._1.getName} and ${f.getName} disagree " +
          "on TIMESTAMP(NANOS); regenerate the dir as one generation")
    }
    probes.head._2
  }

  /** Session-scoped PLAN memo — the one reader of every parquet path
    * graft treats as immutable: the generated tables ([[load]]) and
    * snapshot versions, index and ledger dirs ([[Layout.read]]). A
    * fresh `spark.read.parquet` relists the path and runs schema
    * inference (a one-task Spark job reading a footer) per call; HBase
    * opens a store file's reader once per region open, and this is the
    * same once-per-version resolution ([[loadFresh]]: one listing and
    * one driver-side footer read per file, no Spark job). Invariants:
    *  - plans, not results: the memo holds the resolved DataFrame, and
    *    every action against it still scans parquet;
    *  - stamp-keyed: the key is (session, path, [[listStamp]]), and
    *    every rewrite of a path (Snapshots.write over a version,
    *    restore, exportSnapshot, an out-of-process writer) changes the
    *    stamp, so the next read resolves afresh; a new stamp evicts the
    *    path's older stamps in that session;
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
    * nothing but the copies. */
  private[graft] def fileSystem(spark: SparkSession, p: Path): FileSystem = {
    val u = p.toUri
    fileSystems(spark, s"${org.apache.spark.sql.graftbridge.SessionBridge.sessionUUID(spark)}|" +
      s"${u.getScheme}|${u.getAuthority}")(p.getFileSystem(spark.sessionState.newHadoopConf()))
  }

  /** Generation stamp of a path: (count, newest mtime, total length,
    * hash of the sorted names) over every file below it, or of the
    * file itself, and the files. Spark writes fresh random part-file
    * names per job, so the names catch a same-size rewrite inside one
    * mtime tick. A missing path fails naming `what` and the path (a raw
    * Hadoop FileNotFoundException names neither). */
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
    def below(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(below) else Seq(st)
    val files = below(root)
    (s"${files.length}:${files.map(_.getModificationTime).foldLeft(0L)(math.max)}:" +
      s"${files.map(_.getLen).sum}:" +
      scala.util.hashing.MurmurHash3.seqHash(files.map(_.getPath.toString).sorted), files)
  }

  /** The memoized plan of the parquet at `path` (see [[readMemo]]);
    * `events` applies the events table's ts normalization. A tiered
    * snapshot version ([[Deltas]]) is stamped with its base's stamp and
    * the length and mtime of each tier file it reads in another version
    * dir too ([[Deltas.stamp]]), so a rewrite of any of those dirs is
    * seen by the next read. A miss loads outside the map: a tiered
    * version's load reads its base through this memo. */
  private[graft] def read(spark: SparkSession, path: String, what: String,
                          events: Boolean = false): DataFrame = {
    readMemo.entrySet().removeIf(_.getValue.sparkSession.sparkContext.isStopped)
    val (own, files) = listStamp(spark, what, path)
    val delta = Deltas.baseOf(files)
    val key = LoadKey(org.apache.spark.sql.graftbridge.SessionBridge.sessionUUID(spark), path,
      delta.fold(own)(b => s"$own|${Deltas.stamp(spark, what, path, files, b)}"), events)
    val hit = readMemo.get(key)
    if (hit != null) hit else {
      readMemo.keySet().removeIf(k =>
        k.session == key.session && k.path == path && k.stamp != key.stamp)
      if (readMemo.size >= memoCap) readMemo.clear()
      val fresh = delta.fold(loadFresh(spark, path, what, events))(Deltas.resolve(spark, path, what, _))
      val won = readMemo.putIfAbsent(key, fresh)
      if (won == null) fresh else won
    }
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet", s"Tables.load: table '$name'",
      events = name == "events")

  /** Resolve the parquet at `path` with no Spark job: list it as
    * `spark.read.parquet` would, read every data file's footer once on
    * the driver, and build the relation over a [[RegionIndex]] of the
    * footers' key ranges, so a scan whose pushed filters miss a file's
    * range never opens it. The schema is the one Spark's non-merging
    * inference derives, from the first data file by path.
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
  @annotation.nowarn("cat=deprecation")
  private def loadFresh(spark: SparkSession, path: String, what: String,
                        events: Boolean): DataFrame = {
    import org.apache.spark.sql.execution.datasources._
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val listing = new InMemoryFileIndex(spark,
      Seq(root.getFileSystem(conf).makeQualified(root)), Map.empty, None)
    // readFooter(conf, status, …), not ParquetFileReader.open(
    // HadoopInputFile…): 64 warmed footers on a 4-core host took 40-80
    // ms this way and 0.9-1.0 s that way
    val footers = listing.allFiles().filter(_.getLen > 0).sortBy(_.getPath.toString).map { f =>
      f -> (try ParquetFileReader.readFooter(conf, f, ParquetMetadataConverter.NO_FILTER)
      catch { case e: Exception => throw new IllegalStateException(
        s"$what: unreadable parquet footer ${f.getPath}", e) })
    }
    if (footers.isEmpty) throw new IllegalArgumentException(
      s"$what: no parquet data files under $path")
    val nanos = events && tsIsNanos(path, footers)
    // NANOS generation: the flag must be set AND stay set — the scan
    // consults it again at execution, and the schema conversion below
    // reads it. Other NANOS parquet in the session reads as long too;
    // a constant "true" never races.
    if (nanos) spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = org.apache.spark.sql.graftbridge.ParquetBridge
      .dataSchema(spark, footers.head._1.getPath, footers.head._2)
    if (schema.fieldNames.contains(Deltas.OpCol)) throw new IllegalStateException(
      s"$what: $path holds a delta file but no ${Deltas.Marker}<base> marker, " +
        "so its delta commit did not finish; rewrite the version")
    val regions = footers.map { case (f, m) => f.getPath -> Region(f, m, schema) }.toMap
    val relation = HadoopFsRelation(new RegionIndex(listing, regions),
      listing.partitionSchema, schema, None, new ParquetFileFormat, Map("path" -> path))(spark)
    val df = org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark, LogicalRelation(relation))
    if (nanos) df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else if (events &&
      df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      df.withColumn("ts", col("ts").cast("timestamp"))
    else df
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
