package graft.core

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

  /** Whether the parquet at `path` (a single file or a directory of
    * part files) encodes its `ts` column as TIMESTAMP(NANOS) — read
    * from ONE footer with ParquetFileReader, driver-side, no Spark
    * plan. The former probe (set nanosAsLong session-wide, plan a
    * read, branch on the decoded type, restore) opened a window where
    * the temporary `true` was visible to CONCURRENT unrelated parquet
    * loads on other threads — any TIMESTAMP(NANOS) file planned inside
    * it silently decoded ts as long (r13 advice; the r13 lock only
    * serialized events loads against EACH OTHER). The footer probe
    * never touches session conf, so the window is gone. */
  private def tsIsNanos(spark: SparkSession, path: String): Boolean = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def footerIsNanos(file: Path): Boolean = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      try {
        import org.apache.parquet.schema.LogicalTypeAnnotation
        val schema = reader.getFooter.getFileMetaData.getSchema
        // getFieldIndex form sidesteps MessageType's varargs getType
        // overload (ambiguous vs GroupType's single-String one in Scala)
        schema.getType(schema.getFieldIndex("ts"))
          .getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        }
      } finally reader.close()
    }
    if (fs.getFileStatus(p).isDirectory) {
      // FILES only (r14 advice): a partitioned/nested layout would
      // hand ParquetFileReader a subdirectory and fail obscurely —
      // name the layout problem instead. Directories are skipped,
      // not descended: this loader serves the flat single-generation
      // dirs the generators write; a partitioned events table would
      // need a per-partition probe to be trustworthy.
      val entries = fs.listStatus(p).filter(_.isFile).map(_.getPath)
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .sortBy(_.getName)
      if (entries.isEmpty) throw new IllegalStateException(
        s"tsIsNanos: no data FILES directly under $path — " +
          "nested/partitioned parquet layouts need a flat events dir " +
          "(one generation of part files)")
      // mixed-generation guard (r14 verdict low finding): letting the
      // lexicographically-first footer speak for the whole dir would
      // mis-decode or fail mid-scan when NANOS and MICROS part files
      // co-reside (a partial regeneration). Probing first AND last
      // catches generations that sort as contiguous blocks for two
      // footer reads, not |files|. NOT COVERED (r15 advice): two
      // write jobs' part files can INTERLEAVE lexicographically (the
      // part-NNNNN- numeric prefixes restart per job and the UUID
      // tails shuffle the order), putting the same generation at both
      // probed endpoints — a dir mixed that way still passes here and
      // fails at scan time instead; probing one footer per distinct
      // job-UUID suffix would close it at |jobs| footer reads.
      val headNanos = footerIsNanos(entries.head)
      if (entries.length > 1 && footerIsNanos(entries.last) != headNanos)
        throw new IllegalStateException(
          s"tsIsNanos: mixed ts encodings under $path — " +
            s"${entries.head.getName} and ${entries.last.getName} disagree " +
            "on TIMESTAMP(NANOS); regenerate the dir as one generation")
      headNanos
    } else footerIsNanos(p)
  }

  /** Session-scoped LOADER memo (r16 "not yet optimized" item): every
    * `load` call used to pay a fresh `spark.read.parquet` — a driver-
    * side footer/schema read plus file listing — and for `events`
    * additionally the [[tsIsNanos]] footer probe, per CALL. The suite
    * makes hundreds of load calls per bench pass over the same
    * immutable testdata files, so the repeated driver work is pure
    * fixed cost (measured ~3-4 ms/call; ~1.5 s of a full pass).
    *
    * This memoizes the PLAN (the resolved DataFrame), never results:
    * every action against the returned DataFrame still scans parquet,
    * so bench/oracle runs keep computing from the inputs. Eviction
    * discipline (the r12 rule): the key carries the path's generation
    * stamp ([[pathStamp]]), so a regenerated corpus gets a fresh read
    * plan and the superseded stamps of that session and path are
    * evicted — and dead sessions are swept so a service hosting many
    * short-lived sessions doesn't retain them (the
    * PipelineQueries.sweepDead pattern). Loader
    * callers only ever read the driver-generated testdata tables,
    * which are replaced wholesale between generations (never appended
    * in place), so mtime+len is a sound generation stamp. */
  private[graft] final case class LoadKey(session: String, path: String,
                                         stamp: String)
  private[graft] val readMemo =
    new java.util.concurrent.ConcurrentHashMap[LoadKey, DataFrame]()

  /** Generation stamp of a table path: (count, newest mtime, total
    * length) over its data files — the direct children of a directory
    * and the files one level down (a partitioned `k=v/` layout), or
    * the file itself. A missing table fails naming the table and path
    * (a raw Hadoop FileNotFoundException names neither the table nor
    * the loader). */
  private def pathStamp(spark: SparkSession, name: String, path: String): String = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = try fs.getFileStatus(p) catch {
      case e: java.io.FileNotFoundException => throw new IllegalArgumentException(
        s"Tables.load: table '$name' not found at $path", e)
    }
    if (st.isDirectory) {
      val (dirs, direct) = fs.listStatus(p).partition(_.isDirectory)
      val files = direct ++ dirs.flatMap(d => fs.listStatus(d.getPath).filter(_.isFile))
      s"dir:${files.length}:${files.map(_.getModificationTime).foldLeft(0L)(math.max)}:" +
        files.map(_.getLen).sum
    } else s"file:${st.getModificationTime}:${st.getLen}"
  }

  private def sweepDeadLoads(): Unit =
    readMemo.entrySet().removeIf(
      _.getValue.sparkSession.sparkContext.isStopped)

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    sweepDeadLoads()
    val path = s"$sfDir/$name.parquet"
    val key = LoadKey(org.apache.spark.sql.graftbridge.SessionBridge.sessionUUID(spark),
      path, pathStamp(spark, name, path))
    val hit = readMemo.get(key)
    if (hit != null) hit else {
      // a new stamp supersedes this session's earlier ones for the path
      readMemo.keySet().removeIf(k =>
        k.session == key.session && k.path == path && k.stamp != key.stamp)
      readMemo.computeIfAbsent(key, _ => loadFresh(spark, sfDir, name))
    }
  }

  private def loadFresh(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.parquet has shipped with two ts encodings across data
      // generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
      // rejects — read nanos as long, integer-div to µs; exact, the
      // generator emits µs precision and the DuckDB oracle also
      // truncates ns→µs) and plain TIMESTAMP(MICROS) (usable as-is).
      // Branch on the FOOTER type (one driver-side footer read — never
      // a session-conf round-trip, see [[tsIsNanos]]) so both
      // generations load. Either way normalize to TimestampType (LTZ):
      // watermarks reject TIMESTAMP_NTZ, and the UTC session timezone
      // (set in every entrypoint builder) makes the NTZ→LTZ cast
      // wall-clock exact.
      val path = s"$sfDir/$name.parquet"
      if (tsIsNanos(spark, path)) {
        // NANOS generation: the flag must be set AND stay set — the
        // scan consults it again at execution. The session-wide side
        // effect is confined to this data generation and documented:
        // other NANOS parquet in the session reads as long too.
        // Setting a constant "true" is idempotent, so concurrent
        // events loads no longer race (no restore exists to misfire).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.read.parquet(path)
          .withColumn("ts", timestamp_micros(expr("ts div 1000")))
      } else {
        val df = spark.read.parquet(path)
        if (df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
          df.withColumn("ts", col("ts").cast("timestamp"))
        else df
      }
    } else spark.read.parquet(s"$sfDir/$name.parquet")

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
