package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Tables
import graft.{Oracle, Query}

/** SURVEY §2E — MapReduce analytics tool analogues as verified queries.
  * hash_sync_table uses an engine-portable integer row hash so the
  * DuckDB oracle reproduces the digests bit-for-bit.
  */
object AnalyticsQueries {

  /** The three-peer replication fixture — ONE copy shared by
    * replication_lag and log_cleaner (their reports must agree on the
    * peer set; p_dr's Jan-10 watermark is the binding min the
    * log_cleaner ORACLE hardcodes — moving a watermark here means
    * updating that oracle too). */
  private def replicationPeers(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("p_dr", "2024-01-10 00:00:00"),
        ("p_analytics", "2024-01-20 00:00:00"),
        ("p_backup", "2030-01-01 00:00:00"))
      .toDF("peer_id", "_wm")
      .select(col("peer_id"), to_timestamp(col("_wm")).as("replicated_upto"))
  }

  /** The deliberately corrupted META catalog hbck_region_chain AND
    * hbck_repair_plan both run against (audit and fix must see the
    * SAME defects): 16 uniform regions over the orders keyspace with
    * region 5 lost (hole), region 9 degenerate (start == end, which
    * also un-covers its range), r12b sharing region 12's start (dupe +
    * overlap), r14x straddling the 14/15 boundary (transitive
    * overlap), a non-open first start, and an open last end.
    * boundary(i) = floor(lo + (hi−lo+1)·i/16) — the total-order
    * formula the oracles mirror in double division. */
  def corruptedCatalog(s: SparkSession, d: String): DataFrame = {
    // key bounds as a driver-local 1-row scalar: the catalog feeds
    // FIVE-plus consumers inside the hbck sweep/repair (starts, ends,
    // bounds, overlap members, degens) and Catalyst shares nothing
    // across consumers — a lazy bounds relation re-scans orders once
    // per consumer. Collected, the catalog is an 18-row literal
    // relation and the whole audit costs ONE corpus scan.
    val bRow = Tables.load(s, d, "orders")
      .agg(min("o_orderkey").as("_lo"), max("o_orderkey").as("_hi"))
      .collect()(0)
    val (lo, hi) = (bRow.getLong(0), bRow.getLong(1))
    // same double-division boundary formula the oracles mirror
    // (floor(lo + (hi−lo+1)·i/16.0) — IEEE double on both sides)
    def bd(i: Int): Long = math.floor(lo + (hi - lo + 1) * i / 16.0).toLong
    val base = (0 to 15).filter(_ != 5).map { i =>
      (f"r$i%02d", Some(bd(i)),
        if (i == 9) Some(bd(9))
        else if (i == 15) None
        else Some(bd(i + 1)))
    }
    val extras = Seq(
      ("r12b", Some(bd(12)), Some(math.floorDiv(bd(12) + bd(13), 2L))),
      ("r14x", Some(math.floorDiv(bd(14) + bd(15), 2L)),
        Some(math.floorDiv(bd(15) + bd(16), 2L))))
    import s.implicits._
    (base ++ extras).toDF("region_id", "start_key", "end_key")
  }

  /** The WALPlayer bulk-HFile layout (region-partitioned, key-sorted
    * parquet of the event-cell WAL slice), written once per (session,
    * dir) — shared by wal_player_bulk (the per-region rollup audit)
    * and wal_inspect_region (the region-filtered edit view).
    * HFileOutputFormat2's partitioner takes the TARGET TABLE's region
    * boundaries (configureIncrementalLoad), not a data sample — here
    * the 8 total-order regions; one shuffle lands every cell in its
    * region's sorted file. */
  private def walpBulkLayout(s: SparkSession, d: String): String =
    graft.core.Indexes.ensure(s, d, "walp_bulk") { target =>
      val edits = Tables.eventCells(s, d)
        .withColumn("op",
          when(col("event_id") % 7 === 0, "delete").otherwise("put"))
      Tools.withTotalOrderTag(edits, "rowkey", 8)
        .repartition(col("region"))
        .sortWithinPartitions("region", "rowkey")
        .write.partitionBy("region").mode("overwrite").parquet(target)
    }

  /** ONE copy of the split-policy verdict frame, shared by the
    * registered exact queries here and Bench's approx-sketch variants
    * in SparkEntry (the r12 review's hand-sync dedupe): squared keys
    * skew the uniform-keyspace buckets (region 0 holds ~35% of rows,
    * region 7 ~7%) so the policies genuinely disagree — ConstantSize
    * splits only the giants, the default IncreasingToUpperBound also
    * catches the mid-size regions. The flush divisor 10000 keeps
    * 2·flush·R³ (the reference's initialSize·R³, R=8) BELOW
    * max_file_size, so the increasing policy still catches mid-size
    * regions ConstantSize misses. */
  private[graft] def splitPolicyFrame(s: SparkSession, d: String,
                                      nBuckets: Int, approx: Boolean,
                                      midkey: Boolean = true): DataFrame = {
    val grown = Tables.load(s, d, "orders")
      .withColumn("region_key", col("o_orderkey") * col("o_orderkey"))
    val b = grown.agg(min("region_key").as("_lo"), max("region_key").as("_hi"))
    val tagged = grown.crossJoin(broadcast(b))
      .withColumn("bucket", Tools.totalOrderBucket(
        col("region_key"), col("_lo"), col("_hi"), nBuckets))
    val cellBytes = floor(col("o_totalprice") * 100).cast("bigint")
    // params derive from the SAME per-bucket stats pass (Σ store_size
    // ≡ the whole-corpus sum, bit-identical) — the separate params
    // aggregate was a redundant extra orders scan per invocation
    Tools.splitPolicyDerived(tagged, "region_key", cellBytes,
      maxDiv = 7L, flushDiv = 10000L, prefixMod = 1000L, approx, midkey)
  }

  /** SteppingSplitPolicy's young (R=1) / mature (R=8) two-scenario
    * view over [[splitPolicyFrame]] — midkey = false: stepping gates
    * on size only, and at R = 1 the exact percentile would buffer the
    * whole corpus in one aggregation buffer for a column nobody
    * selects. */
  private[graft] def splitPolicySteppingScenarios(s: SparkSession, d: String,
                                                  approx: Boolean): DataFrame = {
    def scenario(n: Int, tag: String) =
      splitPolicyFrame(s, d, n, approx, midkey = false)
        .select(lit(tag).as("scenario"), col("region"), col("store_size"),
          col("limit_bytes"), col("split_increasing"),
          col("limit_stepping"), col("split_stepping"))
    scenario(1, "young").unionByName(scenario(8, "mature"))
      .orderBy("scenario", "region")
  }

  /** The skew-grown orders keyspace every split-planning frame shares. */
  private def grownOrders(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "orders")
      .withColumn("region_key", col("o_orderkey") * col("o_orderkey"))

  /** ONE copy each of the region_splitter / region_split_exec /
    * column_profile frames, shared by the registered exact queries and
    * Bench's sketch variants in SparkEntry — the split_policy
    * hand-sync-dedupe pattern applied to the other three exact/sketch
    * pairs (r12 harness review: a fix to a registered body did not
    * propagate to its bench copy, so the bench silently timed a
    * different plan than the one correctness-verified). */
  private[graft] def regionSplitterFrame(s: SparkSession, d: String,
                                         approx: Boolean): DataFrame =
    Tools.regionSplitPoints(grownOrders(s, d), "region_key", 8, approx)
      .orderBy("split_idx")

  private[graft] def regionSplitExecFrame(s: SparkSession, d: String,
                                          approx: Boolean): DataFrame = {
    val grown = grownOrders(s, d)
    // the plan input is 16-row metadata (materialized — scan audit);
    // `tagged` stays lazy, its two consumers are the honest data work
    val buckets = Tools.materializeMeta(
      Tools.totalOrderBuckets(grown, "region_key", 16))
    val b = grown.agg(min("region_key").as("_lo"), max("region_key").as("_hi"))
    val tagged = grown.crossJoin(broadcast(b))
      .withColumn("bucket",
        Tools.totalOrderBucket(col("region_key"), col("_lo"), col("_hi"), 16))
    Tools.applySplits(tagged, Tools.normalizerPlan(buckets), "region_key", approx)
      .orderBy("daughter")
  }

  private[graft] def columnProfileFrame(s: SparkSession, d: String,
                                        approxNdv: Boolean): DataFrame = {
    val t = Tables.load(s, d, "orders")
      .withColumn("price_cents",
        floor(col("o_totalprice") * 100).cast("bigint"))
      .withColumn("status_nz",
        when(col("o_orderstatus") === "O", lit(null)).otherwise(col("o_orderstatus")))
    Tools.columnProfile(t, Seq("o_orderkey", "o_orderstatus",
        "o_orderpriority", "o_orderdate", "price_cents", "status_nz"), approxNdv)
      .orderBy("col_name")
  }

  /** Portable row hash for orders: Knuth-multiplicative key hash plus
    * price cents. The key folds into [0, 2^31) before the multiply
    * (same overflow guard as randomRowFilter — the raw multiply blows
    * Long past keys ~3.5e9, exactly the range a 100 TB diff tool sees);
    * floor() (not cast) so DuckDB's rounding CAST and Spark's
    * truncating cast can't disagree. */
  private val orderRowHash =
    graft.core.Hashes.knuth(col("o_orderkey")) +
      floor(col("o_totalprice") * 100).cast("bigint")

  val queries: Seq[Query] = Seq(
    Query("rowcounter", (s, d) =>
      Tools.rowCounter(Tables.customerCells(s, d), Some(col("value") === "BUILDING")),
      Oracle(C + "SELECT count(DISTINCT rowkey) AS n_rows FROM cells WHERE value = 'BUILDING'")),
    Query("cellcounter", (s, d) =>
      Tools.cellCounter(Tables.eventCells(s, d)).orderBy("family", "qualifier"),
      Oracle(V + """SELECT family, qualifier, count(*) AS n_cells,
             |       count(DISTINCT rowkey) AS n_rows, count(DISTINCT ts) AS n_versions
             |FROM vcells GROUP BY family, qualifier ORDER BY family, qualifier""".stripMargin)),
    Query("copy_table", (s, d) =>
      Tools.copyTable(Tables.load(s, d, "events"),
          col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
          col("ts") <  lit("2024-01-15 00:00:00").cast("timestamp"),
          Seq("user_id" -> "row_id", "event_type" -> "qual"))
        .select("row_id", "qual", "ts", "value", "event_id").orderBy("event_id"),
      Oracle("""SELECT user_id AS row_id, event_type AS qual, ts, value, event_id FROM events
        |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'
        |ORDER BY event_id""".stripMargin)),
    Query("export_import", (s, d) =>
      Tools.exportImport(
          Tables.load(s, d, "orders"), col("o_totalprice") > 400000,
          graft.core.Indexes.ensure(s, d, "export_import")(_ => ()))
        .select("o_orderkey", "o_orderstatus", "o_totalprice").orderBy("o_orderkey"),
      Oracle("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_totalprice > 400000 ORDER BY o_orderkey""".stripMargin)),
    // Import with import-side transforms (mapreduce/Import.java:88
    // CF_RENAME_PROP, :90 FILTER_CLASS_CONF_KEY — the importer can
    // RENAME column families and run a standard Filter while
    // replaying an export: the migration move that reshapes a table
    // without touching the source cluster). The two-family event
    // cells export physically (ensure-once); the import applies a
    // RowFilter(>=, 5) through the SAME filter library every scan
    // uses (Import.filterRowKey delegates to the standard Filter
    // class, :206) and renames web → web_v2, then the imported table
    // itself is the audit — the oracle recomputes rename+filter
    // straight from the source: nothing lost, nothing unrenamed.
    Query("import_renamed", (s, d) => {
      val path = graft.core.Indexes.ensure(s, d, "import_renamed") { target =>
        Tables.eventCellsTwoFamilies(s, d)
          .write.mode("overwrite").parquet(target)
      }
      graft.core.Layout.read(s, path)
        .where(graft.filters.Filters.rowFilter(col("rowkey"),
          graft.filters.CompareOp.GREATER_OR_EQUAL,
          graft.filters.Comparators.long(5L)))
        .withColumn("family",
          when(col("family") === "web", "web_v2").otherwise(col("family")))
        .groupBy("rowkey", "family")
        .agg(count(lit(1)).as("n_cells"), max("ts").as("latest_ts"))
        .orderBy("rowkey", "family")
    },
      Oracle("WITH " + Tables.eventCellsTwoFamiliesSql + """
        |SELECT rowkey,
        |       CASE WHEN family = 'web' THEN 'web_v2' ELSE family END AS family,
        |       count(*) AS n_cells, max(ts) AS latest_ts
        |FROM vcells2 WHERE rowkey >= 5
        |GROUP BY 1, 2 ORDER BY rowkey, family""".stripMargin)),
    Query("import_tsv", (s, d) => {
      // ensure-once export (the secondary_index/snapshot discipline):
      // the verified operator is the TSV READ — rewriting the CSV on
      // every bench invocation times an export nobody asked for, and
      // two concurrent runs over one sfDir would clobber mid-read
      val path = graft.core.Indexes.ensure(s, d, "import_tsv_src") { target =>
        Tables.load(s, d, "nation").orderBy("n_nationkey")
          .coalesce(1).write.mode("overwrite").option("sep", "\t")
          .csv(target + "/tsv")
      } + "/tsv"
      val schema = StructType(Seq(
        StructField("n_nationkey", IntegerType),
        StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType)))
      Tools.importTsv(s, path, schema).orderBy("n_nationkey")
    },
      Oracle("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),
    Query("hash_sync_table", (s, d) => {
      val base = Tables.load(s, d, "orders")
      val mutated = base.withColumn("o_totalprice",
        when(col("o_orderkey") % 500 === 0, col("o_totalprice") + 1)
          .otherwise(col("o_totalprice")))
      Tools.syncTable(
          Tools.hashTable(base, "o_orderkey", orderRowHash, 1000L),
          Tools.hashTable(mutated, "o_orderkey", orderRowHash, 1000L))
        .orderBy("bucket")
    },
      Oracle("""WITH h1 AS (
        |  SELECT o_orderkey // 1000 AS bucket,
        |         CAST(sum(((o_orderkey % 2147483648) * 2654435761) % 4294967296
        |             + CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS digest_a,
        |         count(*) AS rows_a
        |  FROM orders GROUP BY 1),
        |h2 AS (
        |  SELECT o_orderkey // 1000 AS bucket,
        |         CAST(sum(((o_orderkey % 2147483648) * 2654435761) % 4294967296
        |             + CAST(floor((CASE WHEN o_orderkey % 500 = 0 THEN o_totalprice + 1
        |                           ELSE o_totalprice END) * 100) AS BIGINT)) AS BIGINT) AS digest_b,
        |         count(*) AS rows_b
        |  FROM orders GROUP BY 1)
        |SELECT bucket, digest_a, rows_a, digest_b, rows_b,
        |       coalesce(digest_a = digest_b AND rows_a = rows_b, false) AS is_match
        |FROM h1 FULL OUTER JOIN h2 USING (bucket) ORDER BY bucket""".stripMargin)),
    Query("bulk_load_partitioner", (s, d) =>
      Tools.totalOrderBuckets(Tables.load(s, d, "orders"), "o_orderkey", 8)
        .orderBy("bucket"),
      Oracle("""WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM orders)
        |SELECT CAST(floor((o_orderkey - lo) * 8 / (hi - lo + 1)) AS BIGINT) AS bucket,
        |       count(*) AS n_rows, min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |FROM orders, b GROUP BY 1 ORDER BY bucket""".stripMargin)),
    // hbase:quota / RpcThrottle analogue (hbase-server/.../quotas/
    // QuotaTableUtil, ThrottleType.REQUEST_NUMBER): per-user request
    // quotas by tier over daily windows; the tier->limit table is the
    // hbase:quota system table, a broadcast next to the request log.
    // Over-quota windows report how many requests the throttle would
    // have rejected (n - limit), the RpcThrottlingException count.
    Query("quota_throttle", (s, d) => {
      import s.implicits._
      val limits = Seq(("free", 3L), ("pro", 6L), ("ent", 1000000L))
        .toDF("tier", "max_reqs")
      val log = Tables.load(s, d, "events")
        .withColumn("tier",
          when(col("user_id") % 3 === 0, "free")
            .when(col("user_id") % 3 === 1, "pro").otherwise("ent"))
      log.groupBy(col("user_id"), col("tier"),
          date_trunc("DAY", col("ts")).as("window"))
        .agg(count(lit(1)).as("n_reqs"))
        .join(broadcast(limits), "tier")
        .select(col("user_id"), col("tier"), col("window"), col("n_reqs"),
          (col("n_reqs") > col("max_reqs")).as("over_quota"),
          greatest(lit(0L), col("n_reqs") - col("max_reqs")).as("n_throttled"))
        .orderBy("user_id", "window")
    },
      Oracle("""WITH lim AS (SELECT * FROM (VALUES ('free', 3), ('pro', 6), ('ent', 1000000))
        |             t(tier, max_reqs)),
        |log AS (SELECT user_id,
        |               CASE WHEN user_id % 3 = 0 THEN 'free'
        |                    WHEN user_id % 3 = 1 THEN 'pro' ELSE 'ent' END AS tier,
        |               date_trunc('day', ts) AS "window"
        |        FROM events),
        |c AS (SELECT user_id, tier, "window", count(*) AS n_reqs
        |      FROM log GROUP BY 1, 2, 3)
        |SELECT user_id, tier, "window", n_reqs,
        |       n_reqs > max_reqs AS over_quota,
        |       greatest(0, n_reqs - max_reqs) AS n_throttled
        |FROM c JOIN lim USING (tier)
        |ORDER BY user_id, "window"""".stripMargin)),
    // the SIZE half of the throttle surface (ThrottleType REQUEST_SIZE
    // / WRITE_SIZE / READ_SIZE): byte-weighted day windows per user —
    // request bytes = value cents + props length, reads are the
    // click/view ops — with per-tier byte budgets chosen so each tier
    // trips a DIFFERENT limiter: free binds on request count first
    // (precedence) then total size, pro on write size, ent on read
    // size. throttle_as = the exception type checkQuota would throw
    Query("quota_throttle_size", (s, d) => {
      import s.implicits._
      val limits = Seq(
        ("free", 3L, 8000L, 1000000000L, 1000000000L),
        ("pro", 1000000000L, 1000000000L, 6000L, 3000L),
        ("ent", 1000000000L, 1000000000L, 1000000000L, 2500L))
        .toDF("tier", "max_reqs", "max_req_bytes", "max_write_bytes",
          "max_read_bytes")
      val log = Tables.load(s, d, "events")
        .withColumn("tier",
          when(col("user_id") % 3 === 0, "free")
            .when(col("user_id") % 3 === 1, "pro").otherwise("ent"))
      Tools.quotaThrottleSize(log,
          principal = col("user_id"), tier = col("tier"),
          window = date_trunc("DAY", col("ts")),
          isRead = col("event_type").isin("click", "view"),
          bytes = floor(col("value") * 100).cast("long") + length(col("props")),
          limits = limits)
        .orderBy("principal", "window")
    },
      // checkQuota precedence mirror: number > request size > write
      // size (writes only) > read size (reads only)
      Oracle("""WITH lim AS (SELECT * FROM (VALUES
        |    ('free', 3, 8000, 1000000000, 1000000000),
        |    ('pro', 1000000000, 1000000000, 6000, 3000),
        |    ('ent', 1000000000, 1000000000, 1000000000, 2500))
        |  t(tier, max_reqs, max_req_bytes, max_write_bytes, max_read_bytes)),
        |log AS (SELECT user_id AS principal,
        |          CASE WHEN user_id % 3 = 0 THEN 'free'
        |               WHEN user_id % 3 = 1 THEN 'pro' ELSE 'ent' END AS tier,
        |          date_trunc('day', ts) AS "window",
        |          event_type IN ('click', 'view') AS r,
        |          CAST(floor(value * 100) AS BIGINT) + len(props) AS b
        |        FROM events),
        |c AS (SELECT principal, tier, "window", count(*) AS n_reqs,
        |        CAST(sum(b) AS BIGINT) AS req_bytes,
        |        CAST(sum(CASE WHEN r THEN 0 ELSE b END) AS BIGINT) AS write_bytes,
        |        CAST(sum(CASE WHEN r THEN b ELSE 0 END) AS BIGINT) AS read_bytes
        |      FROM log GROUP BY 1, 2, 3),
        |f AS (SELECT c.*,
        |        CASE WHEN n_reqs > max_reqs THEN 'NumRequestsExceeded'
        |             WHEN req_bytes > max_req_bytes THEN 'RequestSizeExceeded'
        |             WHEN write_bytes > 0 AND write_bytes > max_write_bytes
        |               THEN 'WriteSizeExceeded'
        |             WHEN read_bytes > 0 AND read_bytes > max_read_bytes
        |               THEN 'ReadSizeExceeded' END AS throttle_as
        |      FROM c JOIN lim USING (tier))
        |SELECT principal, tier, "window", n_reqs, req_bytes, write_bytes,
        |       read_bytes, throttle_as, throttle_as IS NOT NULL AS over_quota
        |FROM f ORDER BY principal, "window"""".stripMargin)),
    // the per-direction request-COUNT limiter arms (ThrottleType
    // WRITE_NUMBER / READ_NUMBER) completing the six-type surface:
    // limits are tuned so every arm fires somewhere AND the checkQuota
    // interleaving shows — free trips write-COUNT before write-size
    // (both over in some windows, count wins), pro read-count before
    // read-size, ent total-count before request-size before
    // write-count
    Query("quota_throttle_counts", (s, d) => {
      import s.implicits._
      val big = 1000000000L
      val limits = Seq(
        ("free", big, big, 2L, 9000L, big, big),
        ("pro", big, big, big, big, 2L, 6000L),
        ("ent", 5L, 40000L, 1L, big, big, big))
        .toDF("tier", "max_reqs", "max_req_bytes", "max_write_reqs",
          "max_write_bytes", "max_read_reqs", "max_read_bytes")
      val log = Tables.load(s, d, "events")
        .withColumn("tier",
          when(col("user_id") % 3 === 0, "free")
            .when(col("user_id") % 3 === 1, "pro").otherwise("ent"))
      Tools.quotaThrottleCounts(log,
          principal = col("user_id"), tier = col("tier"),
          window = date_trunc("DAY", col("ts")),
          isRead = col("event_type").isin("click", "view"),
          bytes = floor(col("value") * 100).cast("long") + length(col("props")),
          limits = limits)
        .orderBy("principal", "window")
    },
      // the six-limiter interleaved precedence mirror (TimeBasedLimiter
      // .checkQuota): total count > total size > write count > write
      // size (windows with writes) > read count > read size (with reads)
      Oracle("""WITH lim AS (SELECT * FROM (VALUES
        |    ('free', 1000000000, 1000000000, 2, 9000, 1000000000, 1000000000),
        |    ('pro', 1000000000, 1000000000, 1000000000, 1000000000, 2, 6000),
        |    ('ent', 5, 40000, 1, 1000000000, 1000000000, 1000000000))
        |  t(tier, max_reqs, max_req_bytes, max_write_reqs,
        |    max_write_bytes, max_read_reqs, max_read_bytes)),
        |log AS (SELECT user_id AS principal,
        |          CASE WHEN user_id % 3 = 0 THEN 'free'
        |               WHEN user_id % 3 = 1 THEN 'pro' ELSE 'ent' END AS tier,
        |          date_trunc('day', ts) AS "window",
        |          event_type IN ('click', 'view') AS r,
        |          CAST(floor(value * 100) AS BIGINT) + len(props) AS b
        |        FROM events),
        |c AS (SELECT principal, tier, "window", count(*) AS n_reqs,
        |        CAST(sum(CASE WHEN r THEN 0 ELSE 1 END) AS BIGINT) AS n_write_reqs,
        |        CAST(sum(CASE WHEN r THEN 1 ELSE 0 END) AS BIGINT) AS n_read_reqs,
        |        CAST(sum(b) AS BIGINT) AS req_bytes,
        |        CAST(sum(CASE WHEN r THEN 0 ELSE b END) AS BIGINT) AS write_bytes,
        |        CAST(sum(CASE WHEN r THEN b ELSE 0 END) AS BIGINT) AS read_bytes
        |      FROM log GROUP BY 1, 2, 3),
        |f AS (SELECT c.*,
        |        CASE WHEN n_reqs > max_reqs THEN 'NumRequestsExceeded'
        |             WHEN req_bytes > max_req_bytes THEN 'RequestSizeExceeded'
        |             WHEN n_write_reqs > 0 AND n_write_reqs > max_write_reqs
        |               THEN 'NumWriteRequestsExceeded'
        |             WHEN n_write_reqs > 0 AND write_bytes > max_write_bytes
        |               THEN 'WriteSizeExceeded'
        |             WHEN n_read_reqs > 0 AND n_read_reqs > max_read_reqs
        |               THEN 'NumReadRequestsExceeded'
        |             WHEN n_read_reqs > 0 AND read_bytes > max_read_bytes
        |               THEN 'ReadSizeExceeded' END AS throttle_as
        |      FROM c JOIN lim USING (tier))
        |SELECT principal, tier, "window", n_reqs, n_write_reqs, n_read_reqs,
        |       req_bytes, write_bytes, read_bytes, throttle_as,
        |       throttle_as IS NOT NULL AS over_quota
        |FROM f ORDER BY principal, "window"""".stripMargin)),
    // NamespaceAuditor: per-namespace table/region accounting vs the
    // namespace quota properties (the `n.` rows of hbase:quota) —
    // 5 tables in 2 namespaces, region counts from exact integer
    // ceil(rows/1000); 'sales' runs over its region quota, 'catalog'
    // sits exactly AT its table quota (at-quota is not over-quota)
    Query("namespace_quota", (s, d) => {
      import s.implicits._
      val quotas = Seq(("sales", 5L, 60L), ("catalog", 2L, 50L))
        .toDF("namespace", "max_tables", "max_regions")
      val cat = Seq("orders" -> "sales", "lineitem" -> "sales",
        "customer" -> "sales", "part" -> "catalog", "supplier" -> "catalog")
      Tools.namespaceQuotaAudit(
          cat.map { case (t, ns) => (ns, t, Tables.load(s, d, t)) },
          quotas, regionRows = 1000L)
        .orderBy("namespace")
    },
      Oracle("""WITH catalog AS (
        |  SELECT 'sales' AS namespace, greatest(1, (count(*) + 999) // 1000) AS n_regions FROM orders
        |  UNION ALL SELECT 'sales', greatest(1, (count(*) + 999) // 1000) FROM lineitem
        |  UNION ALL SELECT 'sales', greatest(1, (count(*) + 999) // 1000) FROM customer
        |  UNION ALL SELECT 'catalog', greatest(1, (count(*) + 999) // 1000) FROM part
        |  UNION ALL SELECT 'catalog', greatest(1, (count(*) + 999) // 1000) FROM supplier),
        |q AS (SELECT namespace, CAST(max_tables AS BIGINT) AS max_tables,
        |             CAST(max_regions AS BIGINT) AS max_regions
        |      FROM (VALUES ('sales', 5, 60), ('catalog', 2, 50))
        |           t(namespace, max_tables, max_regions)),
        |u AS (SELECT namespace, count(*) AS n_tables,
        |             CAST(sum(n_regions) AS BIGINT) AS n_regions
        |      FROM catalog GROUP BY 1)
        |SELECT namespace,
        |       coalesce(n_tables, 0) AS n_tables,
        |       coalesce(n_regions, 0) AS n_regions,
        |       max_tables, max_regions,
        |       coalesce(n_tables, 0) > max_tables
        |         OR coalesce(n_regions, 0) > max_regions AS over_quota,
        |       max_tables - coalesce(n_tables, 0) AS table_headroom,
        |       max_regions - coalesce(n_regions, 0) AS region_headroom
        |FROM q LEFT JOIN u USING (namespace)
        |ORDER BY namespace""".stripMargin)),
    // SimpleRegionNormalizer: regions grown unevenly (squared key ->
    // dense low range, sparse tail) get split/merge plans from ONE
    // stats aggregate; the rank window runs over 16 bucket rows
    Query("region_normalizer", (s, d) => {
      val grown = Tables.load(s, d, "orders")
        .withColumn("region_key", col("o_orderkey") * col("o_orderkey"))
      // 16-row bucket stats feed three forks inside normalizerPlan —
      // materialized so the corpus scans once (scan audit)
      Tools.normalizerPlan(Tools.materializeMeta(
          Tools.totalOrderBuckets(grown, "region_key", 16)))
        .orderBy("action", "bucket")
    },
      Oracle("""WITH g AS (SELECT o_orderkey * o_orderkey AS k FROM orders),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM g),
        |st AS (SELECT CAST(floor((k - lo) * 16 / (hi - lo + 1)) AS BIGINT) AS bucket,
        |              count(*) AS n_rows FROM g, b GROUP BY 1),
        |a AS (SELECT avg(n_rows) AS av FROM st),
        |r AS (SELECT st.*, row_number() OVER (ORDER BY bucket) AS rn FROM st),
        |pr AS (SELECT CAST(floor((rn - 1) / 2) AS BIGINT) AS pair, min(bucket) AS bucket,
        |              max(bucket) AS other_bucket, CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |              count(*) AS c
        |       FROM r GROUP BY 1)
        |SELECT 'split' AS action, bucket, CAST(NULL AS BIGINT) AS other_bucket, n_rows
        |FROM r, a WHERE n_rows > 2 * av
        |UNION ALL
        |SELECT 'merge' AS action, bucket, other_bucket, n_rows
        |FROM pr, a WHERE c = 2 AND n_rows < av
        |ORDER BY action, bucket""".stripMargin)),
    // RegionSplitter pre-split points over the skew-grown keyspace:
    // uniform (keyspace-even) and quantile (data-even) splits side by
    // side — with squared keys the two disagree wildly, which is the
    // reason the data-aware variant exists
    Query("region_splitter", (s, d) =>
      regionSplitterFrame(s, d, approx = false),
      Oracle("""WITH g AS (SELECT o_orderkey * o_orderkey AS k FROM orders),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM g),
        |q AS (SELECT quantile_cont(k, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS qs
        |      FROM g),
        |s AS (SELECT unnest(range(1, 8)) AS split_idx)
        |SELECT split_idx,
        |       CAST(lo + ceil((hi - lo + 1) * split_idx / 8.0) AS BIGINT) AS uniform_key,
        |       round(qs[split_idx], 4) AS quantile_key
        |FROM s, b, q ORDER BY split_idx""".stripMargin),
      // split points need only be NEAR the quantiles: the bench times
      // the fixed-state approx_percentile sketch (the exact form buffers
      // every key in one aggregation buffer); one frame builder serves
      // both, so the timed plan can't drift from the verified one
      bench = Some((s, d) => regionSplitterFrame(s, d, approx = true))),
    // ExploringCompactionPolicy: flush files modeled as one store file
    // per (region, day) — size = cells flushed; per region, select the
    // best ratio-valid window of 3-5 seq-ordered files (most files,
    // then fewest bytes), all as per-row array algebra
    Query("compaction_select", (s, d) => {
      val files = Tools.withTotalOrderTag(
          Tables.load(s, d, "events"), "user_id", 8)
        .groupBy(col("region"), dayofmonth(col("ts")).cast("bigint").as("seq"))
        .agg(count(lit(1)).as("size"))
      Tools.compactionSelect(files).orderBy("region")
    },
      Oracle(s"WITH $ddCompactionCtes\n" +
        """SELECT region, first_seq, n_files, tot_size FROM r WHERE rn = 1
          |ORDER BY region""".stripMargin)),
    // StochasticLoadBalancer's MOVE GENERATION (master/balancer/
    // StochasticLoadBalancer.java:330 balanceCluster's candidate loop
    // + RegionMoveCandidateGenerator — pick a region, pick a server,
    // accept when the cost function drops; balancer_stochastic_cost
    // verifies the EVALUATION, this verifies one greedy step of the
    // generator made deterministic): every (region, dest) candidate's
    // exact integer cost delta on the region-count-skew function
    // (Σ|C·n_s − T| — only the source and dest servers' terms change,
    // so the delta is four |·| terms, no full re-evaluation per
    // candidate), ranked; chosen = the best strictly-improving move,
    // ties to (bucket, dest). Initial placement bucket mod 3 over 5
    // servers leaves two servers EMPTY — absent servers must enter
    // the cost at n = 0, the same trap balancer_stochastic_cost
    // spec-covers. Everything is region/server metadata (≤ 80 rows).
    Query("balancer_move_plan", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val C = 5
      // 16-row region metadata feeding candidate fan-out + two count
      // joins — materialized so orders scans once (scan audit)
      val regions = Tools.materializeMeta(Tools.totalOrderBuckets(
          Tables.load(s, d, "orders"), "o_orderkey", 16)
        .select(col("bucket"), col("n_rows"),
          pmod(col("bucket"), lit(3)).cast("int").as("server")))
      val totals = regions.agg(count(lit(1)).as("_t"))
      val servers = s.range(0, C).select(col("id").cast("int").as("server"))
      val counts = servers.join(
          regions.groupBy("server").agg(count(lit(1)).as("_n")),
          Seq("server"), "left")
        .select(col("server"), coalesce(col("_n"), lit(0L)).as("_n"))
      def term(n: org.apache.spark.sql.Column) = abs(n * C - col("_t"))
      val cand = regions.select(col("bucket"), col("server").as("src"))
        .crossJoin(broadcast(servers.select(col("server").as("dest"))))
        .where(col("src") =!= col("dest"))
        .join(broadcast(counts.select(col("server").as("src"),
          col("_n").as("_na"))), "src")
        .join(broadcast(counts.select(col("server").as("dest"),
          col("_n").as("_nb"))), "dest")
        .crossJoin(broadcast(totals))
        .withColumn("delta_num",
          term(col("_na") - 1) - term(col("_na")) +
            term(col("_nb") + 1) - term(col("_nb")))
      cand
        .withColumn("rank", row_number().over(
          Window.orderBy(col("delta_num"), col("bucket"), col("dest"))))
        .withColumn("chosen", col("rank") === 1 && col("delta_num") < 0)
        .select("bucket", "src", "dest", "delta_num", "rank", "chosen")
        .orderBy("bucket", "dest")
    },
      Oracle("""WITH g AS (SELECT o_orderkey AS k FROM orders),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM g),
        |reg AS (SELECT CAST(floor((k - lo) * 16 / (hi - lo + 1)) AS BIGINT) AS bucket,
        |               count(*) AS n_rows FROM g, b GROUP BY 1),
        |r AS (SELECT bucket, CAST(bucket % 3 AS INT) AS server FROM reg),
        |t AS (SELECT count(*) AS tt FROM r),
        |sv AS (SELECT unnest(range(0, 5)) AS server),
        |cnt AS (SELECT sv.server, CAST(coalesce(n.c, 0) AS BIGINT) AS n
        |        FROM sv LEFT JOIN (SELECT server, count(*) AS c FROM r
        |                           GROUP BY 1) n USING (server)),
        |cand AS (SELECT r.bucket, r.server AS src, d.server AS dest,
        |                na.n AS na, nb.n AS nb, tt
        |         FROM r CROSS JOIN sv d
        |         JOIN cnt na ON na.server = r.server
        |         JOIN cnt nb ON nb.server = d.server
        |         CROSS JOIN t
        |         WHERE r.server <> d.server),
        |dl AS (SELECT bucket, CAST(src AS INT) AS src, CAST(dest AS INT) AS dest,
        |              abs((na - 1) * 5 - tt) - abs(na * 5 - tt)
        |              + abs((nb + 1) * 5 - tt) - abs(nb * 5 - tt) AS delta_num
        |       FROM cand),
        |rk AS (SELECT *, row_number() OVER (ORDER BY delta_num, bucket, dest)
        |                 AS rank FROM dl)
        |SELECT bucket, src, dest, delta_num, CAST(rank AS INT) AS rank,
        |       rank = 1 AND delta_num < 0 AS chosen
        |FROM rk ORDER BY bucket, dest""".stripMargin)),
    // CompactSplitThread queue routing (regionserver/CompactSplitThread
    // .java:356 — requestCompactionInternal picks the pool by
    // store.throttleCompaction(size): a request whose total size
    // crosses the throttle point runs in the LARGE pool so monster
    // compactions can't starve the small queue; throttlePoint default
    // = 2 · maxFilesToCompact · memstoreFlushSize,
    // compactions/CompactionConfiguration.java:132). Requests are the
    // SAME selections compaction_select verifies (one shared
    // Tools.compactionSelect); the flush-size analogue is the model's
    // mean flush-file size (1-row broadcast), maxFiles = 5 as
    // registered, so throttle = mean · 10.
    Query("compaction_queue_split", (s, d) => {
      val files = Tools.withTotalOrderTag(
          Tables.load(s, d, "events").select(col("user_id"), col("ts")),
          "user_id", 8)
        .groupBy(col("region"), dayofmonth(col("ts")).cast("bigint").as("seq"))
        .agg(count(lit(1)).as("size"))
      val flush = files.agg(expr("sum(size) div count(1)").as("_flush"))
      Tools.compactionSelect(files)
        .crossJoin(broadcast(flush))
        .withColumn("throttle_point", col("_flush") * 10)
        .withColumn("queue",
          when(col("tot_size") > col("throttle_point"), "large")
            .otherwise("small"))
        .select("region", "first_seq", "n_files", "tot_size",
          "throttle_point", "queue")
        .orderBy("region")
    },
      Oracle(s"WITH $ddCompactionCtes,\n" +
        """fl AS (SELECT CAST(sum(size) // count(*) AS BIGINT) AS flush FROM f),
          |sel AS (SELECT region, first_seq, n_files, tot_size FROM r
          |        WHERE rn = 1)
          |SELECT region, first_seq, n_files, tot_size,
          |       flush * 10 AS throttle_point,
          |       CASE WHEN tot_size > flush * 10 THEN 'large'
          |            ELSE 'small' END AS queue
          |FROM sel, fl ORDER BY region""".stripMargin)),
    // DateTieredCompactionPolicy: the same per-(region, day) flush
    // files grouped into age-tiered time windows (4-day base windows,
    // 4 windows per tier, exponential growth); the incoming window
    // needs 6 files before compacting, older windows 3 — the
    // time-series layout that never rewrites cold data
    Query("compaction_date_tiered", (s, d) => {
      val files = Tools.withTotalOrderTag(
          Tables.load(s, d, "events"), "user_id", 8)
        .groupBy(col("region"), date_trunc("DAY", col("ts")).as("file_day"))
        .agg(count(lit(1)).as("size"))
      Tools.dateTieredSelect(files).orderBy("region", "tier", "window_id")
    },
      Oracle("""WITH b AS (SELECT min(user_id) lo, max(user_id) hi FROM events),
        |f AS (SELECT CAST(floor((user_id - lo) * 8 / (hi - lo + 1)) AS BIGINT) AS region,
        |             date_trunc('day', ts) AS file_day, count(*) AS size
        |      FROM events, b GROUP BY 1, 2),
        |n AS (SELECT max(file_day) AS newest FROM f),
        |a AS (SELECT region, size,
        |             CAST(date_diff('day', file_day, newest) AS BIGINT) AS age
        |      FROM f, n),
        |t AS (SELECT region, size, age,
        |             CAST(CASE WHEN age < 16 THEN 0 WHEN age < 64 THEN 1
        |                       WHEN age < 256 THEN 2 ELSE 3 END AS BIGINT) AS tier
        |      FROM a),
        |w AS (SELECT region, size, age, tier,
        |             age // (CASE tier WHEN 0 THEN 4 WHEN 1 THEN 16
        |                               WHEN 2 THEN 64 ELSE 256 END) AS window_id
        |      FROM t)
        |SELECT region, tier, window_id, CAST(count(*) AS BIGINT) AS n_files,
        |       CAST(sum(size) AS BIGINT) AS tot_size,
        |       min(age) AS min_age, max(age) AS max_age,
        |       count(*) >= (CASE WHEN tier = 0 AND window_id = 0 THEN 6 ELSE 3 END) AS compact
        |FROM w GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    // Rolling-restart drain (region_mover.rb unload): the balancer's
    // 16-region / 5-server assignment with server 2 draining — its
    // regions deal round-robin to the four survivors, the rest stay put
    Query("region_mover", (s, d) => {
      val grown = Tables.load(s, d, "orders")
        .withColumn("region_key", col("o_orderkey") * col("o_orderkey"))
      Tools.regionMoverPlan(
          Tools.balancerPlan(Tools.totalOrderBuckets(grown, "region_key", 16), 5),
          nServers = 5, drain = 2)
        .orderBy("bucket")
    },
      Oracle("""WITH g AS (SELECT o_orderkey * o_orderkey AS k FROM orders),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM g),
        |st AS (SELECT CAST(floor((k - lo) * 16 / (hi - lo + 1)) AS BIGINT) AS bucket,
        |              count(*) AS n_rows FROM g, b GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY n_rows DESC, bucket) AS rn FROM st),
        |a AS (SELECT bucket, n_rows, CAST((rn - 1) % 5 AS INT) AS server FROM r),
        |dd AS (SELECT *, row_number() OVER (PARTITION BY server = 2 ORDER BY bucket) AS drn
        |       FROM a)
        |SELECT bucket, n_rows, server AS src_server,
        |       CAST(CASE WHEN server <> 2 THEN server
        |                 WHEN (drn - 1) % 4 >= 2 THEN (drn - 1) % 4 + 1
        |                 ELSE (drn - 1) % 4 END AS INT) AS dest_server,
        |       server = 2 AS moved
        |FROM dd ORDER BY bucket""".stripMargin)),
    // Per-peer table-CFs replication scoping: p_dr subscribes to
    // events:web only, p_analytics to all of events + customer,
    // p_backup to customer:info — shipped-edit counts per peer scope
    Query("replication_table_cfs", (s, d) => {
      import s.implicits._
      val cfg = Seq(
        ("p_dr", "events", Some("web")),
        ("p_analytics", "events", None: Option[String]),
        ("p_analytics", "customer", None: Option[String]),
        ("p_backup", "customer", Some("info")))
        .toDF("peer_id", "tbl", "fam")
      val ev = Tables.eventCellsTwoFamilies(s, d)
        .select(col("family"), lit("events").as("table_name"))
      val cust = Tables.customerCells(s, d)
        .select(col("family"), lit("customer").as("table_name"))
      Tools.replicationTableCfs(ev.unionByName(cust), cfg)
        .orderBy("peer_id", "table_name", "family")
    },
      Oracle("WITH " + graft.core.Tables.eventCellsTwoFamiliesSql + ",\n" +
        graft.core.Tables.customerCellsSql + """,
        |cfg(peer_id, tbl, fam) AS (VALUES
        |  ('p_dr', 'events', 'web'),
        |  ('p_analytics', 'events', NULL),
        |  ('p_analytics', 'customer', NULL),
        |  ('p_backup', 'customer', 'info')),
        |ed AS (SELECT 'events' AS table_name, family FROM vcells2
        |       UNION ALL SELECT 'customer', family FROM cells)
        |SELECT peer_id, table_name, family, count(*) AS n_edits
        |FROM ed JOIN cfg ON cfg.tbl = ed.table_name
        |                AND (cfg.fam IS NULL OR cfg.fam = ed.family)
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),
    // SCD Type-2 dimension build: every cell version becomes an
    // effectivity interval [valid_from, valid_to) with the next
    // version's ts as the exclusive upper bound (NULL = current row) —
    // the warehouse dual of HBase's multi-version scan
    Query("scd2_build", (s, d) =>
      Tools.scd2Build(
          Tables.eventCells(s, d)
            .select("rowkey", "qualifier", "ts", "value", "event_id"),
          Seq("rowkey", "qualifier"), "ts", "event_id")
        .select("rowkey", "qualifier", "valid_from", "valid_to", "value",
          "event_id", "is_current")
        .orderBy("rowkey", "qualifier", "valid_from", "event_id"),
      Oracle("WITH " + graft.core.Tables.eventCellsSql + """
        |SELECT rowkey, qualifier, ts AS valid_from,
        |       lead(ts) OVER (PARTITION BY rowkey, qualifier
        |                      ORDER BY ts, event_id) AS valid_to,
        |       value, event_id,
        |       lead(ts) OVER (PARTITION BY rowkey, qualifier
        |                      ORDER BY ts, event_id) IS NULL AS is_current
        |FROM vcells ORDER BY rowkey, qualifier, valid_from, event_id""".stripMargin)),
    // Point-in-time lookup against the SCD2 dimension: three probe
    // timestamps (a 3-row broadcast — bounded ×3 fanout, never a
    // per-key range join) each select the version effective at that
    // instant; zero-width same-ts versions can never match
    Query("scd2_lookup", (s, d) => {
      import s.implicits._
      val probes = Seq("2024-01-08 00:00:00", "2024-01-15 00:00:00",
          "2024-01-22 00:00:00").toDF("_p")
        .select(to_timestamp(col("_p")).as("probe_ts"))
      Tools.scd2Build(
          Tables.eventCells(s, d)
            .select("rowkey", "qualifier", "ts", "value", "event_id"),
          Seq("rowkey", "qualifier"), "ts", "event_id")
        .join(broadcast(probes),
          col("valid_from") <= col("probe_ts") &&
            (col("valid_to").isNull || col("valid_to") > col("probe_ts")))
        .select("probe_ts", "rowkey", "qualifier", "value", "event_id",
          "valid_from")
        .orderBy("probe_ts", "rowkey", "qualifier")
    },
      Oracle("WITH " + graft.core.Tables.eventCellsSql + """,
        |dim AS (SELECT rowkey, qualifier, ts AS valid_from,
        |               lead(ts) OVER (PARTITION BY rowkey, qualifier
        |                              ORDER BY ts, event_id) AS valid_to,
        |               value, event_id
        |        FROM vcells),
        |p(probe_ts) AS (VALUES (TIMESTAMP '2024-01-08 00:00:00'),
        |                       (TIMESTAMP '2024-01-15 00:00:00'),
        |                       (TIMESTAMP '2024-01-22 00:00:00'))
        |SELECT probe_ts, rowkey, qualifier, value, event_id, valid_from
        |FROM dim JOIN p ON valid_from <= probe_ts
        |                AND (valid_to IS NULL OR valid_to > probe_ts)
        |ORDER BY probe_ts, rowkey, qualifier""".stripMargin)),
    // LogRoller WAL file inventory: hour-grain edit chunks per server
    // (4 key-range servers) accumulate deterministic edit bytes; a
    // segment closes as the running size crosses 4 KiB — the WAL file
    // list log-split recovery would walk
    Query("wal_roll_plan", (s, d) => {
      val chunks = Tools.withTotalOrderTag(
          Tables.load(s, d, "events"), "user_id", 4, "server")
        .groupBy(col("server"), date_trunc("HOUR", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_edits"),
          sum(length(col("event_type")) + lit(24L)).as("bytes"))
      Tools.walRollPlan(chunks, 4096L).orderBy("server", "segment_id")
    },
      Oracle("""WITH b AS (SELECT min(user_id) lo, max(user_id) hi FROM events),
        |c AS (SELECT CAST(floor((user_id - lo) * 4 / (hi - lo + 1)) AS BIGINT) AS server,
        |             date_trunc('hour', ts) AS hour, count(*) AS n_edits,
        |             CAST(sum(len(event_type) + 24) AS BIGINT) AS bytes
        |      FROM events, b GROUP BY 1, 2),
        |r AS (SELECT *, CAST(sum(bytes) OVER (PARTITION BY server ORDER BY hour
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM c)
        |SELECT server, (cum - bytes) // 4096 AS segment_id,
        |       min(hour) AS first_hour, max(hour) AS last_hour,
        |       CAST(sum(n_edits) AS BIGINT) AS n_edits,
        |       CAST(sum(bytes) AS BIGINT) AS bytes
        |FROM r GROUP BY 1, 2 ORDER BY server, segment_id""".stripMargin)),
    // FlushLargeStoresPolicy: two-family memstores per 8 key-range
    // regions; regions over the trigger flush only the families at the
    // lower bound — unless none qualifies, then all (the fallback)
    Query("flush_policy", (s, d) => {
      // materialized HERE (16 rows), not inside the lazy helper: the
      // fam aggregate scans the corpus and feeds flushPolicy's four
      // forks (scan audit); a many-thousand-region caller materializes
      // or not at its own scale
      val fam = Tools.materializeMeta(Tools.withTotalOrderTag(
          Tables.eventCellsTwoFamilies(s, d), "rowkey", 8)
        .groupBy("region", "family")
        .agg(sum(length(col("qualifier")) + lit(20L)).as("mem_bytes")))
      Tools.flushPolicy(fam).orderBy("region", "family")
    },
      Oracle("WITH " + graft.core.Tables.eventCellsTwoFamiliesSql + """,
        |b AS (SELECT min(rowkey) lo, max(rowkey) hi FROM vcells2),
        |fam AS (SELECT CAST(floor((rowkey - lo) * 8 / (hi - lo + 1)) AS BIGINT) AS region,
        |               family, CAST(sum(len(qualifier) + 20) AS BIGINT) AS mem_bytes
        |        FROM vcells2, b GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(mem_bytes) AS BIGINT) AS t FROM fam),
        |sel AS (SELECT f.*, mem_bytes >= t // 40 AS fam_selected FROM fam f, tot),
        |reg AS (SELECT region, CAST(sum(mem_bytes) AS BIGINT) AS region_bytes,
        |               max(CASE WHEN fam_selected THEN 1 ELSE 0 END) AS any_sel
        |        FROM sel GROUP BY 1),
        |rt AS (SELECT r.*, region_bytes > t // 10 AS flush_region FROM reg r, tot)
        |SELECT s.region, s.family, s.mem_bytes, rt.region_bytes, rt.flush_region,
        |       rt.flush_region AND (s.fam_selected OR rt.any_sel = 0) AS flushed
        |FROM sel s JOIN rt ON s.region = rt.region
        |ORDER BY s.region, family""".stripMargin)),
    // LruBlockCache working-set audit (io/hfile/LruBlockCache.java):
    // the hit ratio a 32-block cache would reach if it held the 32
    // hottest 64-row blocks — the steady-state LFU upper bound an LRU
    // converges toward under a stable access mix. Top-32 is
    // TakeOrderedAndProject over block-count metadata rows.
    Query("block_cache_plan", (s, d) => {
      val acc = Tables.load(s, d, "events")
        .groupBy(expr("user_id div 64").as("block"))
        .agg(count(lit(1)).as("n_acc"))
      val top = acc.orderBy(col("n_acc").desc, col("block")).limit(32)
        .select(col("block"), lit(true).as("_cached"))
      acc.join(broadcast(top), Seq("block"), "left")
        .agg(count(lit(1)).as("n_blocks"),
          sum(when(col("_cached"), 1L).otherwise(0L)).as("cached_blocks"),
          sum("n_acc").as("total_acc"),
          sum(when(col("_cached"), col("n_acc")).otherwise(0L)).as("cached_acc"))
        // the access count is corpus-order: guard the ppm multiply loudly (past
        // Long.Max/10⁶ it wraps negative silently — the
        // quality_ablation/ngram_novelty discipline)
        .withColumn("hit_ppm",
          when(col("cached_acc") > lit(Long.MaxValue / 1000000L),
            raise_error(lit("hit_ppm overflows int64 — pre-aggregate")))
          .otherwise(expr("cached_acc * 1000000 div total_acc")))
    },
      Oracle("""WITH acc AS (SELECT user_id // 64 AS block, count(*) AS n_acc
        |             FROM events GROUP BY 1),
        |top AS (SELECT block FROM acc ORDER BY n_acc DESC, block LIMIT 32),
        |j AS (SELECT a.n_acc, a.block IN (SELECT block FROM top) AS cached FROM acc a)
        |SELECT CAST(count(*) AS BIGINT) AS n_blocks,
        |       CAST(sum(CASE WHEN cached THEN 1 ELSE 0 END) AS BIGINT) AS cached_blocks,
        |       CAST(sum(n_acc) AS BIGINT) AS total_acc,
        |       CAST(sum(CASE WHEN cached THEN n_acc ELSE 0 END) AS BIGINT) AS cached_acc,
        |       CAST(sum(CASE WHEN cached THEN n_acc ELSE 0 END) * 1000000 // sum(n_acc)
        |            AS BIGINT) AS hit_ppm
        |FROM j""".stripMargin)),
    // CompoundBloomFilter sizing plan (io/hfile/CompoundBloomFilter
    // Writer.java — blooms build in 128 Kibit chunks as keys arrive;
    // util/BloomFilterUtil): per region, ROW vs ROWCOL key counts at
    // 10 bits/key → chunk count and bloom bytes for each bloom type —
    // the sizing table behind the BloomType column-family decision
    Query("bloom_size_plan", (s, d) => {
      Tools.withTotalOrderTag(Tables.eventCells(s, d), "rowkey", 8)
        .groupBy("region")
        .agg(countDistinct(col("rowkey")).as("row_keys"),
          countDistinct(col("rowkey"), col("qualifier")).as("rowcol_keys"))
        .withColumn("row_chunks", expr("(row_keys * 10 + 131071) div 131072"))
        .withColumn("row_bloom_bytes", col("row_chunks") * 16384L)
        .withColumn("rowcol_chunks", expr("(rowcol_keys * 10 + 131071) div 131072"))
        .withColumn("rowcol_bloom_bytes", col("rowcol_chunks") * 16384L)
        // the distinct-key count is corpus-order: guard the ppm multiply loudly (past
        // Long.Max/10⁶ it wraps negative silently — the
        // quality_ablation/ngram_novelty discipline)
        .withColumn("rowcol_overhead_ppm",
          when(col("rowcol_keys") > lit(Long.MaxValue / 1000000L),
            raise_error(lit("rowcol_overhead_ppm overflows int64 — pre-aggregate")))
          .otherwise(expr("(rowcol_keys - row_keys) * 1000000 div row_keys")))
        .orderBy("region")
    },
      Oracle("WITH " + graft.core.Tables.eventCellsSql + """,
        |b AS (SELECT min(rowkey) lo, max(rowkey) hi FROM vcells),
        |g AS (SELECT CAST(floor((rowkey - lo) * 8 / (hi - lo + 1)) AS BIGINT) AS region,
        |             count(DISTINCT rowkey) AS row_keys,
        |             count(DISTINCT (rowkey, qualifier)) AS rowcol_keys
        |      FROM vcells, b GROUP BY 1)
        |SELECT region, row_keys, rowcol_keys,
        |       (row_keys * 10 + 131071) // 131072 AS row_chunks,
        |       (row_keys * 10 + 131071) // 131072 * 16384 AS row_bloom_bytes,
        |       (rowcol_keys * 10 + 131071) // 131072 AS rowcol_chunks,
        |       (rowcol_keys * 10 + 131071) // 131072 * 16384 AS rowcol_bloom_bytes,
        |       (rowcol_keys - row_keys) * 1000000 // row_keys AS rowcol_overhead_ppm
        |FROM g ORDER BY region""".stripMargin)),
    // SimpleLoadBalancer round-robin assignment: unevenly grown regions
    // (normalizer's squared-key buckets) dealt to 5 servers in size
    // order — per-region placement the oracle recomputes exactly
    Query("region_balancer", (s, d) => {
      val grown = Tables.load(s, d, "orders")
        .withColumn("region_key", col("o_orderkey") * col("o_orderkey"))
      Tools.balancerPlan(Tools.totalOrderBuckets(grown, "region_key", 16), 5)
        .orderBy("bucket")
    },
      Oracle("""WITH g AS (SELECT o_orderkey * o_orderkey AS k FROM orders),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM g),
        |st AS (SELECT CAST(floor((k - lo) * 16 / (hi - lo + 1)) AS BIGINT) AS bucket,
        |              count(*) AS n_rows FROM g, b GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY n_rows DESC, bucket) AS rn FROM st)
        |SELECT bucket, n_rows, CAST((rn - 1) % 5 AS INT) AS server
        |FROM r ORDER BY bucket""".stripMargin)),
    // WALSplitter / distributed log split (wal/WALSplitter.java): one
    // mixed-region WAL split into per-region recovered-edits summaries
    // — region ranges from the key bounds, per-region edit count, seq
    // range and tombstone count, in ONE pass (the same aggregate a
    // region server replays from)
    Query("wal_split", (s, d) => {
      val edits = Tables.eventCells(s, d)
        .withColumn("op", when(col("event_id") % 7 === 0, "delete").otherwise("put"))
      Tools.totalOrderBuckets(edits, "rowkey", 8, Seq(
          min(col("event_id")).as("first_seq"),
          max(col("event_id")).as("last_seq"),
          sum(when(col("op") === "delete", 1L).otherwise(0L)).as("n_deletes")))
        .orderBy("bucket")
    },
      Oracle("""WITH ed AS (SELECT user_id AS rowkey, event_id,
        |                   CASE WHEN event_id % 7 = 0 THEN 'delete' ELSE 'put' END AS op
        |            FROM events),
        |b AS (SELECT min(rowkey) AS lo, max(rowkey) AS hi FROM ed)
        |SELECT CAST(floor((rowkey - lo) * 8 / (hi - lo + 1)) AS BIGINT) AS bucket,
        |       count(*) AS n_rows, min(rowkey) AS min_key, max(rowkey) AS max_key,
        |       min(event_id) AS first_seq, max(event_id) AS last_seq,
        |       CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT) AS n_deletes
        |FROM ed, b GROUP BY 1 ORDER BY bucket""".stripMargin)),
    // The Export-based backup workflow HBase 1.x ops actually ran
    // (mapreduce/Export.java:89-94 — versions + [startTime, endTime)
    // time-range args): a FULL backup up to T1, an INCREMENTAL backup
    // of [T1, T2) — each a physical parquet export — then restore =
    // union of the two version sets with the latest cell version
    // winning per (rowkey, qualifier) (one hash aggregate, max struct,
    // same shape as wal_replay without tombstones — Export famously
    // does not capture deletes unless raw). Restored state must equal
    // the state computed directly from the source at T2, which is what
    // the oracle asserts.
    Query("backup_restore", (s, d) => {
      // the two physical exports are ensure-once ingest (backups are
      // taken once; RESTORE is the verified operator) — re-writing
      // both parquet sets on every bench invocation timed the backup,
      // and concurrent same-sfDir runs clobbered each other's files
      val base = graft.core.Indexes.ensure(s, d, "backup_sets") { target =>
        val cells = Tables.eventCells(s, d)
        val t1 = lit("2024-01-15 00:00:00").cast("timestamp")
        val t2 = lit("2024-01-25 00:00:00").cast("timestamp")
        cells.where(col("ts") < t1)
          .write.mode("overwrite").parquet(target + "/full")
        cells.where(col("ts") >= t1 && col("ts") < t2)
          .write.mode("overwrite").parquet(target + "/inc")
      }
      graft.core.Layout.read(s, base + "/full")
        .unionByName(graft.core.Layout.read(s, base + "/inc"))
        .groupBy("rowkey", "qualifier")
        .agg(max(struct(col("ts"), col("event_id"), col("value"))).as("_c"))
        .select(col("rowkey"), col("qualifier"), col("_c.ts").as("ts"),
          col("_c.event_id").as("event_id"), col("_c.value").as("value"))
        .orderBy("rowkey", "qualifier")
    },
      // the direct form: latest version per cell across the whole
      // backed-up range — restore must reproduce it exactly
      Oracle("""WITH ed AS (
        |  SELECT user_id AS rowkey, event_type AS qualifier, ts, value, event_id
        |  FROM events WHERE ts < TIMESTAMP '2024-01-25 00:00:00'),
        |r AS (SELECT *, row_number() OVER (PARTITION BY rowkey, qualifier
        |                ORDER BY ts DESC, event_id DESC) AS rn FROM ed)
        |SELECT rowkey, qualifier, ts, event_id, value FROM r WHERE rn = 1
        |ORDER BY rowkey, qualifier""".stripMargin)),
    // completebulkload assignment: 12 pre-sorted HFiles (bucket ranges)
    // land on an 8-region table — misaligned boundaries force straddler
    // files to split at region edges, exactly groupOrSplit's re-queue
    // fixed point; the last region ends open
    Query("bulk_load_assign", (s, d) => {
      val orders = Tables.load(s, d, "orders")
      val b = orders.agg(min("o_orderkey").as("_lo"), max("o_orderkey").as("_hi"))
      def bd(i: org.apache.spark.sql.Column) =
        floor(col("_lo") + (col("_hi") - col("_lo") + 1) * i / 8).cast("bigint")
      val regions = b
        .select(explode(sequence(lit(0), lit(7))).as("i"), col("_lo"), col("_hi"))
        .select(col("i").cast("bigint").as("region"), bd(col("i")).as("start_key"),
          when(col("i") === 7, lit(null).cast("bigint"))
            .otherwise(bd(col("i") + 1)).as("end_key"))
      val files = Tools.totalOrderBuckets(orders, "o_orderkey", 12)
        .select(concat(lit("hfile-"), lpad(col("bucket").cast("string"), 2, "0"))
            .as("hfile"),
          col("min_key").as("first_key"), col("max_key").as("last_key"))
      Tools.bulkLoadAssign(files, regions).orderBy("hfile", "region")
    },
      Oracle("""WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM orders),
        |reg AS (SELECT CAST(i AS BIGINT) AS region,
        |               CAST(floor(lo + (hi - lo + 1) * i / 8.0) AS BIGINT) AS start_key,
        |               CASE WHEN i = 7 THEN NULL
        |                    ELSE CAST(floor(lo + (hi - lo + 1) * (i + 1) / 8.0) AS BIGINT)
        |               END AS end_key
        |        FROM range(0, 8) t(i), b),
        |f AS (SELECT 'hfile-' || lpad(CAST(bucket AS VARCHAR), 2, '0') AS hfile,
        |             min_key AS first_key, max_key AS last_key
        |      FROM (SELECT CAST(floor((o_orderkey - lo) * 12 / (hi - lo + 1)) AS BIGINT)
        |                     AS bucket,
        |                   min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |            FROM orders, b GROUP BY 1)),
        |j AS (SELECT f.hfile, r.region,
        |             greatest(f.first_key, r.start_key) AS frag_first,
        |             CASE WHEN r.end_key IS NULL THEN f.last_key
        |                  ELSE least(f.last_key, r.end_key - 1) END AS frag_last
        |      FROM f JOIN reg r ON f.last_key >= r.start_key
        |                        AND (r.end_key IS NULL OR f.first_key < r.end_key)),
        |c AS (SELECT hfile, count(*) AS n_fragments FROM j GROUP BY 1)
        |SELECT j.hfile, j.region, j.frag_first, j.frag_last,
        |       c.n_fragments, c.n_fragments > 1 AS needs_split
        |FROM j JOIN c USING (hfile) ORDER BY hfile, region""".stripMargin)),
    // Canary availability probe: first cell per (region, family) over
    // the two-family event cells, 8 regions — plus a planted `meta`
    // family that exists nowhere, whose 8 probe-failure rows must
    // surface (ok = false), as in the tool's publishReadFailure
    Query("canary_probe", (s, d) =>
      Tools.canaryProbe(Tables.eventCellsTwoFamilies(s, d), 8,
          Seq("web", "act", "meta"))
        .orderBy("region", "family"),
      Oracle("WITH " + Tables.eventCellsTwoFamiliesSql + """,
        |b AS (SELECT min(rowkey) AS lo, max(rowkey) AS hi FROM vcells2),
        |t AS (SELECT v.*, CAST(floor((rowkey - lo) * 8 / (hi - lo + 1)) AS BIGINT)
        |             AS region
        |      FROM vcells2 v, b),
        |p AS (SELECT region, family, min(rowkey) AS probe_key FROM t GROUP BY 1, 2),
        |q AS (SELECT t.region, t.family, p.probe_key,
        |             min(t.qualifier) AS first_qualifier
        |      FROM t JOIN p ON t.region = p.region AND t.family = p.family
        |                   AND t.rowkey = p.probe_key
        |      GROUP BY 1, 2, 3),
        |f AS (SELECT r.i AS region, fam.family
        |      FROM range(0, 8) r(i), (VALUES ('web'), ('act'), ('meta')) fam(family))
        |SELECT f.region, f.family, q.probe_key, q.first_qualifier,
        |       q.probe_key IS NOT NULL AS ok
        |FROM f LEFT JOIN q ON f.region = q.region AND f.family = q.family
        |ORDER BY f.region, f.family""".stripMargin)),
    // Canary write sniffing (the WRITE half of the tool): a put+delete
    // round trip per region of the 8-region split, regions 3 and 6
    // planted read-only — their probes must surface as put_ok = false
    // (publishWriteFailure), every writable region must read its probe
    // back out of its own region and the post-delete set must hold
    // zero canary cells
    Query("canary_write", (s, d) =>
      Tools.canaryWriteProbe(Tables.eventCellsTwoFamilies(s, d), 8,
          readOnly = Seq(3L, 6L))
        .orderBy("region"),
      Oracle("WITH " + Tables.eventCellsTwoFamiliesSql + """,
        |b AS (SELECT min(rowkey) AS lo, max(rowkey) AS hi FROM vcells2),
        |pr AS (SELECT r.i AS region,
        |              lo + ((r.i * (hi - lo + 1) + 7) // 8) AS probe_key,
        |              r.i NOT IN (3, 6) AS writable
        |       FROM range(0, 8) r(i), b),
        |rb AS (SELECT probe_key,
        |              CAST(floor((probe_key - lo) * 8 / (hi - lo + 1)) AS BIGINT)
        |                AS rb_region
        |       FROM pr, b WHERE writable),
        |ld AS (SELECT CAST(floor((rowkey - lo) * 8 / (hi - lo + 1)) AS BIGINT)
        |                AS region,
        |              count(*) AS n_cells
        |       FROM vcells2, b GROUP BY 1),
        |lv AS (SELECT count(*) AS leftover FROM vcells2 WHERE family = '_canary_')
        |SELECT pr.region, pr.probe_key, pr.writable,
        |       rb.probe_key IS NOT NULL AS put_ok,
        |       (rb.probe_key IS NOT NULL AND leftover = 0) AS roundtrip_ok,
        |       coalesce(ld.n_cells, 0) AS n_cells
        |FROM pr LEFT JOIN rb ON pr.region = rb.rb_region
        |                    AND pr.probe_key = rb.probe_key
        |        LEFT JOIN ld ON pr.region = ld.region, lv
        |ORDER BY pr.region""".stripMargin)),
    // Merge execution: the normalizer's merge plans applied over the
    // skew-grown 16-bucket region table — pairs collapse into the
    // lower id, merged stats re-aggregated, untouched regions ride
    // through with n_merged = 1
    Query("region_merge", (s, d) => {
      val grown = Tables.load(s, d, "orders")
        .withColumn("region_key", col("o_orderkey") * col("o_orderkey"))
      // materialized: the bucket stats feed the plan AND the merge
      // application — lazy, each fork re-scans orders (scan audit)
      val buckets = Tools.materializeMeta(
        Tools.totalOrderBuckets(grown, "region_key", 16))
      Tools.applyMerges(buckets, Tools.normalizerPlan(buckets))
        .orderBy("new_region")
    },
      Oracle("""WITH g AS (SELECT o_orderkey * o_orderkey AS k FROM orders),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM g),
        |st AS (SELECT CAST(floor((k - lo) * 16 / (hi - lo + 1)) AS BIGINT) AS bucket,
        |              count(*) AS n_rows, min(k) AS min_key, max(k) AS max_key
        |       FROM g, b GROUP BY 1),
        |a AS (SELECT avg(n_rows) AS av FROM st),
        |r AS (SELECT st.*, row_number() OVER (ORDER BY bucket) AS rn FROM st),
        |pr AS (SELECT CAST(floor((rn - 1) / 2) AS BIGINT) AS pair, min(bucket) AS bucket,
        |              max(bucket) AS other_bucket, sum(n_rows) AS n_rows, count(*) AS c
        |       FROM r GROUP BY 1),
        |mg AS (SELECT bucket, other_bucket FROM pr, a WHERE c = 2 AND n_rows < av),
        |mp AS (SELECT st.*, coalesce(m.bucket, st.bucket) AS new_region
        |       FROM st LEFT JOIN mg m ON st.bucket = m.other_bucket)
        |SELECT new_region, CAST(sum(n_rows) AS BIGINT) AS n_rows,
        |       min(min_key) AS min_key, max(max_key) AS max_key,
        |       count(*) AS n_merged
        |FROM mp GROUP BY 1 ORDER BY new_region""".stripMargin)),
    // Split execution, the dual of region_merge: the normalizer's
    // split plans applied — flagged buckets divide at their data
    // median into daughters 2b / 2b+1, others carry through as 2b
    Query("region_split_exec", (s, d) =>
      regionSplitExecFrame(s, d, approx = false),
      Oracle("""WITH g AS (SELECT o_orderkey * o_orderkey AS k FROM orders),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM g),
        |t AS (SELECT k, CAST(floor((k - lo) * 16 / (hi - lo + 1)) AS BIGINT) AS bucket
        |      FROM g, b),
        |st AS (SELECT bucket, count(*) AS n_rows FROM t GROUP BY 1),
        |a AS (SELECT avg(n_rows) AS av FROM st),
        |sp AS (SELECT bucket FROM st, a WHERE n_rows > 2 * av),
        |m AS (SELECT bucket, quantile_cont(k, 0.5) AS mid
        |      FROM t JOIN sp USING (bucket) GROUP BY bucket)
        |SELECT t.bucket * 2 + CASE WHEN m.mid IS NOT NULL AND t.k > m.mid
        |                           THEN 1 ELSE 0 END AS daughter,
        |       count(*) AS n_rows, min(t.k) AS min_key, max(t.k) AS max_key
        |FROM t LEFT JOIN m USING (bucket)
        |GROUP BY 1 ORDER BY daughter""".stripMargin),
      // daughter boundaries from the approx_percentile sketch on the bench path
      bench = Some((s, d) => regionSplitExecFrame(s, d, approx = true))),
    // Client META location lookup over a catalog carrying both an
    // offline split parent (daughters online) and a hole (region 5
    // lost): every orders key resolves through the online chain except
    // the hole's, which report as the NULL-region unlocatable row
    Query("region_locate", (s, d) => {
      val orders = Tables.load(s, d, "orders")
      val b = orders.agg(min("o_orderkey").as("_lo"), max("o_orderkey").as("_hi"))
      def bd(i: org.apache.spark.sql.Column) =
        floor(col("_lo") + (col("_hi") - col("_lo") + 1) * i / 8).cast("bigint")
      val mid34 = floor((bd(lit(3)) + bd(lit(4))) / 2).cast("bigint")
      val uniform = b.select(explode(sequence(lit(0), lit(7))).as("i"),
          col("_lo"), col("_hi"))
        .where(col("i") =!= 5)
        .select(concat(lit("r"), col("i").cast("string")).as("region_id"),
          when(col("i") === 0, lit(null).cast("bigint"))
            .otherwise(bd(col("i"))).as("start_key"),
          when(col("i") === 7, lit(null).cast("bigint"))
            .otherwise(bd(col("i") + 1)).as("end_key"),
          // region 3 is a split parent: offline in META, daughters below
          (col("i") === 3).as("offline"))
      val daughters = b.select(explode(array(
          struct(lit("r3a").as("region_id"), bd(lit(3)).as("start_key"),
            mid34.as("end_key"), lit(false).as("offline")),
          struct(lit("r3b").as("region_id"), mid34.as("start_key"),
            bd(lit(4)).as("end_key"), lit(false).as("offline")))).as("x"))
        .select(col("x.*"))
      // the META catalog is 9 rows deriving from the bounds aggregate
      // — materialized so the lookup side is the only orders scan
      Tools.regionLocate(orders.select(col("o_orderkey")), "o_orderkey",
          Tools.materializeMeta(uniform.unionByName(daughters)))
        .orderBy("region_id")
    },
      Oracle("""WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM orders),
        |bd AS (SELECT i, CAST(floor(lo + (hi - lo + 1) * i / 8.0) AS BIGINT) AS k
        |       FROM range(0, 9) t(i), b),
        |m34 AS (SELECT CAST(floor(((SELECT k FROM bd WHERE i = 3)
        |                         + (SELECT k FROM bd WHERE i = 4)) / 2) AS BIGINT) AS m),
        |reg AS (
        |  SELECT 'r' || CAST(t.i AS VARCHAR) AS region_id,
        |         CASE WHEN t.i = 0 THEN NULL ELSE s.k END AS start_key,
        |         CASE WHEN t.i = 7 THEN NULL ELSE e.k END AS end_key
        |  FROM range(0, 8) t(i)
        |  JOIN bd s ON s.i = t.i JOIN bd e ON e.i = t.i + 1
        |  WHERE t.i <> 5 AND t.i <> 3
        |  UNION ALL
        |  SELECT 'r3a', (SELECT k FROM bd WHERE i = 3), (SELECT m FROM m34)
        |  UNION ALL
        |  SELECT 'r3b', (SELECT m FROM m34), (SELECT k FROM bd WHERE i = 4)),
        |loc AS (
        |  SELECT r.region_id, r.start_key, r.end_key,
        |         count(o.o_orderkey) AS n_keys,
        |         min(o.o_orderkey) AS first_key, max(o.o_orderkey) AS last_key
        |  FROM reg r LEFT JOIN orders o
        |    ON (r.start_key IS NULL OR o.o_orderkey >= r.start_key)
        |   AND (r.end_key IS NULL OR o.o_orderkey < r.end_key)
        |  GROUP BY 1, 2, 3),
        |unl AS (
        |  SELECT CAST(NULL AS VARCHAR) AS region_id,
        |         CAST(NULL AS BIGINT) AS start_key,
        |         CAST(NULL AS BIGINT) AS end_key,
        |         count(*) AS n_keys,
        |         min(o.o_orderkey) AS first_key, max(o.o_orderkey) AS last_key
        |  FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM reg r
        |        WHERE (r.start_key IS NULL OR o.o_orderkey >= r.start_key)
        |          AND (r.end_key IS NULL OR o.o_orderkey < r.end_key))
        |  HAVING count(*) > 0)
        |SELECT * FROM loc UNION ALL SELECT * FROM unl ORDER BY region_id""".stripMargin)),
    // RegionSplitPolicy verdicts: ConstantSize vs the 1.x-default
    // IncreasingToUpperBound, with the KeyPrefix-snapped split point;
    // thresholds derived from the corpus total so the semantics hold
    // at every scale factor
    Query("split_policy", (s, d) =>
      splitPolicyFrame(s, d, 8, approx = false).orderBy("region"),
      Oracle("""WITH g AS (SELECT o_orderkey * o_orderkey AS k,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS sz FROM orders),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM g),
        |t AS (SELECT k, sz, CAST(floor((k - lo) * 8 / (hi - lo + 1)) AS BIGINT) AS bucket
        |      FROM g, b),
        |st AS (SELECT bucket, CAST(sum(sz) AS BIGINT) AS store_size,
        |              CAST(floor(quantile_cont(k, 0.5)) AS BIGINT) AS mid
        |       FROM t GROUP BY 1),
        |p AS (SELECT CAST(floor(sum(sz) / 7) AS BIGINT) AS max_file_size,
        |             CAST(floor(sum(sz) / 10000) AS BIGINT) AS flush_size FROM g),
        |r AS (SELECT count(*) AS nr FROM st),
        |lb AS (SELECT bucket, store_size, mid, max_file_size,
        |              CASE WHEN nr = 0 OR nr > 100 THEN max_file_size
        |                   ELSE least(max_file_size, 2 * flush_size * nr * nr * nr)
        |              END AS limit_bytes,
        |              CASE WHEN nr = 1 THEN 2 * flush_size ELSE max_file_size END
        |                AS limit_stepping
        |       FROM st, p, r)
        |SELECT bucket AS region, store_size,
        |       store_size > max_file_size AS split_constant,
        |       limit_bytes,
        |       store_size > limit_bytes AS split_increasing,
        |       limit_stepping,
        |       store_size > limit_stepping AS split_stepping,
        |       CASE WHEN store_size > limit_bytes THEN mid END AS split_point,
        |       CASE WHEN store_size > limit_bytes THEN mid - mid % 1000 END
        |         AS split_point_prefix
        |FROM lb ORDER BY region""".stripMargin),
      bench = Some((s, d) => splitPolicyFrame(s, d, 8, approx = true).orderBy("region"))),
    // SteppingSplitPolicy (SteppingSplitPolicy.java:20) on its own
    // verdict frame: the SAME corpus viewed young (R = 1, the whole
    // table one region — stepping checks initialSize = 2·flush, the
    // fast-split step) and mature (R = 8 — stepping has settled to
    // maxFileSize while increasing still escalates 2·flush·R³ BELOW
    // it, so the mid-size regions split under increasing but ride
    // under stepping: the spread-fast-then-settle divergence)
    Query("split_policy_stepping", (s, d) =>
      splitPolicySteppingScenarios(s, d, approx = false),
      Oracle("""WITH g AS (SELECT o_orderkey * o_orderkey AS k,
        |                  CAST(floor(o_totalprice * 100) AS BIGINT) AS sz FROM orders),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM g),
        |p AS (SELECT CAST(floor(sum(sz) / 7) AS BIGINT) AS max_file_size,
        |             CAST(floor(sum(sz) / 10000) AS BIGINT) AS flush_size FROM g),
        |sc AS (SELECT 'young' AS scenario, 1 AS nb UNION ALL SELECT 'mature', 8),
        |t AS (SELECT scenario, CAST(floor((k - lo) * nb / (hi - lo + 1)) AS BIGINT) AS bucket,
        |             sz
        |      FROM g, b, sc),
        |st AS (SELECT scenario, bucket, CAST(sum(sz) AS BIGINT) AS store_size
        |       FROM t GROUP BY 1, 2),
        |r AS (SELECT scenario, count(*) AS nr FROM st GROUP BY 1),
        |lb AS (SELECT st.scenario AS scenario, bucket, store_size,
        |              CASE WHEN nr = 0 OR nr > 100 THEN max_file_size
        |                   ELSE least(max_file_size, 2 * flush_size * nr * nr * nr)
        |              END AS limit_bytes,
        |              CASE WHEN nr = 1 THEN 2 * flush_size ELSE max_file_size END
        |                AS limit_stepping
        |       FROM st, r, p WHERE st.scenario = r.scenario)
        |SELECT scenario, bucket AS region, store_size,
        |       limit_bytes, store_size > limit_bytes AS split_increasing,
        |       limit_stepping, store_size > limit_stepping AS split_stepping
        |FROM lb ORDER BY scenario, region""".stripMargin),
      // the midkey isn't selected but the stats pass still computes it
      bench = Some((s, d) => splitPolicySteppingScenarios(s, d, approx = true))),
    // HBaseFsck region-chain audit over a deliberately corrupted META
    // catalog: 16 uniform regions over the orders keyspace, with region
    // 5 lost (hole), region 9 degenerate (start == end, which also
    // un-covers its range), a second region sharing region 12's start
    // (dupe + overlap), a stray region straddling the 14/15 boundary
    // (overlaps), and a non-open first start (the reference's
    // first-region-startkey-not-empty); the last region ends open
    Query("hbck_region_chain", (s, d) =>
      Tools.hbckRegionChain(corruptedCatalog(s, d))
        .orderBy("code", "at_key", "end_key"),
      Oracle(ddHbckCatalogCtes + """
        |r AS (SELECT region_id,
        |             coalesce(start_key, -4611686018427387904) AS s,
        |             coalesce(end_key, 4611686018427387904) AS e FROM reg),
        |st AS (SELECT s AS k, count(*) AS n_starts FROM r GROUP BY 1),
        |en AS (SELECT e AS k, count(*) AS n_ends FROM r GROUP BY 1),
        |sw AS (SELECT k, coalesce(n_starts, 0) AS n_starts,
        |              coalesce(n_ends, 0) AS n_ends
        |       FROM st FULL OUTER JOIN en USING (k)),
        |cv AS (SELECT k, n_starts,
        |              sum(n_starts - n_ends) OVER (ORDER BY k) AS cov,
        |              lead(k) OVER (ORDER BY k) AS next_k
        |       FROM sw),
        |o(code, at_key, end_key, n) AS (
        |  SELECT 'HOLE_IN_REGION_CHAIN', k, next_k, 1
        |  FROM cv WHERE cov = 0 AND next_k IS NOT NULL
        |  UNION ALL
        |  SELECT 'OVERLAP_IN_REGION_CHAIN', k, next_k, cov
        |  FROM cv WHERE cov > 1
        |  UNION ALL
        |  SELECT 'DUPE_STARTKEYS', k, NULL, n_starts
        |  FROM cv WHERE n_starts > 1
        |  UNION ALL
        |  SELECT 'DEGENERATE_REGION', s, e, 1 FROM r WHERE s = e
        |  UNION ALL
        |  SELECT 'FIRST_REGION_STARTKEY_NOT_EMPTY', min(s), NULL, 1 FROM r
        |  HAVING min(s) <> -4611686018427387904
        |  UNION ALL
        |  SELECT 'LAST_REGION_ENDKEY_NOT_EMPTY', max(e), NULL, 1 FROM r
        |  HAVING max(e) <> 4611686018427387904)
        |SELECT code,
        |       CASE WHEN at_key IN (-4611686018427387904, 4611686018427387904)
        |            THEN NULL ELSE at_key END AS at_key,
        |       CASE WHEN end_key IN (-4611686018427387904, 4611686018427387904)
        |            THEN NULL ELSE end_key END AS end_key,
        |       CAST(n AS BIGINT) AS n
        |FROM o ORDER BY code, at_key, end_key""".stripMargin)),
    // The FIX side of the same audit (HBaseFsckRepair): over the SAME
    // corrupted catalog, the plan -fixHdfsHoles/-fixHdfsOverlaps would
    // execute — three fabricated hole-filling regions (the two true
    // holes plus the not-empty-first-start edge), the {r12, r12b} and
    // the transitive {r14, r14x, r15} overlap groups each merged to
    // their union bounds, and the degenerate r9 sidelined. Replaying
    // the plan onto the catalog audits clean (MasterOpsSpec).
    Query("hbck_repair_plan", (s, d) =>
      Tools.hbckRepairPlan(corruptedCatalog(s, d))
        .orderBy("action", "region_id", "start_key"),
      Oracle(ddHbckCatalogCtes + """
        |r AS (SELECT region_id,
        |             coalesce(start_key, -4611686018427387904) AS s,
        |             coalesce(end_key, 4611686018427387904) AS e FROM reg),
        |st AS (SELECT s AS k, count(*) AS n_starts FROM r GROUP BY 1),
        |en AS (SELECT e AS k, count(*) AS n_ends FROM r GROUP BY 1),
        |sw AS (SELECT k, coalesce(n_starts, 0) AS n_starts,
        |              coalesce(n_ends, 0) AS n_ends
        |       FROM st FULL OUTER JOIN en USING (k)),
        |cv AS (SELECT k, sum(n_starts - n_ends) OVER (ORDER BY k) AS cov,
        |              lead(k) OVER (ORDER BY k) AS next_k
        |       FROM sw),
        |hl AS (
        |  SELECT k AS hs, next_k AS he FROM cv
        |  WHERE cov = 0 AND next_k IS NOT NULL
        |  UNION ALL
        |  SELECT -4611686018427387904, min(s) FROM r
        |  HAVING min(s) IS NOT NULL AND min(s) <> -4611686018427387904
        |  UNION ALL
        |  SELECT max(e), 4611686018427387904 FROM r
        |  HAVING max(e) IS NOT NULL AND max(e) <> 4611686018427387904
        |  UNION ALL
        |  SELECT -4611686018427387904, 4611686018427387904 FROM r
        |  HAVING min(s) IS NULL),
        |ov AS (SELECT k, next_k FROM cv WHERE cov > 1),
        |mem AS (SELECT ov.k, ov.next_k, r.region_id, r.s, r.e
        |        FROM r JOIN ov ON r.s <= ov.k AND r.e >= ov.next_k AND r.s < r.e),
        |ih AS (SELECT k, next_k, min(s) AS hs, max(e) AS he FROM mem GROUP BY 1, 2),
        |il AS (SELECT k, next_k, hs,
        |              max(he) OVER (ORDER BY hs, k
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS run
        |       FROM ih),
        |i2 AS (SELECT k, next_k,
        |              sum(CASE WHEN run IS NULL OR run <= hs THEN 1 ELSE 0 END)
        |                OVER (ORDER BY hs, k
        |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |                AS island
        |       FROM il),
        |gm AS (SELECT DISTINCT island, region_id, s, e
        |       FROM mem JOIN i2 USING (k, next_k)),
        |gr AS (SELECT island, count(*) AS n_members,
        |              min(s) AS g_s, max(e) AS g_e
        |       FROM gm GROUP BY 1),
        |mg AS (SELECT gm.island, gm.region_id, gm.s, gm.e,
        |              gr.n_members, gr.g_s, gr.g_e
        |       FROM gm JOIN gr USING (island)),
        |pl(action, region_id, start_key, end_key) AS (
        |  SELECT 'CREATE_HOLE_REGION',
        |         'fab_' || coalesce(CAST(CASE WHEN hs = -4611686018427387904
        |                                 THEN NULL ELSE hs END AS VARCHAR), 'open'),
        |         hs, he FROM hl
        |  UNION ALL
        |  SELECT 'MERGE_OVERLAP', region_id, g_s, g_e FROM mg WHERE n_members <= 5
        |  UNION ALL
        |  SELECT CASE WHEN rem >= z OR (rem > 0 AND rk0 >= (z - rem) // 2
        |                AND rk0 < (z - rem) // 2 + rem)
        |              THEN 'SIDELINE_OVERLAP' ELSE 'RESIDUAL_OVERLAP' END,
        |         region_id, s, e
        |  FROM (SELECT c.*,
        |          least(n_members - 5, 2) AS kk,
        |          count(*) OVER (PARTITION BY island, cnt) AS z,
        |          least(n_members - 5, 2)
        |            - coalesce(sum(1) OVER (PARTITION BY island
        |                ORDER BY cnt DESC
        |                RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |            AS rem,
        |          row_number() OVER (PARTITION BY island, cnt
        |            ORDER BY s, e, region_id) - 1 AS rk0
        |        FROM (SELECT a.island, a.region_id, a.s, a.e, a.n_members,
        |                count(*) AS cnt
        |              FROM mg a JOIN mg b ON a.island = b.island
        |                AND a.s < b.e AND a.e > b.s
        |              WHERE a.n_members > 5
        |              GROUP BY 1, 2, 3, 4, 5
        |              HAVING count(*) > 1) c) t
        |  UNION ALL
        |  SELECT 'SIDELINE_DEGENERATE', region_id, s, e FROM r WHERE s = e)
        |SELECT action, region_id,
        |       CASE WHEN start_key IN (-4611686018427387904, 4611686018427387904)
        |            THEN NULL ELSE start_key END AS start_key,
        |       CASE WHEN end_key IN (-4611686018427387904, 4611686018427387904)
        |            THEN NULL ELSE end_key END AS end_key
        |FROM pl ORDER BY action, region_id, start_key""".stripMargin)),
    // semi-structured source path: events.props is a JSON string column
    // (HBase users stuff JSON into cell values constantly); extraction
    // stays codegen'd, no UDF
    Query("json_props", (s, d) =>
      Tables.load(s, d, "events")
        .select(get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .groupBy("k").agg(count(lit(1)).as("n"))
        .orderBy("k"),
      Oracle("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY k""".stripMargin)),
    // daily resample with forward fill: one row per (user, day) even
    // on event-free days, last state ffill'd through the as-of join
    Query("resample_ffill", (s, d) =>
      Tools.resampleFfill(Tables.load(s, d, "events"), "user_id", "ts",
          "event_id", "value")
        .orderBy("user_id", "day"),
      Oracle("""WITH b AS (SELECT date_trunc('day', min(ts)) AS lo,
        |                  date_trunc('day', max(ts)) AS hi FROM events),
        |u AS (SELECT DISTINCT user_id FROM events),
        |g AS (SELECT u.user_id,
        |        unnest(generate_series(b.lo, b.hi, INTERVAL '1 day')) AS day
        |      FROM u CROSS JOIN b),
        |d AS (SELECT user_id, date_trunc('day', ts) AS day,
        |        CAST(count(*) AS BIGINT) AS n_events
        |      FROM events GROUP BY 1, 2)
        |SELECT g.user_id, g.day,
        |       coalesce(d.n_events, 0) AS n_events,
        |       l.event_id AS last_event_id, round(l.value, 4) AS last_value
        |FROM g LEFT JOIN d ON d.user_id = g.user_id AND d.day = g.day
        |LEFT JOIN LATERAL (
        |  SELECT event_id, value FROM events e
        |  WHERE e.user_id = g.user_id AND e.ts < g.day + INTERVAL '1 day'
        |  ORDER BY ts DESC, event_id DESC LIMIT 1) l ON true
        |ORDER BY g.user_id, g.day""".stripMargin)),
    // PIVOT: status x priority count matrix. Spark's pivot with an
    // EXPLICIT value list — omitting it costs a distinct-scan job to
    // discover columns AND makes the schema data-dependent (a new
    // priority would silently add a column downstream code never
    // mapped); the fixed list is the production form
    Query("agg_pivot", (s, d) =>
      Tables.load(s, d, "orders")
        .groupBy("o_orderstatus")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .withColumnsRenamed(Map("1-URGENT" -> "urgent", "2-HIGH" -> "high",
          "3-MEDIUM" -> "medium", "4-NOT SPECIFIED" -> "unspecified",
          "5-LOW" -> "low"))
        .orderBy("o_orderstatus"),
      Oracle("""SELECT o_orderstatus,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
        |  CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
        |  CAST(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS medium,
        |  CAST(sum(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS unspecified,
        |  CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS low
        |FROM orders GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),
    // Ordered funnel (view -> click -> purchase): greedy earliest-
    // completion chain per user, no windows — each step is one hash
    // join + conditional min; NULL propagation tracks drop-off
    Query("funnel_steps", (s, d) =>
      Tools.funnel(Tables.load(s, d, "events"), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .orderBy("user_id"),
      Oracle("""WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.user_id, s1.t1,
        |         min(CASE WHEN e.ts > s1.t1 THEN e.ts END) AS t2
        |       FROM s1 LEFT JOIN events e
        |         ON e.user_id = s1.user_id AND e.event_type = 'click'
        |       GROUP BY 1, 2),
        |s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
        |         min(CASE WHEN e.ts > s2.t2 THEN e.ts END) AS t3
        |       FROM s2 LEFT JOIN events e
        |         ON e.user_id = s2.user_id AND e.event_type = 'purchase'
        |       GROUP BY 1, 2, 3)
        |SELECT user_id, t1, t2, t3,
        |       CAST(1 + (t2 IS NOT NULL)::INT + (t3 IS NOT NULL)::INT AS BIGINT)
        |         AS depth
        |FROM s3 ORDER BY user_id""".stripMargin)),
    // Explicit salted join over the one-hot-tenant keyspace: facts
    // salted 8 ways by row id, dim replicated x8 — the skew fix for
    // the paths AQE can't re-balance (streaming state, bucketed
    // layouts). Result identical to the unsalted join, which is
    // exactly what the oracle runs
    Query("join_salted", (s, d) => {
      val facts = Tables.load(s, d, "events")
        .withColumn("tenant",
          when(col("user_id") % 5 < 2, lit(0L)).otherwise(col("user_id")))
      val dims = facts.select("tenant").distinct()
        .withColumn("tier",
          when(col("tenant") === 0, lit("hot")).otherwise(lit("standard")))
      graft.core.Salt.saltedJoin(facts, dims, "tenant", 8, col("event_id"))
        .groupBy("tier")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("tenant").as("n_tenants"),
          min("event_id").as("first_event"),
          max("event_id").as("last_event"))
        .orderBy("tier")
    },
      Oracle("""WITH f AS (SELECT *, CASE WHEN user_id % 5 < 2 THEN 0
        |                          ELSE user_id END AS tenant FROM events),
        |d AS (SELECT DISTINCT tenant,
        |        CASE WHEN tenant = 0 THEN 'hot' ELSE 'standard' END AS tier
        |      FROM f)
        |SELECT tier, CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT f.tenant) AS BIGINT) AS n_tenants,
        |       min(event_id) AS first_event, max(event_id) AS last_event
        |FROM f JOIN d USING (tenant) GROUP BY 1 ORDER BY tier""".stripMargin)),
    // Per-customer running order total — the windowed-cumsum shape,
    // partitioned by the natural key (never a global window), integer
    // cents so the running sums are exact
    Query("agg_running_total", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, d, "orders")
        .withColumn("price_cents", floor(col("o_totalprice") * 100).cast("bigint"))
        .withColumn("running_cents", sum("price_cents").over(w))
        .select("o_custkey", "o_orderkey", "price_cents", "running_cents")
        .orderBy("o_custkey", "o_orderkey")
    },
      Oracle("""SELECT o_custkey, o_orderkey,
        |       CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
        |       CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         AS running_cents
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),
    // Schema-audit profile of orders (CellCounter widened to
    // relational stats): nulls exercised via a derived nullable
    // column, the double price profiled as exact integer cents —
    // doubles' string rendering is the one non-portable piece, so the
    // operator contract keeps them out
    Query("column_profile", (s, d) =>
      columnProfileFrame(s, d, approxNdv = false),
      Oracle {
        val cols = Seq("o_orderkey", "o_orderstatus", "o_orderpriority",
          "o_orderdate", "price_cents", "status_nz")
        val arms = cols.map(c =>
          s"""SELECT '$c' AS col_name, n_rows,
             |       n_rows - count($c) AS null_count,
             |       CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |       CAST(min($c) AS VARCHAR) AS min_val,
             |       CAST(max($c) AS VARCHAR) AS max_val,
             |       CAST(coalesce(sum(length(CAST($c AS VARCHAR))), 0) AS BIGINT)
             |         AS total_len
             |FROM t, n GROUP BY n_rows""".stripMargin).mkString("\nUNION ALL\n")
        s"""WITH t AS (SELECT *,
           |  CAST(floor(o_totalprice * 100) AS BIGINT) AS price_cents,
           |  nullif(o_orderstatus, 'O') AS status_nz FROM orders),
           |n AS (SELECT count(*) AS n_rows FROM t)
           |$arms
           |ORDER BY col_name""".stripMargin
      },
      // HLL++ sketches replace the |cols|x expand of the exact multi-distinct
      bench = Some((s, d) => columnProfileFrame(s, d, approxNdv = true))),
    // Pure interval join (no equi-key): promo windows (every 499th
    // event anchors ±1h) matched to the events inside them via the
    // hour-binned equi-join — the plan that replaces the
    // BroadcastNestedLoopJoin Catalyst would pick for a bare BETWEEN.
    // Aggregates are integer-exact (counts and event_id extremes)
    Query("range_join_binned", (s, d) => {
      val ev = Tables.load(s, d, "events")
      val windows = ev.where(col("event_id") % 499 === 0)
        .select(col("event_id").as("window_id"),
          (col("ts") - expr("INTERVAL 1 HOUR")).as("lo"),
          (col("ts") + expr("INTERVAL 1 HOUR")).as("hi"))
      graft.core.RangeJoin
        .rangeJoinBinned(ev.select("event_id", "user_id", "ts"), "ts",
          windows, "lo", "hi", binSeconds = 3600)
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct("user_id").as("n_users"),
          min("event_id").as("first_event"),
          max("event_id").as("last_event"))
        .orderBy("window_id")
    },
      Oracle("""WITH w AS (SELECT event_id AS window_id,
        |                  ts - INTERVAL 1 HOUR AS lo,
        |                  ts + INTERVAL 1 HOUR AS hi
        |           FROM events WHERE event_id % 499 = 0)
        |SELECT w.window_id,
        |       CAST(count(*) AS BIGINT) AS n_events,
        |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users,
        |       min(e.event_id) AS first_event,
        |       max(e.event_id) AS last_event
        |FROM w JOIN events e ON e.ts >= w.lo AND e.ts <= w.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Hot-key diagnosis over a one-hot-tenant keyspace (tenant 0
    // absorbs the user_id%5<2 traffic, ~40% of rows): the report names
    // the hot key, its ppm share, and the salt factor that levels it
    Query("skew_diagnose", (s, d) =>
      Tools.skewDiagnose(
        Tables.load(s, d, "events")
          .withColumn("tenant",
            when(col("user_id") % 5 < 2, lit(0L)).otherwise(col("user_id"))),
        "tenant", topN = 10),
      Oracle("""WITH t AS (SELECT CASE WHEN user_id % 5 < 2 THEN 0
        |                       ELSE user_id END AS key FROM events),
        |c AS (SELECT key, count(*) AS n_rows FROM t GROUP BY 1),
        |g AS (SELECT sum(n_rows) AS total, count(*) AS nkeys FROM c)
        |SELECT key, n_rows,
        |       CAST(n_rows * 1000000 // total AS BIGINT) AS share_ppm,
        |       CAST((n_rows * nkeys + total - 1) // total AS BIGINT) AS salt_buckets
        |FROM c, g ORDER BY n_rows DESC, key LIMIT 10""".stripMargin)),
    // ClusterStatus per-region request counters over the skew-grown
    // keyspace (squared user ids): reads vs writes in one conditional
    // aggregate, idle regions as zero rows, hotspot flag on 2x mean
    Query("request_metrics", (s, d) =>
      Tools.requestMetrics(
          Tables.load(s, d, "events")
            .withColumn("k", col("user_id") * col("user_id")),
          "k", col("event_type").isin("signup", "purchase"), 16)
        .orderBy("region"),
      Oracle("""WITH l AS (SELECT user_id * user_id AS k,
        |                  event_type IN ('signup', 'purchase') AS w FROM events),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM l),
        |t AS (SELECT w, CAST(floor((k - lo) * 16 / (hi - lo + 1)) AS BIGINT) AS region
        |      FROM l, b),
        |c AS (SELECT region,
        |             CAST(sum(CASE WHEN w THEN 0 ELSE 1 END) AS BIGINT) AS rr,
        |             CAST(sum(CASE WHEN w THEN 1 ELSE 0 END) AS BIGINT) AS wr
        |      FROM t GROUP BY 1),
        |f AS (SELECT CAST(r.i AS BIGINT) AS region,
        |             coalesce(c.rr, 0) AS read_requests,
        |             coalesce(c.wr, 0) AS write_requests,
        |             coalesce(c.rr, 0) + coalesce(c.wr, 0) AS total_requests
        |      FROM range(0, 16) r(i) LEFT JOIN c ON c.region = r.i),
        |a AS (SELECT avg(total_requests) AS av FROM f)
        |SELECT region, read_requests, write_requests, total_requests,
        |       total_requests > 2 * av AS hot
        |FROM f, a ORDER BY region""".stripMargin)),
    // Per-peer replication backlog: two lagging peers at fixed
    // watermarks plus one fully caught-up peer (far-future watermark)
    // that must still report, with zero pending and zero lag
    Query("replication_lag", (s, d) => {
      import s.implicits._
      val peers = replicationPeers(s)
      Tools.replicationLag(Tables.load(s, d, "events"), "ts", peers)
        .orderBy("peer_id")
    },
      Oracle("""WITH peers(peer_id, replicated_upto) AS (VALUES
        |  ('p_dr', TIMESTAMP '2024-01-10 00:00:00'),
        |  ('p_analytics', TIMESTAMP '2024-01-20 00:00:00'),
        |  ('p_backup', TIMESTAMP '2030-01-01 00:00:00')),
        |b AS (SELECT max(ts) AS newest FROM events)
        |SELECT p.peer_id, p.replicated_upto,
        |       count(e.ts) AS n_pending,
        |       min(e.ts) AS oldest_pending, max(e.ts) AS newest_pending,
        |       greatest(0, CAST(floor(epoch(b.newest)) AS BIGINT)
        |                 - CAST(floor(epoch(p.replicated_upto)) AS BIGINT)) AS lag_sec
        |FROM peers p CROSS JOIN b
        |LEFT JOIN events e ON e.ts > p.replicated_upto
        |GROUP BY 1, 2, b.newest ORDER BY peer_id""".stripMargin)),
    // PREFIX data-block-encoding savings over the event cell store:
    // flat keys (rowkey/family/qualifier/ts/id, fixed-width padded)
    // delta-encode against the previous cell within 64-cell blocks of
    // 64-user regions — the per-region saved-bytes ppm that decides
    // DataBlockEncoding.PREFIX for a table
    Query("encoding_prefix_savings", (s, d) => {
      val cells = Tables.eventCells(s, d)
      val fk = concat(
        lpad(col("rowkey").cast("string"), 10, "0"), lit("/"),
        col("family"), lit("/"), col("qualifier"), lit("/"),
        lpad(unix_micros(col("ts")).cast("string"), 16, "0"), lit("/"),
        lpad(col("event_id").cast("string"), 10, "0"))
      Tools.prefixEncodingSavings(cells, fk, expr("rowkey div 64"))
        .orderBy("region")
    },
      Oracle("WITH " + Tables.eventCellsSql + """,
        |k AS (SELECT rowkey // 64 AS region,
        |    lpad(CAST(rowkey AS VARCHAR), 10, '0') || '/' || family || '/' ||
        |    qualifier || '/' || lpad(CAST(epoch_us(ts) AS VARCHAR), 16, '0') ||
        |    '/' || lpad(CAST(event_id AS VARCHAR), 10, '0') AS fk
        |  FROM vcells),
        |r AS (SELECT region, fk,
        |    row_number() OVER (PARTITION BY region ORDER BY fk) AS rn,
        |    lag(fk) OVER (PARTITION BY region ORDER BY fk) AS prev FROM k),
        |f AS (SELECT region, fk, rn, prev,
        |    list_transform(range(1, greatest(len(fk), len(coalesce(prev, ''))) + 1),
        |      i -> CASE WHEN substr(fk, i, 1) = substr(coalesce(prev, ''), i, 1)
        |                THEN 1 ELSE 0 END) AS fl FROM r),
        |p AS (SELECT region, fk,
        |    CASE WHEN (rn - 1) % 64 = 0 OR prev IS NULL THEN 0
        |         WHEN list_position(fl, 0) = 0 THEN len(fl)
        |         ELSE list_position(fl, 0) - 1 END AS prefix
        |  FROM f)
        |SELECT region, count(*) AS n_cells,
        |  CAST(sum(len(fk)) AS BIGINT) AS raw_key_bytes,
        |  CAST(sum(prefix) AS BIGINT) AS saved_bytes,
        |  CAST(sum(prefix) AS BIGINT) * 1000000
        |    // CAST(sum(len(fk)) AS BIGINT) AS saved_ppm
        |FROM p GROUP BY 1 ORDER BY region""".stripMargin)),
    // the full DataBlockEncoding decision table: PREFIX vs DIFF vs
    // FAST_DIFF byte-exact per-region costs over the same cell layout
    // (padded rowkey, family `ev`, qualifier, µs ts; 64-cell blocks
    // of 64-user regions) — the three-way comparison that picks a
    // table's block encoding, with DIFF's timestamp-diff narrowing
    // and FAST_DIFF's same-value elision priced per the encoders. The
    // cell value is the VARIABLE-length props string (the numeric
    // `value` column would be a fixed 8-byte payload, degenerating
    // the value-length flags; its string rendering is not portable)
    Query("encoding_diff_savings", (s, d) => {
      val ev = Tables.load(s, d, "events")
      Tools.blockEncodingDecision(ev,
          region = expr("user_id div 64"),
          row = lpad(col("user_id").cast("string"), 10, "0"),
          qualifier = col("event_type"),
          tsMicros = unix_micros(col("ts")),
          value = col("props"),
          tiebreak = col("event_id"),
          famLen = 2)
        .orderBy("region")
    },
      // the three-way block-encoding decision table: every per-cell byte
      // cost replays Tools.blockEncodingDecision exactly (fixed rowlen,
      // famLen=2 → klen = 2+rlen+3+qlen+9; common prefixes via the
      // position fold; DIFF's min(tsFitsIn, diffFitsIn); FAST_DIFF's
      // BE-byte ts suffix + same-value elision)
      Oracle(encBlockCtes +
       """
         |SELECT region, n_cells, raw_bytes, prefix_bytes, diff_bytes, fast_diff_bytes,
         |       (raw_bytes - prefix_bytes) * 1000000 // raw_bytes AS prefix_saved_ppm,
         |       (raw_bytes - diff_bytes) * 1000000 // raw_bytes AS diff_saved_ppm,
         |       (raw_bytes - fast_diff_bytes) * 1000000 // raw_bytes AS fast_diff_saved_ppm,
         |       CASE WHEN prefix_bytes <= least(diff_bytes, fast_diff_bytes) THEN 'PREFIX'
         |            WHEN diff_bytes <= fast_diff_bytes THEN 'DIFF'
         |            ELSE 'FAST_DIFF' END AS best_encoding
         |FROM agg ORDER BY region""".stripMargin)),
    // the fourth DataBlockEncoding arm: PREFIX_TREE trie-encoded bytes
    // per region over the SAME cell layout as encoding_diff_savings,
    // and the four-way best_encoding that answers the full enum
    // (PREFIX < DIFF < FAST_DIFF < PREFIX_TREE in enum-id tie order).
    // Two windowed passes over events (the trie sizer + the delta
    // trio) — a decision-table audit, not a read-path operator
    Query("encoding_prefix_tree_savings", (s, d) => {
      val ev = Tables.load(s, d, "events")
      val region = expr("user_id div 64")
      val row = lpad(col("user_id").cast("string"), 10, "0")
      val trie = Tools.prefixTreeEncodingSize(ev, region = region, row = row,
        qualifier = col("event_type"), tsMicros = unix_micros(col("ts")),
        value = col("props"), tiebreak = col("event_id"),
        famLen = 2, rowWidth = 10)
      val trio = Tools.blockEncodingDecision(ev, region = region, row = row,
        qualifier = col("event_type"), tsMicros = unix_micros(col("ts")),
        value = col("props"), tiebreak = col("event_id"), famLen = 2)
      trio.join(trie.select("region", "prefix_tree_bytes"), Seq("region"))
        .select(col("region"), col("n_cells"), col("raw_bytes"),
          col("prefix_tree_bytes"),
          // the guarded ppm (Tools.ppmExact) like its three-way
          // siblings: a bare 10^6 multiply wraps past ~9.2 TB/region
          // and reports silently corrupt savings (r12 review)
          Tools.ppmExact("raw_bytes - prefix_tree_bytes", "raw_bytes")
            .as("prefix_tree_saved_ppm"),
          when(col("prefix_bytes") <= least(col("diff_bytes"),
              col("fast_diff_bytes"), col("prefix_tree_bytes")), "PREFIX")
            .when(col("diff_bytes") <= least(col("fast_diff_bytes"),
              col("prefix_tree_bytes")), "DIFF")
            .when(col("fast_diff_bytes") <= col("prefix_tree_bytes"), "FAST_DIFF")
            .otherwise("PREFIX_TREE").as("best_encoding"))
        .orderBy("region")
    },
      // the PREFIX_TREE arm replays Tools.prefixTreeEncodingSize: trie
      // stats from sorted distinct keys (branch nodes = distinct
      // adjacent-pair LCP strings, token chars = Σ len − lcp), LongEncoder
      // timestamp pricing, negotiated UFInt offset widths, the 25-byte
      // constant header core + variable uvints/uvlong — then the 4-way
      // decision joined onto the shared PREFIX/DIFF/FAST_DIFF agg
      Oracle(encBlockCtes +
       s""",
         |tb AS (SELECT region, rw, q, t, v, (rn - 1) // 64 AS blk FROM r),
         |tca AS (SELECT region, blk, count(*) AS c, sum(len(q)) AS sqlen,
         |        sum(len(v)) AS tvb, max(len(v)) AS mvl, count(DISTINCT t) AS tn,
         |        min(t) AS tmin, max(t) AS tmax
         |      FROM tb GROUP BY 1, 2),
         |trw AS (SELECT DISTINCT region, blk, rw FROM tb),
         |trl AS (SELECT region, blk, rw,
         |        lag(rw) OVER (PARTITION BY region, blk ORDER BY rw) AS prw FROM trw),
         |trl2 AS (SELECT region, blk, rw, prw,
         |        CASE WHEN prw IS NULL THEN NULL
         |             ELSE ${ddCommonChars("rw", "prw")} END AS lcp FROM trl),
         |trs AS (SELECT region, blk, count(*) AS nur,
         |        CAST(sum(10 - coalesce(lcp, 0)) AS BIGINT) AS p_row
         |      FROM trl2 GROUP BY 1, 2),
         |trn AS (SELECT region, blk, count(DISTINCT nd) AS n_row FROM (
         |        SELECT region, blk, rw AS nd FROM trw
         |        UNION ALL
         |        SELECT region, blk, substr(rw, 1, lcp) FROM trl2 WHERE lcp IS NOT NULL
         |      ) GROUP BY 1, 2),
         |tqd AS (SELECT DISTINCT region, blk, q FROM tb),
         |tql AS (SELECT region, blk, q,
         |        lag(q) OVER (PARTITION BY region, blk ORDER BY q) AS pq FROM tqd),
         |tql2 AS (SELECT region, blk, q, pq,
         |        CASE WHEN pq IS NULL THEN NULL
         |             ELSE ${ddCommonChars("q", "pq")} END AS lcp FROM tql),
         |tqs AS (SELECT region, blk, count(*) AS nuq,
         |        CAST(sum(len(q) - coalesce(lcp, 0)) AS BIGINT) AS p_q
         |      FROM tql2 GROUP BY 1, 2),
         |tqn AS (SELECT region, blk, count(DISTINCT nd) AS n_q FROM (
         |        SELECT region, blk, q AS nd FROM tqd
         |        UNION ALL
         |        SELECT region, blk, substr(q, 1, lcp) FROM tql2 WHERE lcp IS NOT NULL
         |      ) GROUP BY 1, 2),
         |tw AS (SELECT tca.*, trs.nur, trs.p_row, trn.n_row, tqs.nuq, tqs.p_q, tqn.n_q,
         |        ${ddFitsIn("tca.tvb")} AS vow, ${ddFitsIn("tca.mvl")} AS vlw,
         |        CASE WHEN tn = 1 THEN 0 ELSE ${ddFitsIn("(tn - 1)")} END AS tsiw,
         |        CASE WHEN tn = 1 THEN 0
         |             ELSE tn * ${ddFitsIn("(tmax - tmin)")} END AS tsbytes
         |      FROM tca
         |        JOIN trs USING (region, blk) JOIN trn USING (region, blk)
         |        JOIN tqs USING (region, blk) JOIN tqn USING (region, blk)),
         |tw2 AS (SELECT *,
         |        CASE WHEN n_q + p_q + n_q < 255 THEN 1
         |             WHEN n_q + p_q + n_q * 2 < 65535 THEN 2 ELSE 3 END AS qow FROM tw),
         |tw3 AS (SELECT *, n_q + p_q + n_q * qow AS qbytes,
         |        2 + qow + tsiw + vow + vlw AS fbpc FROM tw2),
         |tw4 AS (SELECT *, n_row * 3 + p_row + c * fbpc AS rbase,
         |        n_row - 1 AS rptrs FROM tw3),
         |tw5 AS (SELECT *,
         |        CASE WHEN rbase + rptrs < 255 THEN 1
         |             WHEN rbase + rptrs * 2 < 65535 THEN 2 ELSE 3 END AS rowow FROM tw4),
         |tw6 AS (SELECT *, rbase + rptrs * rowow AS rbytes,
         |        c * 32 + sqlen + tvb AS kvbytes FROM tw5),
         |tw7 AS (SELECT *, 25 + ${ddVint("kvbytes")} + ${ddVint("rbytes")}
         |          + ${ddVint("qbytes")} + ${ddVint("tsbytes")} + ${ddVint("tvb")}
         |          + ${ddUvlong("tmin")} + ${ddVint("nur")} + ${ddVint("nuq")} AS hdr
         |      FROM tw6),
         |trie AS (SELECT region,
         |        CAST(sum(hdr + rbytes + 5 + qbytes + 2 + tsbytes + tvb) AS BIGINT)
         |          AS prefix_tree_bytes
         |      FROM tw7 GROUP BY 1)
         |SELECT a.region, a.n_cells, a.raw_bytes, t.prefix_tree_bytes,
         |       (a.raw_bytes - t.prefix_tree_bytes) * 1000000 // a.raw_bytes
         |         AS prefix_tree_saved_ppm,
         |       CASE WHEN a.prefix_bytes <= least(a.diff_bytes, a.fast_diff_bytes,
         |                                         t.prefix_tree_bytes) THEN 'PREFIX'
         |            WHEN a.diff_bytes <= least(a.fast_diff_bytes,
         |                                       t.prefix_tree_bytes) THEN 'DIFF'
         |            WHEN a.fast_diff_bytes <= t.prefix_tree_bytes THEN 'FAST_DIFF'
         |            ELSE 'PREFIX_TREE' END AS best_encoding
         |FROM agg a JOIN trie t USING (region) ORDER BY region""".stripMargin)),
    // Master LogCleaner chore over oldWALs: day-grain WAL segments
    // audited by the delegate chain — TTL (life > 10 days against the
    // corpus max ts) AND replication (every peer's watermark past the
    // segment's newest edit; p_dr's Jan-10 watermark is the binding
    // min). A segment dies only when BOTH delegates agree.
    Query("log_cleaner", (s, d) => {
      import s.implicits._
      val peers = replicationPeers(s)
      Tools.logCleaner(Tables.load(s, d, "events"), "ts", peers, "10 DAYS")
        .orderBy("segment_day")
    },
      Oracle("""WITH segs AS (SELECT date_trunc('day', ts) AS segment_day,
        |    count(*) AS n_edits, min(ts) AS oldest_ts, max(ts) AS newest_ts
        |  FROM events GROUP BY 1),
        |c AS (SELECT max(ts) - INTERVAL 10 DAY AS cut FROM events),
        |w AS (SELECT TIMESTAMP '2024-01-10 00:00:00' AS wm)
        |SELECT segment_day, n_edits, oldest_ts, newest_ts,
        |       newest_ts < cut AS ttl_ok, newest_ts <= wm AS shipped_ok,
        |       (newest_ts < cut AND newest_ts <= wm) AS deletable
        |FROM segs, c, w ORDER BY segment_day""".stripMargin)),
    // VerifyReplication: the replica drifts three ways (every 777th
    // row missing, every 500th price bumped, every 999th key shifted
    // past the source keyspace) — the counters must account for all
    Query("verify_replication", (s, d) => {
      val src = Tables.load(s, d, "orders").select("o_orderkey", "o_totalprice")
      val peer = src.where(col("o_orderkey") % 777 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 500 === 0, col("o_totalprice") + 1)
            .otherwise(col("o_totalprice")))
        .unionByName(src.where(col("o_orderkey") % 999 === 0)
          .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
            col("o_totalprice")))
      Tools.verifyReplication(src, peer, "o_orderkey", Seq("o_totalprice"))
    },
      Oracle("""WITH src AS (SELECT o_orderkey AS k, o_totalprice AS v FROM orders),
        |peer AS (
        |  SELECT k, CASE WHEN k % 500 = 0 THEN v + 1 ELSE v END AS v
        |  FROM src WHERE k % 777 <> 0
        |  UNION ALL
        |  SELECT k + 1000000000, v FROM src WHERE k % 999 = 0),
        |j AS (SELECT s.k AS sk, p.k AS pk, s.v AS sv, p.v AS pv
        |      FROM src s FULL OUTER JOIN peer p ON s.k = p.k)
        |SELECT
        |  coalesce(CAST(sum(CASE WHEN sk IS NOT NULL AND pk IS NOT NULL AND sv = pv
        |                THEN 1 ELSE 0 END) AS BIGINT), 0) AS good_rows,
        |  coalesce(CAST(sum(CASE WHEN pk IS NULL THEN 1 ELSE 0 END) AS BIGINT), 0)
        |    AS only_in_source,
        |  coalesce(CAST(sum(CASE WHEN sk IS NULL THEN 1 ELSE 0 END) AS BIGINT), 0)
        |    AS only_in_peer,
        |  coalesce(CAST(sum(CASE WHEN sk IS NOT NULL AND pk IS NOT NULL AND sv <> pv
        |                THEN 1 ELSE 0 END) AS BIGINT), 0) AS content_different
        |FROM j""".stripMargin)),
    // WALPlayer: the events stream as a WAL — every 7th edit is a
    // delete tombstone, the rest are puts; replay the two-week window
    // into the current-state table (latest put newer than the latest
    // tombstone per cell, one hash aggregate)
    Query("wal_replay", (s, d) => {
      val edits = Tables.eventCells(s, d)
        .withColumn("op", when(col("event_id") % 7 === 0, "delete").otherwise("put"))
      Tools.walReplay(edits, "2024-01-05 00:00:00", "2024-01-25 00:00:00")
        .orderBy("rowkey", "qualifier")
    },
      Oracle("""WITH ed AS (
        |  SELECT user_id AS rowkey, event_type AS qualifier, ts, value, event_id,
        |         CASE WHEN event_id % 7 = 0 THEN 'delete' ELSE 'put' END AS op
        |  FROM events
        |  WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-25 00:00:00'),
        |p AS (
        |  SELECT rowkey, qualifier, ts, event_id, value,
        |         row_number() OVER (PARTITION BY rowkey, qualifier
        |                            ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM ed WHERE op = 'put'),
        |dl AS (
        |  SELECT rowkey, qualifier, max(ts) AS del_ts
        |  FROM ed WHERE op = 'delete' GROUP BY 1, 2)
        |SELECT p.rowkey, p.qualifier, p.ts, p.event_id, p.value
        |FROM p LEFT JOIN dl USING (rowkey, qualifier)
        |WHERE rn = 1 AND (del_ts IS NULL OR p.ts > del_ts)
        |ORDER BY rowkey, qualifier""".stripMargin)),
    // WALPrettyPrinter (wal/WALPrettyPrinter.java:74 — the -w/--row and
    // -s/--sequence narrowing options): the edit history of SPECIFIC
    // rows in a sequence window, each edit as (seq, row, family,
    // qualifier, ts, op, value) in sequence order — the debugging view
    // ("what happened to THIS row"). Point-row and sequence predicates
    // reach the parquet scan as PushedFilters (PlanAuditSpec), so a
    // 100 TB WAL archive answers with a few row-group probes, not a
    // scan.
    Query("wal_inspect", (s, d) =>
      Tables.eventCellsTwoFamilies(s, d)
        .withColumn("op",
          when(col("event_id") % 7 === 0, "delete").otherwise("put"))
        .where(col("rowkey").isin(1L, 2L, 7L) && col("event_id") >= 50L)
        .select(col("event_id").as("seq"), col("rowkey"), col("family"),
          col("qualifier"), col("ts"), col("op"),
          floor(col("value") * 100).cast("bigint").as("value_cents"))
        .orderBy("seq"),
      Oracle("""SELECT event_id AS seq, user_id AS rowkey,
        |       CASE WHEN event_type IN ('click', 'view') THEN 'web' ELSE 'act' END
        |         AS family,
        |       event_type AS qualifier, ts,
        |       CASE WHEN event_id % 7 = 0 THEN 'delete' ELSE 'put' END AS op,
        |       CAST(floor(value * 100) AS BIGINT) AS value_cents
        |FROM events WHERE user_id IN (1, 2, 7) AND event_id >= 50
        |ORDER BY seq""".stripMargin)),
    // MultiTableInputFormat / MultiTableSnapshotInputFormat analogue:
    // one scan spanning several tables, rows tagged by source table.
    // Same filter applies to each; a union of pruned scans, no shuffle.
    Query("multi_table_scan", (s, d) => {
      val cust = Tables.customerCells(s, d).withColumn("table_name", lit("customer"))
      val supp = Tables.supplierCells(s, d).withColumn("table_name", lit("supplier"))
      cust.unionByName(supp)
        .where(col("qualifier").endsWith("nationkey") && col("value").cast("int") < 5)
        .select("table_name", "rowkey", "family", "qualifier", "value")
        .orderBy("table_name", "rowkey")
    },
      Oracle("WITH " + Tables.customerCellsSql + ",\n" + Tables.supplierCellsSql + "\n" +
       """SELECT table_name, rowkey, family, qualifier, value FROM (
         |  SELECT 'customer' AS table_name, * FROM cells
         |  UNION ALL
         |  SELECT 'supplier' AS table_name, * FROM scells)
         |WHERE qualifier LIKE '%nationkey' AND TRY_CAST(value AS INT) < 5
         |ORDER BY table_name, rowkey""".stripMargin)),
    // CUBE over (returnflag, linestatus): all four grouping-set levels
    // in ONE pass — Spark expands the grouping sets before the hash
    // aggregate (map-side partials per set), so the rollup hierarchy
    // costs one shuffle, not four scans. grouping_id bit order (first
    // column = MSB) matches DuckDB GROUPING(). NULL group cells are
    // sentineled '(all)' so the compare never sorts engine NULLs.
    Query("agg_cube", (s, d) =>
      Tables.load(s, d, "lineitem")
        .withColumn("qty_cents", floor(col("l_quantity") * 100).cast("bigint"))
        .cube("l_returnflag", "l_linestatus")
        .agg(sum("qty_cents").as("qty_cents"), count(lit(1)).as("n_rows"),
          grouping_id().as("gid"))
        .withColumn("l_returnflag", coalesce(col("l_returnflag"), lit("(all)")))
        .withColumn("l_linestatus", coalesce(col("l_linestatus"), lit("(all)")))
        .orderBy("gid", "l_returnflag", "l_linestatus"),
      Oracle("""SELECT coalesce(l_returnflag, '(all)') AS l_returnflag,
        |  coalesce(l_linestatus, '(all)') AS l_linestatus,
        |  CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
        |  count(*) AS n_rows,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, 1, 2""".stripMargin)),
    // Retention cohorts: users bucketed by first-seen day, activity
    // counted per (cohort, day-offset). Two shuffles, both on user_id
    // (the self-join reuses the aggregate's partitioning), then one
    // small aggregate on (cohort, offset) — the classic DAU retention
    // triangle, integer-exact.
    Query("retention_cohorts", (s, d) => {
      val e = Tables.load(s, d, "events")
        .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
      val first = e.groupBy("user_id").agg(min("day").as("cohort_day"))
      e.join(first, "user_id")
        .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("bigint"))
        .groupBy("cohort_day", "day_offset")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_day", "day_offset")
    },
      Oracle("""WITH e AS (SELECT user_id, date_trunc('day', ts) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1)
        |SELECT f.cohort_day,
        |  CAST(date_diff('day', f.cohort_day, e.day) AS BIGINT) AS day_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // Fixed-width histogram of event values per type: bin id is a pure
    // projection (one floor-divide — stays in whole-stage codegen), the
    // aggregate is map-side partial; cents keep the sums integer-exact.
    Query("histogram_fixed", (s, d) =>
      Tables.load(s, d, "events")
        .withColumn("bin", floor(col("value") / lit(5.0)).cast("bigint"))
        .groupBy("event_type", "bin")
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 100).cast("bigint")).as("value_cents"))
        .orderBy("event_type", "bin"),
      Oracle("""SELECT event_type, CAST(floor(value / 5.0) AS BIGINT) AS bin,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // 3-sigma outlier flags per event_type in pure integer arithmetic:
    // per-group (n, Σc, Σc²) reduce to floor mean m and floor variance
    // v, a row is anomalous iff (c-m)² > 9v. The stats relation is one
    // row per type (broadcast beside the scan — second pass is
    // shuffle-free), and every comparison is exact-portable: no float
    // mean/stddev whose rounding order DuckDB could disagree on.
    // Magnitudes are scale-safe: dev² ≤ (max_cents)² regardless of n.
    Query("anomaly_zscore", (s, d) =>
      Tools.anomalyFlags(
          Tables.load(s, d, "events")
            .withColumn("c", floor(col("value") * 100).cast("bigint")),
          "event_type", "c", sigmas = 3)
        .select("event_id", "event_type", "c", "dev_cents")
        .withColumnRenamed("c", "value_cents")
        .orderBy("event_id"),
      Oracle("""WITH e AS (SELECT event_id, event_type,
        |    CAST(floor(value * 100) AS BIGINT) AS c FROM events),
        |st AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS q
        |  FROM e GROUP BY 1),
        |j AS (SELECT e.event_id, e.event_type, e.c,
        |    e.c - st.s // st.n AS dev_cents,
        |    greatest(st.q // st.n - (st.s // st.n) * (st.s // st.n), 0) AS v
        |  FROM e JOIN st USING (event_type))
        |SELECT event_id, event_type, c AS value_cents, dev_cents
        |FROM j WHERE dev_cents * dev_cents > 9 * v ORDER BY event_id""".stripMargin)),
    // Time-weighted average value per user (sensor/metric rollup):
    // Δt to the next reading weights each value; one window pass on
    // the (user, time) order then a per-user aggregate on the SAME
    // key — the window's shuffle partitioning is reused, so the whole
    // operator is one exchange. Integer µs and cents end-to-end.
    Query("time_weighted_avg", (s, d) =>
      Tools.timeWeightedAvg(
          Tables.load(s, d, "events")
            .withColumn("c", floor(col("value") * 100).cast("bigint")),
          "user_id", "ts", "c")
        .orderBy("user_id"),
      Oracle("""WITH e AS (SELECT user_id, event_id,
        |    CAST(floor(value * 100) AS BIGINT) AS c, epoch_us(ts) AS us
        |  FROM events),
        |w AS (SELECT user_id, c,
        |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dt
        |  FROM e),
        |g AS (SELECT user_id, CAST(sum(c * dt) AS BIGINT) AS num,
        |    CAST(sum(dt) AS BIGINT) AS span_us
        |  FROM w WHERE dt IS NOT NULL GROUP BY 1)
        |SELECT user_id, span_us, num // span_us AS twa
        |FROM g WHERE span_us > 0 ORDER BY user_id""".stripMargin)),
    // Exact discrete per-type value quantiles: window rank + a
    // conditional max on the SAME key — one shuffle, no percentile
    // buffer, integer rank arithmetic (portable; sketch path at scale
    // is approx_percentile per the region_splitter convention)
    Query("group_quantiles", (s, d) =>
      Tools.groupQuantiles(
          Tables.load(s, d, "events")
            .withColumn("c", floor(col("value") * 100).cast("bigint")),
          "event_type", "c", "event_id", Seq(25, 50, 75, 95))
        .orderBy("event_type"),
      Oracle("""WITH e AS (SELECT event_type, event_id,
        |    CAST(floor(value * 100) AS BIGINT) AS c FROM events),
        |r AS (SELECT event_type, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM e)
        |SELECT event_type,
        |  max(CASE WHEN rn = (25 * n + 99) // 100 THEN c END) AS p25,
        |  max(CASE WHEN rn = (50 * n + 99) // 100 THEN c END) AS p50,
        |  max(CASE WHEN rn = (75 * n + 99) // 100 THEN c END) AS p75,
        |  max(CASE WHEN rn = (95 * n + 99) // 100 THEN c END) AS p95
        |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin)),
    // Inverted-index posting-list audit over event_type: run counts
    // say how RLE-compressible each value's bitmap is, density says
    // whether a bitmap or an id list wins — the index-design readout
    Query("bitmap_index_stats", (s, d) =>
      Tools.postingRunStats(Tables.load(s, d, "events"), "event_type", "event_id")
        .orderBy("event_type"),
      Oracle("""WITH g AS (SELECT event_type, event_id,
        |    event_id - lag(event_id) OVER (PARTITION BY event_type
        |                                   ORDER BY event_id) AS gap
        |  FROM events),
        |a AS (SELECT event_type, count(*) AS n_rows,
        |    min(event_id) AS min_id, max(event_id) AS max_id,
        |    CAST(sum(CASE WHEN gap IS NULL OR gap > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        |  FROM g GROUP BY 1)
        |SELECT event_type, n_rows, min_id, max_id, n_runs,
        |  n_rows * 1000000 // (max_id - min_id + 1) AS density_ppm
        |FROM a ORDER BY event_type""".stripMargin)),
    // Z-order clustering report: both lineitem dims normalized to
    // 8-bit buckets against broadcast corpus bounds, Morton-interleaved
    // (shifts+masks, all codegen), bucketed by the top 4+4 bits. Each
    // z-bucket is provably a ≤16×16 tile in (part, supp) space —
    // min/max zone maps on a layout SORTED by this key prune
    // two-column predicates, which a single-column sort can never do
    Query("zorder_layout", (s, d) => {
      val li = Tables.load(s, d, "lineitem").select("l_partkey", "l_suppkey")
      val b = li.agg(min("l_partkey").as("_lop"), max("l_partkey").as("_hip"),
        min("l_suppkey").as("_los"), max("l_suppkey").as("_his"))
      li.crossJoin(broadcast(b))
        .withColumn("pa", graft.core.Layout.dimBucket(
          col("l_partkey"), col("_lop"), col("_hip"), 8))
        .withColumn("pb", graft.core.Layout.dimBucket(
          col("l_suppkey"), col("_los"), col("_his"), 8))
        .withColumn("zbucket",
          shiftright(graft.core.Layout.mortonKey(col("pa"), col("pb"), 8), 8))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n_rows"),
          min("pa").as("pa_min"), max("pa").as("pa_max"),
          min("pb").as("pb_min"), max("pb").as("pb_max"))
        .orderBy("zbucket")
    },
      Oracle {
        val morton = (0 until 8).map(i =>
          s"((((pa >> $i) & 1) << ${2 * i + 1}) + (((pb >> $i) & 1) << ${2 * i}))")
          .mkString(" + ")
        s"""WITH b AS (SELECT min(l_partkey) AS lop, max(l_partkey) AS hip,
           |    min(l_suppkey) AS los, max(l_suppkey) AS his FROM lineitem),
           |p AS (SELECT
           |    CAST(floor((l_partkey - lop) * 256 / (hip - lop + 1)) AS BIGINT) AS pa,
           |    CAST(floor((l_suppkey - los) * 256 / (his - los + 1)) AS BIGINT) AS pb
           |  FROM lineitem, b),
           |z AS (SELECT pa, pb, ($morton) >> 8 AS zbucket FROM p)
           |SELECT zbucket, count(*) AS n_rows,
           |  min(pa) AS pa_min, max(pa) AS pa_max,
           |  min(pb) AS pb_min, max(pb) AS pb_max
           |FROM z GROUP BY 1 ORDER BY zbucket""".stripMargin
      }),
    // Partition-pruned read over a hive-partitioned layout: orders
    // written once (ensure-once temp dir) partitioned by year-month,
    // then the quarter filter resolves at PLANNING time against the
    // directory tree — PartitionFilters in the scan, unmatched
    // partitions never open (plan-asserted). The partition-layout
    // half of the zone_map_prune story, executed rather than
    // simulated; equals the direct unpartitioned aggregate (oracle).
    Query("partition_prune", (s, d) => {
      val path = graft.core.Indexes.ensure(s, d, "part_orders") { target =>
        Tables.load(s, d, "orders")
          .withColumn("ym",
            (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("int"))
          .write.partitionBy("ym").mode("overwrite").parquet(target)
      }
      graft.core.Layout.read(s, path)
        .where(col("ym") >= 199607 && col("ym") <= 199609)
        .groupBy("ym")
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("bigint")).as("cents"))
        .orderBy("ym")
    },
      Oracle("""SELECT CAST(year(o_orderdate) * 100 + month(o_orderdate) AS INT) AS ym,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |WHERE year(o_orderdate) * 100 + month(o_orderdate) BETWEEN 199607 AND 199609
        |GROUP BY 1 ORDER BY ym""".stripMargin)),
    // NEAREST temporal join (sensor alignment): every 97th event
    // matched to the closest purchase of the same user — backward asof
    // + a second asof over negated µs (backward on −t IS forward on
    // t), resolved by a projection; ties go to the earlier quote. Two
    // single-shuffle passes, never a per-key range join.
    Query("asof_nearest", (s, d) => {
      val e = Tables.load(s, d, "events")
        .withColumn("us", unix_micros(col("ts")))
      val probes = e.where(col("event_id") % 97 === 0)
        .select("event_id", "user_id", "us")
      val quotes = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("qid"), col("user_id"), col("us"))
      graft.core.AsofJoin
        .asofNearest(probes, quotes, "user_id", "us", "event_id", "qid")
        .select(col("event_id"), col("user_id"),
          col("nn_id").as("nn_event"), col("dt_us"))
        .orderBy("event_id")
    },
      Oracle("""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t FROM events
        |  WHERE event_id % 97 = 0),
        |q AS (SELECT user_id, event_id AS qid, epoch_us(ts) AS qt FROM events
        |  WHERE event_type = 'purchase'),
        |j AS (SELECT p.event_id, p.user_id, p.t,
        |    bb.qid AS b_id, bb.qt AS b_t, ff.qid AS f_id, ff.qt AS f_t
        |  FROM p
        |  LEFT JOIN LATERAL (SELECT qid, qt FROM q
        |    WHERE q.user_id = p.user_id AND qt <= p.t
        |    ORDER BY qt DESC, qid DESC LIMIT 1) bb ON TRUE
        |  LEFT JOIN LATERAL (SELECT qid, qt FROM q
        |    WHERE q.user_id = p.user_id AND qt >= p.t
        |    ORDER BY qt ASC, qid DESC LIMIT 1) ff ON TRUE)
        |SELECT event_id, user_id,
        |  CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
        |       WHEN f_id IS NULL THEN b_id
        |       WHEN b_id IS NULL THEN f_id
        |       WHEN t - b_t <= f_t - t THEN b_id ELSE f_id END AS nn_event,
        |  CASE WHEN b_id IS NULL AND f_id IS NULL THEN NULL
        |       WHEN f_id IS NULL THEN t - b_t
        |       WHEN b_id IS NULL THEN f_t - t
        |       ELSE least(t - b_t, f_t - t) END AS dt_us
        |FROM j ORDER BY event_id""".stripMargin)),
    // Interval-union coverage (gaps-and-islands): each event opens a
    // ±30 min activity interval; overlapping intervals merge into
    // islands via the classic start-vs-running-max-end test, then one
    // aggregate per island and one per user. Every window partitions
    // by user — bounded state, integer µs end-to-end.
    Query("interval_islands", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val half = 1800L * 1000000L
      val w = Window.partitionBy("user_id").orderBy("s", "event_id")
      val e = Tables.load(s, d, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("s", col("us") - half)
        .withColumn("en", col("us") + half)
        .withColumn("_prev_max_en", max("en").over(
          w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("_new", when(col("_prev_max_en").isNull ||
          col("s") > col("_prev_max_en"), 1L).otherwise(0L))
        .withColumn("island", sum("_new").over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      e.groupBy("user_id", "island")
        .agg(min("s").as("_is"), max("en").as("_ie"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          expr("sum(_ie - _is) div 1000000").as("covered_s"),
          expr("max(_ie - _is) div 1000000").as("longest_s"))
        .orderBy("user_id")
    },
      Oracle("""WITH e AS (SELECT user_id, event_id,
        |    epoch_us(ts) - 1800000000 AS s,
        |    epoch_us(ts) + 1800000000 AS en FROM events),
        |m AS (SELECT user_id, event_id, s, en,
        |    max(en) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        |  FROM e),
        |n AS (SELECT *, CASE WHEN prev_max IS NULL OR s > prev_max
        |    THEN 1 ELSE 0 END AS newi FROM m),
        |i AS (SELECT user_id, s, en,
        |    CAST(sum(newi) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island FROM n),
        |g AS (SELECT user_id, island, min(s) AS i_s, max(en) AS i_e
        |  FROM i GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(i_e - i_s) AS BIGINT) // 1000000 AS covered_s,
        |  CAST(max(i_e - i_s) AS BIGINT) // 1000000 AS longest_s
        |FROM g GROUP BY 1 ORDER BY user_id""".stripMargin)),
    // Watermark-lag audit: how out-of-order is the stream? Arrival
    // time = event time + deterministic ±5 min network jitter (the
    // Knuth-hash of event_id — the generator's events are perfectly
    // time-sorted, so the jitter IS the modeled transport disorder);
    // each event's lag behind the running event-time max within its
    // 10-minute arrival window, histogrammed in minute bins. THE
    // statistic that sizes a withWatermark bound: the tail bin is the
    // lateness to tolerate. Windows partition by arrival bucket —
    // bounded state, no global sort, the same reason a real watermark
    // is tracked per source partition.
    Query("watermark_lag_audit", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("bucket").orderBy("arr_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, d, "events")
        .withColumn("_us", unix_micros(col("ts")))
        .withColumn("arr_us", col("_us") + expr(
          "pmod((event_id % 2147483648) * 2654435761, 600000000) - 300000000"))
        .withColumn("bucket", expr("arr_us div 600000000"))
        .withColumn("_runmax", max(col("_us")).over(w))
        .withColumn("lag_s", expr("greatest(_runmax - _us, 0L) div 1000000"))
        .withColumn("lag_bin", expr("lag_s div 60"))
        .groupBy("lag_bin")
        .agg(count(lit(1)).as("n_events"), max("lag_s").as("max_lag_s"))
        .orderBy("lag_bin")
    },
      Oracle("""WITH e AS (SELECT event_id, epoch_us(ts) AS us,
        |    epoch_us(ts) + ((event_id % 2147483648) * 2654435761) % 600000000
        |      - 300000000 AS arr_us
        |  FROM events),
        |b AS (SELECT event_id, us, arr_us,
        |    arr_us // 600000000 AS bucket FROM e),
        |r AS (SELECT us,
        |    max(us) OVER (PARTITION BY bucket ORDER BY arr_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS runmax FROM b),
        |l AS (SELECT greatest(runmax - us, 0) // 1000000 AS lag_s FROM r)
        |SELECT lag_s // 60 AS lag_bin, count(*) AS n_events,
        |  max(lag_s) AS max_lag_s
        |FROM l GROUP BY 1 ORDER BY lag_bin""".stripMargin)),
    // Robust location/scale per group: median + MAD (median absolute
    // deviation), both as exact DISCRETE quantiles on the
    // groupQuantiles machinery — two window passes on the same key,
    // medians broadcast back between them. The robust counterpart of
    // anomaly_zscore's moment statistics: one wild outlier moves a
    // mean and stddev arbitrarily but shifts median/MAD by at most
    // one rank. Integer cents end-to-end.
    Query("agg_mad", (s, d) => {
      val e = Tables.load(s, d, "events")
        .withColumn("c", floor(col("value") * 100).cast("bigint"))
        .select("event_type", "event_id", "c")
      Tools.medianMad(e, "event_type", "c", "event_id")
        .select(col("event_type"), col("median").as("median_cents"),
          col("mad").as("mad_cents"))
        .orderBy("event_type")
    },
      Oracle("""WITH e AS (SELECT event_type, event_id,
        |    CAST(floor(value * 100) AS BIGINT) AS c FROM events),
        |r1 AS (SELECT event_type, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |m AS (SELECT event_type,
        |    max(CASE WHEN rn = (50 * n + 99) // 100 THEN c END) AS median_cents
        |  FROM r1 GROUP BY 1),
        |d AS (SELECT e.event_type, e.event_id,
        |    abs(e.c - m.median_cents) AS dev
        |  FROM e JOIN m USING (event_type)),
        |r2 AS (SELECT event_type, dev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM d),
        |md AS (SELECT event_type,
        |    max(CASE WHEN rn = (50 * n + 99) // 100 THEN dev END) AS mad_cents
        |  FROM r2 GROUP BY 1)
        |SELECT m.event_type, m.median_cents, md.mad_cents
        |FROM m JOIN md USING (event_type) ORDER BY event_type""".stripMargin)),
    // First-touch attribution: each purchase credits the EARLIEST
    // view/click in its trailing 7-day window. The interval match
    // rides the binned range join (hash join on day bins + exact
    // BETWEEN post-filter — never a BroadcastNestedLoopJoin), the
    // argmin is one struct-min aggregate; lead time in whole seconds
    // from integer µs.
    Query("attribution_first_touch", (s, d) => {
      val e = Tables.load(s, d, "events")
      val touches = e.where(col("event_type").isin("view", "click"))
        .select(col("event_id").as("touch_id"), col("user_id").as("t_user"),
          col("ts"), col("event_type").as("ttype"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          (col("ts") - expr("INTERVAL 7 DAYS")).as("lo"), col("ts").as("hi"),
          // the join drops the range bounds; carry the purchase time
          // as payload for the strict upper bound + lead time
          col("ts").as("pts"))
      graft.core.RangeJoin
        .rangeJoinBinned(touches, "ts", purchases, "lo", "hi", binSeconds = 86400)
        .where(col("t_user") === col("user_id") && col("ts") < col("pts"))
        .groupBy("purchase_id", "pts")
        .agg(min(struct(col("ts"), col("touch_id"), col("ttype"))).as("_ft"))
        .select(col("purchase_id"), col("_ft.touch_id").as("first_touch"),
          col("_ft.ttype").as("touch_type"),
          expr("(unix_micros(pts) - unix_micros(_ft.ts)) div 1000000").as("lead_s"))
        .orderBy("purchase_id")
    },
      Oracle("""WITH t AS (SELECT event_id AS touch_id, user_id, ts, event_type FROM events
        |  WHERE event_type IN ('view', 'click')),
        |p AS (SELECT event_id AS purchase_id, user_id, ts AS pts FROM events
        |  WHERE event_type = 'purchase'),
        |j AS (SELECT p.purchase_id, p.pts, t.touch_id, t.event_type, t.ts
        |  FROM p JOIN t ON t.user_id = p.user_id
        |    AND t.ts >= p.pts - INTERVAL 7 DAY AND t.ts < p.pts),
        |r AS (SELECT *, row_number() OVER (PARTITION BY purchase_id
        |    ORDER BY ts, touch_id) AS rn FROM j)
        |SELECT purchase_id, touch_id AS first_touch, event_type AS touch_type,
        |  (epoch_us(pts) - epoch_us(ts)) // 1000000 AS lead_s
        |FROM r WHERE rn = 1 ORDER BY purchase_id""".stripMargin)),
    // Session-scoped funnel: the 6-hour-gap sessionizer feeds the
    // greedy ordered funnel KEYED BY SESSION, not by user — a user who
    // views today and purchases next week no longer counts as a
    // conversion. Composition of two existing blocks (gap islands +
    // Tools.funnel) on a synthesized session key; one summary row.
    Query("session_funnel", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      val e = Tables.load(s, d, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("_prev", lag("us", 1).over(w))
        .withColumn("_new", when(col("_prev").isNull ||
          col("us") - col("_prev") > 21600000000L, 1L).otherwise(0L))
        .withColumn("skey", concat_ws("#", col("user_id"),
          sum("_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))))
      val f = Tools.funnel(e, "skey", "us", "event_type",
        Seq("view", "click", "purchase"))
      val totals = e.agg(countDistinct("skey").as("n_sessions"))
      f.agg(count(lit(1)).as("with_view"),
          sum(when(col("t2").isNotNull, 1L).otherwise(0L)).as("reached_click"),
          sum(when(col("t3").isNotNull, 1L).otherwise(0L)).as("reached_purchase"))
        .crossJoin(broadcast(totals))
        .select("n_sessions", "with_view", "reached_click", "reached_purchase")
    },
      Oracle("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |l AS (SELECT *, lag(us) OVER (PARTITION BY user_id
        |    ORDER BY us, event_id) AS prev FROM e),
        |se AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 21600000000
        |    THEN 1 ELSE 0 END AS news FROM l),
        |k AS (SELECT *, CAST(user_id AS VARCHAR) || '#' ||
        |    CAST(sum(news) OVER (PARTITION BY user_id ORDER BY us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS skey FROM se),
        |s1 AS (SELECT skey, min(us) AS t1 FROM k WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT s1.skey, s1.t1,
        |    min(CASE WHEN kk.us > s1.t1 THEN kk.us END) AS t2
        |  FROM s1 LEFT JOIN k kk ON kk.skey = s1.skey AND kk.event_type = 'click'
        |  GROUP BY 1, 2),
        |s3 AS (SELECT s2.skey, s2.t2,
        |    min(CASE WHEN kk.us > s2.t2 THEN kk.us END) AS t3
        |  FROM s2 LEFT JOIN k kk ON kk.skey = s2.skey AND kk.event_type = 'purchase'
        |  GROUP BY 1, 2)
        |SELECT (SELECT count(DISTINCT skey) FROM k) AS n_sessions,
        |  (SELECT count(*) FROM s1) AS with_view,
        |  (SELECT count(t2) FROM s2) AS reached_click,
        |  (SELECT count(t3) FROM s3) AS reached_purchase""".stripMargin)),
    // Robust outlier flags: |c − median| > 5·MAD — the detector that
    // survives contaminated data (anomaly_zscore's moments move with
    // the outliers they hunt; median/MAD don't). Stats from the two
    // agg_mad window passes, flags a broadcast-join projection —
    // integer comparison, no scale constant needed.
    Query("anomaly_mad", (s, d) => {
      val e = Tables.load(s, d, "events")
        .withColumn("c", floor(col("value") * 100).cast("bigint"))
        .select("event_type", "event_id", "c")
      // the SAME robust stats agg_mad publishes (one shared chain,
      // Tools.medianMad), joined back ONCE for the flag projection
      e.join(broadcast(Tools.medianMad(e, "event_type", "c", "event_id")),
          "event_type")
        .where(abs(col("c") - col("median")) > lit(5L) * col("mad"))
        .select(col("event_id"), col("event_type"), col("c").as("value_cents"),
          (col("c") - col("median")).as("dev_cents"))
        .orderBy("event_id")
    },
      Oracle("""WITH e AS (SELECT event_type, event_id,
        |    CAST(floor(value * 100) AS BIGINT) AS c FROM events),
        |r1 AS (SELECT event_type, c,
        |    row_number() OVER (PARTITION BY event_type ORDER BY c, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |m AS (SELECT event_type,
        |    max(CASE WHEN rn = (50 * n + 99) // 100 THEN c END) AS med
        |  FROM r1 GROUP BY 1),
        |d AS (SELECT e.event_type, e.event_id, abs(e.c - m.med) AS dev
        |  FROM e JOIN m USING (event_type)),
        |r2 AS (SELECT event_type, dev,
        |    row_number() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n FROM d),
        |md AS (SELECT event_type,
        |    max(CASE WHEN rn = (50 * n + 99) // 100 THEN dev END) AS mad
        |  FROM r2 GROUP BY 1)
        |SELECT e.event_id, e.event_type, e.c AS value_cents,
        |  e.c - m.med AS dev_cents
        |FROM e JOIN m USING (event_type) JOIN md USING (event_type)
        |WHERE abs(e.c - m.med) > 5 * md.mad
        |ORDER BY event_id""".stripMargin)),
    // Equi-depth histogram (the ANALYZE / optimizer-statistics shape,
    // dual of histogram_fixed's equi-width): 8 buckets of ~equal row
    // count over order price cents. Scalable form (the two-pass
    // weightedMedian trick, agg/Aggregates.scala): counts per DISTINCT
    // value, values pre-bucketed into ≤4096 range cells, the global
    // cumsum window runs ONLY over the bounded cell table; each value's
    // exact cum_before = its cell's prefix + an in-cell cumsum window
    // PARTITIONED by cell. No window ever sees a data-cardinality
    // child, so the op survives a domain with millions of distinct
    // prices. bucket = cum_before·B div n — ties stay in one bucket
    // (buckets wobble exactly where duplicates force them to).
    Query("histogram_equi_depth", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val B = 8
      val cells = 4096
      val vals = Tables.load(s, d, "orders")
        .withColumn("c", floor(col("o_totalprice") * 100).cast("bigint"))
        .groupBy("c").agg(count(lit(1)).as("cnt"))
      val bounds = vals.agg(min("c").as("_lo"), max("c").as("_hi"),
        sum("cnt").as("_n"))
      val celled = vals.crossJoin(broadcast(bounds))
        // the Tools.cellPrefix cell formula (kept inline because this
        // query also needs _n and in-cell refinement) — the DOUBLE
        // multiply must stay in sync with the helper's overflow fix
        .withColumn("_cell",
          ((col("c") - col("_lo")).cast("double") * cells /
            (col("_hi") - col("_lo") + 1)).cast("bigint"))
      // ≤4096 rows by construction — the only orderBy-without-partition
      // window in the plan runs over this bounded cell table
      val wCell = Window.orderBy("_cell")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cellCum = celled.groupBy("_cell").agg(sum("cnt").as("_cellCnt"))
        .withColumn("_cell_before",
          sum("_cellCnt").over(wCell) - col("_cellCnt"))
        .select("_cell", "_cell_before")
      val wIn = Window.partitionBy("_cell").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      celled.join(broadcast(cellCum), "_cell")
        .withColumn("_cum_before",
          col("_cell_before") + sum("cnt").over(wIn) - col("cnt"))
        .withColumn("bucket", expr(s"_cum_before * $B div _n"))
        .groupBy("bucket")
        .agg(min("c").as("lo_cents"), max("c").as("hi_cents"),
          sum("cnt").as("n_rows"))
        .orderBy("bucket")
    },
      Oracle("""WITH v AS (SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS c,
        |    count(*) AS cnt FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS _n FROM v),
        |u AS (SELECT c, cnt,
        |    CAST(sum(cnt) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
        |         - cnt AS BIGINT) AS cum_before FROM v)
        |SELECT cum_before * 8 // _n AS bucket,
        |  min(c) AS lo_cents, max(c) AS hi_cents,
        |  CAST(sum(cnt) AS BIGINT) AS n_rows
        |FROM u, t GROUP BY 1 ORDER BY bucket""".stripMargin)),
    // Exact per-group mode: (group, value) counts then a row_number
    // pick with a deterministic tie order (highest count, then
    // lexicographically smallest value) — two aggregates on nested
    // keys, the window only ranks the tiny count table
    Query("agg_mode", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      Tables.load(s, d, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("_rn", row_number().over(
          Window.partitionBy("o_orderstatus")
            .orderBy(col("cnt").desc, col("o_orderpriority"))))
        .where(col("_rn") === 1)
        .select(col("o_orderstatus"), col("o_orderpriority").as("mode_priority"),
          col("cnt"))
        .orderBy("o_orderstatus")
    },
      Oracle("""WITH c AS (SELECT o_orderstatus, o_orderpriority, count(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
        |    ORDER BY cnt DESC, o_orderpriority) AS rn FROM c)
        |SELECT o_orderstatus, o_orderpriority AS mode_priority, cnt
        |FROM r WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin)),
    // RANGE-frame rolling window: trailing-7-day revenue per order
    // day — the frame is VALUE-based (epoch-day range), not row-based,
    // so gap days shorten the window exactly as a calendar would. The
    // raw table aggregates to per-day rows first; the range window
    // runs over that metadata-scale day table only.
    Query("rolling_range_window", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byDay = Tables.load(s, d, "orders")
        .withColumn("day", datediff(col("o_orderdate"),
          lit("1992-01-01").cast("timestamp")).cast("bigint"))
        .groupBy("day")
        .agg(sum(floor(col("o_totalprice") * 100).cast("bigint")).as("day_cents"))
      byDay.withColumn("rev_7d_cents",
          sum("day_cents").over(Window.orderBy("day").rangeBetween(-6, 0)))
        .orderBy("day")
    },
      Oracle("""WITH d AS (SELECT
        |    CAST(date_diff('day', TIMESTAMP '1992-01-01 00:00:00', o_orderdate) AS BIGINT) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS day_cents
        |  FROM orders GROUP BY 1)
        |SELECT day, day_cents,
        |  CAST(sum(day_cents) OVER (ORDER BY day
        |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS rev_7d_cents
        |FROM d ORDER BY day""".stripMargin)),
    // Data-quality gate over orders (expectation-suite shape): four
    // predicate rules ride ONE aggregate pass (adding a rule costs an
    // expression, not a scan), the uniqueness rule unions beside them
    // with its distinct; one audit row per rule. NULL-evaluating
    // predicates count as violations (unknown ≠ pass).
    Query("dq_checks", (s, d) => {
      val o = Tables.load(s, d, "orders")
      Tools.dqAudit(o, Seq(
          "orderkey_not_null" -> col("o_orderkey").isNotNull,
          "totalprice_positive" -> (col("o_totalprice") > 0),
          "status_in_domain" -> col("o_orderstatus").isin("O", "F", "P"),
          "date_in_range" ->
            col("o_orderdate").between("1992-01-01", "2002-01-01")))
        .unionByName(Tools.dqUnique(o, "o_orderkey", "orderkey_unique"))
        .orderBy("rule")
    },
      Oracle("""WITH base AS (SELECT
        |    count(*) AS n,
        |    CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_nn,
        |    CAST(sum(CASE WHEN NOT coalesce(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_tp,
        |    CAST(sum(CASE WHEN NOT coalesce(o_orderstatus IN ('O','F','P'), FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_st,
        |    CAST(sum(CASE WHEN NOT coalesce(o_orderdate BETWEEN TIMESTAMP '1992-01-01 00:00:00'
        |      AND TIMESTAMP '2002-01-01 00:00:00', FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_dt,
        |    count(*) - count(DISTINCT o_orderkey) AS v_uq
        |  FROM orders),
        |rows_ AS (
        |  SELECT 'orderkey_not_null' AS rule, n AS n_rows, v_nn AS n_violations FROM base
        |  UNION ALL SELECT 'totalprice_positive', n, v_tp FROM base
        |  UNION ALL SELECT 'status_in_domain', n, v_st FROM base
        |  UNION ALL SELECT 'date_in_range', n, v_dt FROM base
        |  UNION ALL SELECT 'orderkey_unique', n, v_uq FROM base)
        |SELECT rule, n_rows, n_violations,
        |  CAST(CASE WHEN n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS pass
        |FROM rows_ ORDER BY rule""".stripMargin)),
    // Star-schema rollup (the TPC-H Q5 shape): fact orders joined
    // through customer → nation → region with EVERY dimension
    // broadcast — the fact table reaches the final aggregate without
    // a single join shuffle (plan-asserted: the only hash exchange is
    // the group-by's). The plan every BI rollup on a 100 TB fact
    // table must produce; revenue in exact cents.
    Query("star_join_rollup", (s, d) =>
      Tables.load(s, d, "orders")
        .join(broadcast(Tables.load(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, d, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("bigint")).as("revenue_cents"))
        .orderBy("r_name", "n_name"),
      Oracle("""SELECT r_name, n_name, count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY r_name, n_name""".stripMargin)),
    // Period-over-period movers: 1996 vs 1997 revenue per customer as
    // two conditional sums in ONE pass over the fact (never two scans
    // + a join), top movers by absolute delta with a deterministic
    // tie order riding TakeOrderedAndProject
    Query("period_delta_topn", (s, d) =>
      Tables.load(s, d, "orders")
        .withColumn("y", year(col("o_orderdate")))
        .where(col("y").isin(1996, 1997))
        .withColumn("cents", floor(col("o_totalprice") * 100).cast("bigint"))
        .groupBy("o_custkey")
        .agg(sum(when(col("y") === 1996, col("cents")).otherwise(0L)).as("rev_1996"),
          sum(when(col("y") === 1997, col("cents")).otherwise(0L)).as("rev_1997"))
        .withColumn("delta_cents", col("rev_1997") - col("rev_1996"))
        .orderBy(abs(col("delta_cents")).desc, col("o_custkey"))
        .limit(50),
      Oracle("""WITH a AS (SELECT o_custkey,
        |    CAST(sum(CASE WHEN year(o_orderdate) = 1996
        |      THEN CAST(floor(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev_1996,
        |    CAST(sum(CASE WHEN year(o_orderdate) = 1997
        |      THEN CAST(floor(o_totalprice * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS rev_1997
        |  FROM orders WHERE year(o_orderdate) IN (1996, 1997) GROUP BY 1)
        |SELECT o_custkey, rev_1996, rev_1997, rev_1997 - rev_1996 AS delta_cents
        |FROM a ORDER BY abs(rev_1997 - rev_1996) DESC, o_custkey LIMIT 50""".stripMargin)),
    // Schema evolution audit: two dataset generations written with
    // different schemas (v2 adds a column), read back as ONE relation
    // via mergeSchema — the old generation's missing column null-fills
    // at read time, no rewrite of history. The audit counts the
    // back-filled nulls per generation; equals the direct split
    // aggregate (oracle). The migration-without-backfill contract a
    // 100 TB table depends on: schema changes must never rewrite data.
    Query("schema_evolution", (s, d) => {
      val path = graft.core.Indexes.ensure(s, d, "schema_evo") { t =>
        val o = Tables.load(s, d, "orders")
        o.where(col("o_orderkey") % 2 === 0)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("overwrite").parquet(t + "/v=1")
        o.where(col("o_orderkey") % 2 === 1)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
          .write.mode("overwrite").parquet(t + "/v=2")
      }
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy("v")
        .agg(count(lit(1)).as("n_rows"),
          count(col("o_orderpriority")).as("with_priority"),
          sum(floor(col("o_totalprice") * 100).cast("bigint")).as("cents"))
        .orderBy("v")
    },
      Oracle("""SELECT CAST(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 2 END AS INT) AS v,
        |  count(*) AS n_rows,
        |  CAST(sum(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS with_priority,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY 1 ORDER BY v""".stripMargin)),
    // Small-file coalescing plan (lakehouse OPTIMIZE / bin-pack): the
    // file manifest (metadata-scale — one row per file, never data
    // rows) next-fit-packed into target-size write groups by a window
    // cumsum; bin = (cum − bytes) div target, so every bin except
    // possibly the last is ≥ target only via its final file. The
    // window is a single-partition sort over the MANIFEST, the same
    // deliberate metadata-scale shape as region_balancer.
    Query("file_coalesce_plan", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val files = Tables.load(s, d, "orders")
        .withColumn("file_id", expr("o_orderkey div 2000"))
        .groupBy("file_id")
        // floor per row THEN integer sum: a float sum's rounding could
        // differ across engines' reduce orders before the floor
        .agg(sum(floor(col("o_totalprice") * 100).cast("bigint")).as("bytes"))
      val target = files.agg((floor(sum("bytes") / 5) + 1).cast("bigint").as("_t"))
      val w = Window.orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      files.crossJoin(broadcast(target))
        .withColumn("_cum", sum("bytes").over(w))
        .withColumn("bin", expr("(_cum - bytes) div _t"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_files"), sum("bytes").as("bin_bytes"),
          min("file_id").as("first_file"), max("file_id").as("last_file"))
        .orderBy("bin")
    },
      Oracle("""WITH f AS (SELECT o_orderkey // 2000 AS file_id,
        |    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS bytes
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(floor(sum(bytes) / 5) + 1 AS BIGINT) AS _t FROM f),
        |c AS (SELECT file_id, bytes,
        |    CAST(sum(bytes) OVER (ORDER BY file_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM f)
        |SELECT (cum - bytes) // _t AS bin, count(*) AS n_files,
        |  CAST(sum(bytes) AS BIGINT) AS bin_bytes,
        |  min(file_id) AS first_file, max(file_id) AS last_file
        |FROM c, t GROUP BY 1 ORDER BY bin""".stripMargin)),
    // Incremental aggregate maintenance: the lambda/streaming merge —
    // a base aggregate (history) combined with a delta batch's partial
    // aggregate by PURE partial-state algebra (counts add, sums add,
    // mins min). The oracle computes the direct full aggregate: the
    // merged result must be indistinguishable from recomputation,
    // which is exactly the mergeability contract map-side partials
    // and streaming state stores rely on.
    Query("agg_incremental", (s, d) => {
      val e = Tables.load(s, d, "events")
        .withColumn("c", floor(col("value") * 100).cast("bigint"))
      val cut = lit("2024-01-25 00:00:00").cast("timestamp")
      def part(df: DataFrame) = df.groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("c").as("sum_cents"),
          min("ts").as("first_ts"), max("ts").as("last_ts"))
      part(e.where(col("ts") < cut))
        .unionByName(part(e.where(col("ts") >= cut)))
        .groupBy("user_id")
        .agg(sum("n").as("n"), sum("sum_cents").as("sum_cents"),
          min("first_ts").as("first_ts"), max("last_ts").as("last_ts"))
        .orderBy("user_id")
    },
      Oracle("""SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(ts) AS first_ts, max(ts) AS last_ts
        |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin)),
    // First-order Markov transition matrix over per-user event
    // sequences: one lead() window on (user, time) order, then a
    // count per (src, dst) and a per-src share in floor ppm (window
    // over the TINY transition table, not the events). The
    // session-flow readout funnels are a special case of.
    Query("markov_transitions", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.load(s, d, "events")
        .withColumn("_next", lead(col("event_type"), 1).over(w))
        .where(col("_next").isNotNull)
        .groupBy(col("event_type").as("src"), col("_next").as("dst"))
        .agg(count(lit(1)).as("n_trans"))
        // the transition count is corpus-order: guard the ppm multiply loudly (past
        // Long.Max/10⁶ it wraps negative silently — the
        // quality_ablation/ngram_novelty discipline)
        .withColumn("prob_ppm",
          when(col("n_trans") > lit(Long.MaxValue / 1000000L),
            raise_error(lit("prob_ppm overflows int64 — pre-aggregate")))
          .otherwise(expr(
            "n_trans * 1000000 div sum(n_trans) OVER (PARTITION BY src)")))
        .orderBy("src", "dst")
    },
      Oracle("""WITH s AS (SELECT event_type AS src,
        |    lead(event_type) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS dst
        |  FROM events),
        |c AS (SELECT src, dst, count(*) AS n_trans FROM s
        |  WHERE dst IS NOT NULL GROUP BY 1, 2)
        |SELECT src, dst, n_trans,
        |  CAST(n_trans * 1000000 // sum(n_trans) OVER (PARTITION BY src) AS BIGINT) AS prob_ppm
        |FROM c ORDER BY src, dst""".stripMargin)),
    // Market-basket co-occurrence: part pairs within an order via the
    // order-key self-join — fanout is C(items-per-order, 2), bounded
    // per order, so the pair table grows LINEARLY with orders (never
    // quadratically with parts); top pairs by support with a
    // deterministic tie order.
    Query("basket_pairs", (s, d) => {
      val items = Tables.load(s, d, "lineitem")
        .select("l_orderkey", "l_partkey")
      // pairs straight off the per-order postings list (r16 — the
      // Dedup.cappedCandidates shape): ONE order-key shuffle builds
      // each basket, a codegen'd nested transform emits the i<j pairs
      // in-row. The former self-join shuffled the item table by
      // orderkey AND read the exchange twice, paying the join probe
      // per pair; values identical — the sorted distinct basket emits
      // exactly the a.partkey < b.partkey pair set.
      // collect_set (r17): the separate .distinct() pre-pass paid its
      // own full exchange on (orderkey, partkey) before the basket
      // groupBy's; the set aggregate dedups inside ONE shuffle —
      // identical baskets (collect_list-after-distinct ≡ collect_set,
      // both drop NULLs; array_sort fixes the order either way).
      items.groupBy("l_orderkey")
        .agg(array_sort(collect_set(col("l_partkey"))).as("ds"))
        .where(size(col("ds")) >= 2)
        .select(explode(expr(
          graft.dedup.Dedup.pairExpansion("y -> struct(x AS p1, y AS p2)"))).as("p"))
        .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("n_orders").desc, col("p1"), col("p2"))
        .limit(100)
    },
      Oracle("""WITH i AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
        |FROM i a JOIN i b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2
        |ORDER BY n_orders DESC, p1, p2 LIMIT 100""".stripMargin)),
    // Zone-map pruning audit: the same orders rows chunked two ways —
    // key-order "files" vs date-partitioned files — each file reduced
    // to its (min,max) date zone map, then a fixed quarter predicate
    // replayed against the maps. The by-date layout scans exactly the
    // quarter's files; the natural layout scans nearly all of them —
    // the file-skipping argument for sort/partition keys, as data
    Query("zone_map_prune", (s, d) => {
      val o = Tables.load(s, d, "orders")
      val lo = lit("1996-07-01").cast("timestamp")
      val hi = lit("1996-10-01").cast("timestamp")
      val nat = o.withColumn("layout", lit("natural"))
        .withColumn("file_id", expr("o_orderkey div 2000"))
      val byDate = o.withColumn("layout", lit("by_date"))
        .withColumn("file_id",
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate"))).cast("bigint"))
      nat.unionByName(byDate)
        .groupBy("layout", "file_id")
        .agg(count(lit(1)).as("n_rows"),
          min("o_orderdate").as("zmin"), max("o_orderdate").as("zmax"))
        .withColumn("scanned",
          (col("zmin") < hi && col("zmax") >= lo).cast("bigint"))
        .orderBy("layout", "file_id")
    },
      Oracle("""WITH u AS (
        |  SELECT 'natural' AS layout, o_orderkey // 2000 AS file_id, o_orderdate FROM orders
        |  UNION ALL
        |  SELECT 'by_date', CAST(year(o_orderdate) * 100 + month(o_orderdate) AS BIGINT),
        |         o_orderdate FROM orders),
        |f AS (SELECT layout, file_id, count(*) AS n_rows,
        |    min(o_orderdate) AS zmin, max(o_orderdate) AS zmax
        |  FROM u GROUP BY 1, 2)
        |SELECT layout, file_id, n_rows, zmin, zmax,
        |  CAST(CASE WHEN zmin < TIMESTAMP '1996-10-01 00:00:00'
        |             AND zmax >= TIMESTAMP '1996-07-01 00:00:00'
        |            THEN 1 ELSE 0 END AS BIGINT) AS scanned
        |FROM f ORDER BY layout, file_id""".stripMargin)),
    // PressureAwareCompactionThroughputController (regionserver/
    // throttle/PressureAwareCompactionThroughputController.java:95 —
    // pressure ≥ 1 lifts the limit entirely, off-peak uses the fixed
    // bound, otherwise lower + (upper−lower)·pressure; pressure from
    // HStore.getCompactionPressure: (files−min)/(blocking−min)): the
    // per-(region, day) flush-file model of compaction_select scored
    // into the throttle table, all integer ppm math (10/20 MiB/s
    // bounds, 40 off-peak, days 1-5 off-peak config)
    Query("compaction_throughput", (s, d) => {
      val mib = 1048576L
      Tools.withTotalOrderTag(Tables.load(s, d, "events"), "user_id", 8)
        .groupBy(col("region"), dayofmonth(col("ts")).cast("bigint").as("day"))
        .agg(count(lit(1)).as("n_files"))
        .withColumn("pressure_ppm",
          greatest(lit(0L), expr("(n_files - 3) * 1000000 div (10 - 3)")))
        .withColumn("unlimited", col("pressure_ppm") >= 1000000L)
        .withColumn("offpeak", col("day") <= 5L)
        .withColumn("throttle_bps",
          when(col("unlimited"), lit(null).cast("long"))
            .when(col("offpeak"), lit(40L * mib))
            .otherwise(lit(10L * mib) +
              expr(s"10 * $mib * pressure_ppm div 1000000")))
        .orderBy("region", "day")
    },
      Oracle("""WITH b AS (SELECT min(user_id) lo, max(user_id) hi FROM events),
        |f AS (SELECT CAST(floor((user_id - lo) * 8 / (hi - lo + 1)) AS BIGINT) AS region,
        |             CAST(day(ts) AS BIGINT) AS day, count(*) AS n_files
        |      FROM events, b GROUP BY 1, 2),
        |p AS (SELECT *, greatest(0, (n_files - 3) * 1000000 // (10 - 3)) AS pressure_ppm
        |      FROM f)
        |SELECT region, day, n_files, pressure_ppm,
        |       pressure_ppm >= 1000000 AS unlimited,
        |       day <= 5 AS offpeak,
        |       CASE WHEN pressure_ppm >= 1000000 THEN NULL
        |            WHEN day <= 5 THEN 40 * 1048576
        |            ELSE 10 * 1048576 + 10 * 1048576 * pressure_ppm // 1000000
        |       END AS throttle_bps
        |FROM p ORDER BY region, day""".stripMargin)),
    // DefaultHeapMemoryTuner direction table: hour-grain workload
    // metrics (blocked flushes = error events, unblocked = purchases,
    // evictions = views, cache misses = clicks; used-fraction fixtures
    // scale with the hour's own volume) classified by the tuner's
    // early-sufficiency checks + rolling mean ± 0.8·dev statistics —
    // integer-exact, no sqrt (see Tools.heapTunerDirections)
    Query("heap_tuner_direction", (s, d) => {
      val stats = Tables.load(s, d, "events")
        .groupBy(date_trunc("HOUR", col("ts")).as("period"))
        .agg(
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("blocked_flush"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("unblocked_flush"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L))
            .as("evict"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("cache_miss"))
        .withColumn("mem_used_ppm",
          least(lit(1000000L),
            (col("blocked_flush") + col("unblocked_flush")) * 120000L))
        .withColumn("cache_used_ppm",
          least(lit(1000000L), (col("evict") + col("cache_miss")) * 90000L))
      Tools.heapTunerDirections(stats).orderBy("period")
    },
      Oracle("""WITH st AS (SELECT date_trunc('hour', ts) AS period,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS blocked_flush,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS unblocked_flush,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS evict,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS cache_miss
        |     FROM events GROUP BY 1),
        |u AS (SELECT *, blocked_flush + unblocked_flush AS flush_total,
        |       least(1000000, (blocked_flush + unblocked_flush) * 120000) AS mem_used_ppm,
        |       least(1000000, (evict + cache_miss) * 90000) AS cache_used_ppm
        |      FROM st),
        |r AS (SELECT *,
        |       count(*) OVER tw AS n,
        |       CAST(sum(flush_total) OVER tw AS BIGINT) AS fs,
        |       CAST(sum(flush_total * flush_total) OVER tw AS BIGINT) AS fq,
        |       CAST(sum(cache_miss) OVER tw AS BIGINT) AS ms,
        |       CAST(sum(cache_miss * cache_miss) OVER tw AS BIGINT) AS mq
        |      FROM u WINDOW tw AS (ORDER BY period ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
        |c AS (SELECT *,
        |       flush_total * n - fs AS fd, cache_miss * n - ms AS md,
        |       n * fq - fs * fs AS fv, n * mq - ms * ms AS mv,
        |       flush_total = 0 OR mem_used_ppm < 500000 AS mem_suff,
        |       evict = 0 OR cache_used_ppm < 500000 AS bc_suff
        |      FROM r)
        |SELECT period, blocked_flush, unblocked_flush, evict, cache_miss,
        |       mem_used_ppm, cache_used_ppm, flush_total,
        |       CASE WHEN mem_suff AND bc_suff THEN 'NEUTRAL'
        |            WHEN mem_suff THEN 'INCREASE_BLOCK_CACHE_SIZE'
        |            WHEN bc_suff THEN 'INCREASE_MEMSTORE_SIZE'
        |            WHEN n < 3 THEN 'NEUTRAL'
        |            WHEN (md < 0 AND 25 * md * md > 16 * mv)
        |             AND (fd < 0 AND 25 * fd * fd > 16 * fv) THEN 'NEUTRAL'
        |            WHEN (md > 0 AND 25 * md * md > 16 * mv)
        |             AND (fd < 0 AND 25 * fd * fd > 16 * fv) THEN 'INCREASE_BLOCK_CACHE_SIZE'
        |            WHEN (md < 0 AND 25 * md * md > 16 * mv)
        |             AND (fd > 0 AND 25 * fd * fd > 16 * fv) THEN 'INCREASE_MEMSTORE_SIZE'
        |            WHEN blocked_flush > 0 THEN 'INCREASE_MEMSTORE_SIZE'
        |            ELSE 'NEUTRAL' END AS direction
        |FROM c ORDER BY period""".stripMargin)),
    // CatalogJanitor split-parent GC (master/CatalogJanitor.java:180
    // scan, :250 cleanParent — a split parent row leaves hbase:meta
    // only after NEITHER daughter still holds reference files to the
    // parent's HFiles): 8 split parents over the order keyspace, each
    // with two daughter half-ranges; a daughter "still references"
    // while its half holds an open order (the compaction that rewrites
    // references away hasn't run) — deletable = both daughters clean.
    // Region-metadata scale: one bucket aggregate, one 16-row join.
    Query("catalog_janitor", (s, d) => {
      val o = Tables.load(s, d, "orders")
      val b = o.agg(min("o_orderkey").as("_lo"), max("o_orderkey").as("_hi"))
      val daughters = o.crossJoin(broadcast(b))
        .withColumn("daughter",
          Tools.totalOrderBucket(col("o_orderkey"), col("_lo"), col("_hi"), 16))
        .groupBy("daughter")
        .agg(sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L))
          .as("open_orders"))
        .withColumn("has_refs", col("open_orders") > 0L)
        .withColumn("parent_id", expr("daughter div 2"))
      daughters.groupBy("parent_id")
        .agg(min("daughter").as("daughter_a"), max("daughter").as("daughter_b"),
          max(when(col("daughter") % 2 === 0, col("has_refs"))).as("refs_a"),
          max(when(col("daughter") % 2 === 1, col("has_refs"))).as("refs_b"))
        .withColumn("deletable", !col("refs_a") && !col("refs_b"))
        .orderBy("parent_id")
    },
      Oracle("""WITH b AS (SELECT min(o_orderkey) lo, max(o_orderkey) hi FROM orders),
        |d AS (SELECT CAST(floor((o_orderkey - lo) * 16 / (hi - lo + 1)) AS BIGINT) AS daughter,
        |             CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
        |               AS open_orders
        |      FROM orders, b GROUP BY 1),
        |h AS (SELECT *, open_orders > 0 AS has_refs, daughter // 2 AS parent_id FROM d)
        |SELECT parent_id, min(daughter) AS daughter_a, max(daughter) AS daughter_b,
        |       max(CASE WHEN daughter % 2 = 0 THEN has_refs END) AS refs_a,
        |       max(CASE WHEN daughter % 2 = 1 THEN has_refs END) AS refs_b,
        |       NOT max(CASE WHEN daughter % 2 = 0 THEN has_refs END)
        |         AND NOT max(CASE WHEN daughter % 2 = 1 THEN has_refs END) AS deletable
        |FROM h GROUP BY 1 ORDER BY parent_id""".stripMargin)),
    // HFile v2 multi-level block index sizing (io/hfile/
    // HFileBlockIndex.java BlockIndexWriter — the index goes
    // multi-level when root entries exceed the chunk budget;
    // io/hfile/HFileWriterV2.java): per region, 64-cell data blocks,
    // fanout-128 index chain (leaf → intermediate → root), index level
    // count and root entry count — the metadata-overhead table behind
    // block-size tuning. Pure integer ceil arithmetic over one count.
    Query("hfile_index_plan", (s, d) => {
      val cells = Tables.eventCells(s, d)
      val b = cells.agg(min("rowkey").as("_lo"), max("rowkey").as("_hi"))
      cells.crossJoin(broadcast(b))
        .withColumn("region",
          Tools.totalOrderBucket(col("rowkey"), col("_lo"), col("_hi"), 8))
        .groupBy("region").agg(count(lit(1)).as("n_cells"))
        .withColumn("data_blocks", expr("(n_cells + 63) div 64"))
        .withColumn("levels", (lit(1L)
          + when(col("data_blocks") > 128L, 1L).otherwise(0L)
          + when(col("data_blocks") > 16384L, 1L).otherwise(0L)))
        .withColumn("leaf_blocks",
          expr("IF(levels >= 2, (data_blocks + 127) div 128, 0)"))
        .withColumn("mid_blocks",
          expr("IF(levels >= 3, (leaf_blocks + 127) div 128, 0)"))
        .withColumn("root_entries", expr(
          "CASE WHEN levels = 1 THEN data_blocks " +
            "WHEN levels = 2 THEN leaf_blocks ELSE mid_blocks END"))
        .orderBy("region")
    },
      Oracle(V + """,
        |b AS (SELECT min(rowkey) lo, max(rowkey) hi FROM vcells),
        |g AS (SELECT CAST(floor((rowkey - lo) * 8 / (hi - lo + 1)) AS BIGINT) AS region,
        |             count(*) AS n_cells
        |      FROM vcells, b GROUP BY 1),
        |d AS (SELECT *, (n_cells + 63) // 64 AS data_blocks FROM g),
        |l AS (SELECT *, 1 + CASE WHEN data_blocks > 128 THEN 1 ELSE 0 END
        |               + CASE WHEN data_blocks > 16384 THEN 1 ELSE 0 END AS levels
        |      FROM d),
        |f AS (SELECT *, CASE WHEN levels >= 2 THEN (data_blocks + 127) // 128 ELSE 0 END
        |               AS leaf_blocks FROM l),
        |m AS (SELECT *, CASE WHEN levels >= 3 THEN (leaf_blocks + 127) // 128 ELSE 0 END
        |               AS mid_blocks FROM f)
        |SELECT region, n_cells, data_blocks, CAST(levels AS BIGINT) AS levels,
        |       leaf_blocks, mid_blocks,
        |       CASE WHEN levels = 1 THEN data_blocks
        |            WHEN levels = 2 THEN leaf_blocks ELSE mid_blocks END AS root_entries
        |FROM m ORDER BY region""".stripMargin)),
    // StochasticLoadBalancer cost table for the SimpleLoadBalancer's
    // own plan: 16 order-key regions dealt to 5 servers in size order
    // (region_balancer's assignment), initial placement bucket mod 5,
    // storefile = price cents, read/write loads split on order status,
    // locality a deterministic per-(region, server) ppm fixture — the
    // candidate-state cost vector the balancer's simulated annealing
    // minimizes
    Query("balancer_stochastic_cost", (s, d) => {
      val grown = Tables.load(s, d, "orders")
      // 16-row region stats feeding the plan join AND every cost
      // function's fork inside stochasticCost — materialized, the
      // corpus scans once instead of 16 times (the scan audit's worst hit)
      val tagged = Tools.materializeMeta(
        Tools.totalOrderBuckets(grown, "o_orderkey", 16,
          Seq(sum(floor(col("o_totalprice") * 100).cast("bigint")).as("storefile"),
            sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("read_req"),
            sum(when(col("o_orderstatus") =!= "O", 1L).otherwise(0L)).as("write_req"))))
      val assigned = Tools.balancerPlan(tagged.select("bucket", "n_rows"), 5)
        .join(tagged, Seq("bucket", "n_rows"))
        .withColumn("init_server", pmod(col("bucket"), lit(5L)))
        .withColumn("locality_ppm",
          pmod(col("bucket") * 31L + col("server") * 17L, lit(100L)) * 10000L)
      Tools.stochasticCost(assigned, 5).orderBy("cost_function")
    },
      Oracle("""WITH b AS (SELECT min(o_orderkey) lo, max(o_orderkey) hi FROM orders),
        |t AS (SELECT CAST(floor((o_orderkey - lo) * 16 / (hi - lo + 1)) AS BIGINT) AS bucket,
        |             count(*) AS n_rows,
        |             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS storefile,
        |             CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS read_req,
        |             CAST(sum(CASE WHEN o_orderstatus <> 'O' THEN 1 ELSE 0 END) AS BIGINT) AS write_req
        |      FROM orders, b GROUP BY 1),
        |a AS (SELECT *, (row_number() OVER (ORDER BY n_rows DESC, bucket) - 1) % 5 AS server
        |      FROM t),
        |r AS (SELECT *, bucket % 5 AS init_server,
        |             ((bucket * 31 + server * 17) % 100) * 10000 AS locality_ppm
        |      FROM a),
        |ps AS (SELECT server, count(*) AS c_regions, CAST(sum(storefile) AS BIGINT) AS c_sf,
        |              CAST(sum(read_req) AS BIGINT) AS c_rr, CAST(sum(write_req) AS BIGINT) AS c_wr
        |       FROM r GROUP BY 1),
        |melt AS (
        |  SELECT 'region_count_skew' AS cost_function, server, c_regions AS stat FROM ps
        |  UNION ALL SELECT 'storefile_size', server, c_sf FROM ps
        |  UNION ALL SELECT 'read_request', server, c_rr FROM ps
        |  UNION ALL SELECT 'write_request', server, c_wr FROM ps),
        |tot AS (SELECT cost_function, CAST(sum(stat) AS BIGINT) AS tt, count(*) AS np
        |        FROM melt GROUP BY 1),
        |sk AS (SELECT m.cost_function, tt, np,
        |              CAST(sum(abs(5 * stat - tt)) AS BIGINT) + (5 - np) * tt AS num,
        |              tt % 5 AS md
        |       FROM melt m JOIN tot USING (cost_function) GROUP BY 1, 2, 3),
        |skc AS (SELECT cost_function,
        |               CASE WHEN 8 * tt <= 2 * md * (5 - md) OR num <= 2 * md * (5 - md) THEN 0
        |                    ELSE least(1000000,
        |                      (num - 2 * md * (5 - md)) * 1000000 // (8 * tt - 2 * md * (5 - md)))
        |               END AS cost_ppm
        |        FROM sk),
        |lc AS (SELECT 'locality' AS cost_function,
        |              CAST(sum(1000000 - locality_ppm) AS BIGINT) // count(*) AS cost_ppm FROM r),
        |mc AS (SELECT 'move' AS cost_function,
        |              CASE WHEN moves > maxm THEN 1000000000000
        |                   ELSE least(1000000, moves * 1000000 // least(n, maxm)) END AS cost_ppm
        |       FROM (SELECT count(*) AS n,
        |                    CAST(sum(CASE WHEN server <> init_server THEN 1 ELSE 0 END) AS BIGINT) AS moves,
        |                    greatest(count(*) * 25 // 100, 600) AS maxm FROM r)),
        |u AS (SELECT * FROM skc UNION ALL SELECT * FROM lc UNION ALL SELECT * FROM mc),
        |w AS (SELECT cost_function, CAST(cost_ppm AS BIGINT) AS cost_ppm,
        |             CAST(CASE cost_function WHEN 'region_count_skew' THEN 500
        |                  WHEN 'move' THEN 7 WHEN 'locality' THEN 25 ELSE 5 END AS BIGINT)
        |               AS multiplier
        |      FROM u)
        |SELECT cost_function, cost_ppm, multiplier,
        |       multiplier * cost_ppm AS weighted_ppm
        |FROM w ORDER BY cost_function""".stripMargin)),
    // BufferedMutator write-path flush plan: 4 client connections
    // (user-id ranges) buffering event edits; 2 KiB write buffer,
    // 30-minute periodic flusher
    Query("buffered_mutator_flush", (s, d) => {
      val ev = Tables.load(s, d, "events")
      val b = ev.agg(min("user_id").as("_lo"), max("user_id").as("_hi"))
      val muts = ev.crossJoin(broadcast(b))
        .select(
          Tools.totalOrderBucket(col("user_id"), col("_lo"), col("_hi"), 4)
            .as("client"),
          col("event_id").as("mut_id"), col("ts"),
          (length(col("event_type")) + lit(32L)).as("bytes"))
      Tools.bufferedMutatorFlush(muts, 2048L, 1800L * 1000000L)
        .orderBy("client", "epoch", "batch")
    },
      Oracle("""WITH b AS (SELECT min(user_id) lo, max(user_id) hi FROM events),
        |m AS (SELECT CAST(floor((user_id - lo) * 4 / (hi - lo + 1)) AS BIGINT) AS client,
        |             event_id AS mut_id, ts, len(event_type) + 32 AS bytes,
        |             epoch_us(ts) AS us
        |      FROM events, b),
        |e AS (SELECT *, CASE WHEN us - lag(us) OVER w IS NULL
        |                       OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS brk
        |      FROM m WINDOW w AS (PARTITION BY client ORDER BY ts, mut_id)),
        |e2 AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY client ORDER BY ts, mut_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS epoch
        |       FROM e),
        |c AS (SELECT *, CAST(sum(bytes) OVER (PARTITION BY client, epoch ORDER BY ts, mut_id
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
        |      FROM e2),
        |g AS (SELECT client, epoch, (cum - bytes) // 2048 AS batch, count(*) AS n_mutations,
        |             CAST(sum(bytes) AS BIGINT) AS bytes, min(ts) AS first_ts, max(ts) AS last_ts
        |      FROM c GROUP BY 1, 2, 3),
        |f AS (SELECT *, max(batch) OVER (PARTITION BY client, epoch) AS maxb,
        |             max(epoch) OVER (PARTITION BY client) AS maxe FROM g)
        |SELECT client, epoch, batch, n_mutations, bytes, first_ts, last_ts,
        |       CASE WHEN batch < maxb THEN 'size'
        |            WHEN epoch < maxe THEN 'timer' ELSE 'end' END AS closed_by
        |FROM f ORDER BY client, epoch, batch""".stripMargin)),
    // DelimitedKeyPrefixRegionSplitPolicy (regionserver/
    // DelimitedKeyPrefixRegionSplitPolicy.java:66 getSplitPoint —
    // truncate the mid key at the first delimiter so no prefix group
    // ever straddles a split): flat string rowkeys
    // u<user>_<type>_<event>, 8 regions, median row key per region,
    // split point = prefix before the first '_'. The rank window runs
    // per region partition (a region's own rows — the same per-region
    // bound as the reference's single-HFile midkey walk).
    Query("split_policy_delimited", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.load(s, d, "events")
      val b = ev.agg(min("user_id").as("_lo"), max("user_id").as("_hi"))
      val keyed = ev.crossJoin(broadcast(b))
        .select(
          Tools.totalOrderBucket(col("user_id"), col("_lo"), col("_hi"), 8)
            .as("region"),
          concat(lit("u"), lpad(col("user_id").cast("string"), 8, "0"),
            lit("_"), col("event_type"), lit("_"),
            col("event_id").cast("string")).as("rowkey"))
      val w = Window.partitionBy("region").orderBy("rowkey")
      keyed
        .withColumn("_rn", row_number().over(w))
        .withColumn("_n", count(lit(1)).over(Window.partitionBy("region")))
        .where(col("_rn") === expr("(_n + 1) div 2"))
        .select(col("region"), col("_n").as("n_rows"),
          col("rowkey").as("split_key"),
          substring_index(col("rowkey"), "_", 1).as("split_point"))
        .orderBy("region")
    },
      Oracle("""WITH b AS (SELECT min(user_id) lo, max(user_id) hi FROM events),
        |k AS (SELECT CAST(floor((user_id - lo) * 8 / (hi - lo + 1)) AS BIGINT) AS region,
        |             'u' || lpad(CAST(user_id AS VARCHAR), 8, '0') || '_' || event_type
        |               || '_' || CAST(event_id AS VARCHAR) AS rowkey
        |      FROM events, b),
        |r AS (SELECT *, row_number() OVER (PARTITION BY region ORDER BY rowkey) AS rn,
        |             count(*) OVER (PARTITION BY region) AS n FROM k)
        |SELECT region, n AS n_rows, rowkey AS split_key,
        |       split_part(rowkey, '_', 1) AS split_point
        |FROM r WHERE rn = (n + 1) // 2 ORDER BY region""".stripMargin)),
    // RpcServer responseTooSlow audit (ipc/RpcServer.java:2334
    // logResponse — the (processingTime > warnResponseTime) slow-log):
    // per method, request count, slow count over the 200 ms line, max
    // and exact discrete p50/p99 processing micros on the
    // groupQuantiles machinery
    Query("slow_request_log", (s, d) => {
      val ev = Tables.load(s, d, "events")
        .select(col("event_type").as("method"), col("event_id"),
          floor(col("value") * 1000).cast("bigint").as("proc_us"))
      val agg = ev.groupBy("method").agg(count(lit(1)).as("n_req"),
        sum(when(col("proc_us") > 200000L, 1L).otherwise(0L)).as("n_slow"),
        max("proc_us").as("max_us"))
      agg.join(
          Tools.groupQuantiles(ev, "method", "proc_us", "event_id", Seq(50, 99)),
          "method")
        .orderBy("method")
    },
      Oracle("""WITH e AS (SELECT event_type AS method, event_id,
        |                  CAST(floor(value * 1000) AS BIGINT) AS proc_us FROM events),
        |a AS (SELECT method, count(*) AS n_req,
        |             CAST(sum(CASE WHEN proc_us > 200000 THEN 1 ELSE 0 END) AS BIGINT) AS n_slow,
        |             max(proc_us) AS max_us FROM e GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (PARTITION BY method ORDER BY proc_us, event_id) AS rn,
        |             count(*) OVER (PARTITION BY method) AS n FROM e),
        |q AS (SELECT method,
        |             max(CASE WHEN rn = (50 * n + 99) // 100 THEN proc_us END) AS p50,
        |             max(CASE WHEN rn = (99 * n + 99) // 100 THEN proc_us END) AS p99
        |      FROM r GROUP BY 1)
        |SELECT a.method, n_req, n_slow, max_us, p50, p99
        |FROM a JOIN q USING (method) ORDER BY method""".stripMargin)),
    // GroupBasedLoadBalancer (hbase-server/.../group/
    // GroupBasedLoadBalancer.java:113-210, the HBASE-6721 rsgroup
    // surface): tables pin to a named server group; balanceCluster
    // first CORRECTS assignments (a region hosted outside its table's
    // group is misplaced and must move — :172 getMisplacedRegions),
    // then balances WITHIN each group independently (:133). Two tables
    // — orders → 16 regions in group g0 = servers 0-2, customer → 8
    // regions in g1 = servers 3-4; the current placement is the
    // group-BLIND round-robin deal (what a grouping-unaware balancer
    // leaves behind), so a fixed fraction of each table's regions sit
    // on foreign servers. dest_server = the within-group size-ranked
    // round-robin deal — the same SimpleLoadBalancer shape
    // region_balancer verifies, scoped to the group's servers. Every
    // window ranks ≤24 region-metadata rows; the data tables are
    // touched only by the two bucket aggregates.
    Query("rsgroup_balance", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // region metadata (16 + 8 rows) under three ranking forks —
      // materialized so each table scans once (scan audit)
      val ordersR = Tools.materializeMeta(
        Tools.totalOrderBuckets(Tables.load(s, d, "orders"), "o_orderkey", 16)
          .select(lit("t_orders").as("table_name"), col("bucket"), col("n_rows")))
      val custR = Tools.materializeMeta(
        Tools.totalOrderBuckets(Tables.load(s, d, "customer"), "c_custkey", 8)
          .select(lit("t_customer").as("table_name"), col("bucket"), col("n_rows")))
      val tie = Seq(col("n_rows").desc, col("table_name"), col("bucket"))
      val wAll = Window.orderBy(tie: _*)
      val wGrp = Window.partitionBy("grp").orderBy(tie: _*)
      ordersR.unionByName(custR)
        .withColumn("grp",
          when(col("table_name") === "t_orders", "g0").otherwise("g1"))
        .withColumn("cur_server",
          pmod(row_number().over(wAll) - 1, lit(5)).cast("int"))
        .withColumn("misplaced",
          when(col("grp") === "g0", col("cur_server") >= 3)
            .otherwise(col("cur_server") < 3))
        .withColumn("dest_server",
          when(col("grp") === "g0", pmod(row_number().over(wGrp) - 1, lit(3)))
            .otherwise(pmod(row_number().over(wGrp) - 1, lit(2)) + 3)
            .cast("int"))
        .select("table_name", "bucket", "n_rows", "grp", "cur_server",
          "misplaced", "dest_server")
        .orderBy("table_name", "bucket")
    },
      Oracle("""WITH o AS (SELECT o_orderkey AS k FROM orders),
        |ob AS (SELECT min(k) AS lo, max(k) AS hi FROM o),
        |orx AS (SELECT 't_orders' AS table_name,
        |               CAST(floor((k - lo) * 16 / (hi - lo + 1)) AS BIGINT) AS bucket,
        |               count(*) AS n_rows FROM o, ob GROUP BY 1, 2),
        |c AS (SELECT c_custkey AS k FROM customer),
        |cb AS (SELECT min(k) AS lo, max(k) AS hi FROM c),
        |crx AS (SELECT 't_customer' AS table_name,
        |               CAST(floor((k - lo) * 8 / (hi - lo + 1)) AS BIGINT) AS bucket,
        |               count(*) AS n_rows FROM c, cb GROUP BY 1, 2),
        |r AS (SELECT * FROM orx UNION ALL SELECT * FROM crx),
        |w AS (SELECT *,
        |        CASE WHEN table_name = 't_orders' THEN 'g0' ELSE 'g1' END AS grp,
        |        row_number() OVER (ORDER BY n_rows DESC, table_name, bucket) AS rn_all,
        |        row_number() OVER (PARTITION BY table_name = 't_orders'
        |                           ORDER BY n_rows DESC, table_name, bucket) AS rn_grp
        |      FROM r)
        |SELECT table_name, bucket, n_rows, grp,
        |       CAST((rn_all - 1) % 5 AS INT) AS cur_server,
        |       CASE WHEN grp = 'g0' THEN (rn_all - 1) % 5 >= 3
        |            ELSE (rn_all - 1) % 5 < 3 END AS misplaced,
        |       CAST(CASE WHEN grp = 'g0' THEN (rn_grp - 1) % 3
        |                 ELSE (rn_grp - 1) % 2 + 3 END AS INT) AS dest_server
        |FROM w ORDER BY table_name, bucket""".stripMargin)),
    // FavoredNodeAssignmentHelper (hbase-server/.../master/balancer/
    // FavoredNodeAssignmentHelper.java:190-264): each region gets
    // THREE favored nodes — the primary dealt round-robin across
    // racks one server per rack at a time (:190-198), and a
    // secondary + tertiary PAIR placed together on a rack different
    // from the primary's (:257-264, placeSecondaryAndTertiaryRS).
    // Deterministic re-expression over 6 servers on 3 racks (rack =
    // server div 2): region rank idx deals primary = rack(idx mod 3),
    // in-rack slot (idx div 3) mod 2; the pair lands on the NEXT rack
    // cyclically, filling both its slots. The constraint the layout
    // exists for — 3 distinct servers, pair-rack ≠ primary-rack, so
    // one rack failure never loses 2 replicas — is spec-asserted;
    // the oracle recomputes the whole arithmetic. Windows rank 16
    // region-metadata rows only.
    Query("favored_nodes", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.orderBy("bucket")
      Tools.totalOrderBuckets(Tables.load(s, d, "orders"), "o_orderkey", 16)
        .withColumn("_idx", row_number().over(w) - 1)
        .withColumn("_prack", pmod(col("_idx"), lit(3)))
        .withColumn("_slot", pmod(expr("_idx div 3"), lit(2)))
        .withColumn("_srack", pmod(col("_prack") + 1, lit(3)))
        .select(col("bucket"), col("n_rows"),
          (col("_prack") * 2 + col("_slot")).cast("int").as("primary_server"),
          (col("_srack") * 2).cast("int").as("secondary_server"),
          (col("_srack") * 2 + 1).cast("int").as("tertiary_server"))
        .orderBy("bucket")
    },
      Oracle("""WITH o AS (SELECT o_orderkey AS k FROM orders),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM o),
        |st AS (SELECT CAST(floor((k - lo) * 16 / (hi - lo + 1)) AS BIGINT) AS bucket,
        |              count(*) AS n_rows FROM o, b GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY bucket) - 1 AS idx FROM st)
        |SELECT bucket, n_rows,
        |       CAST((idx % 3) * 2 + (idx // 3) % 2 AS INT) AS primary_server,
        |       CAST(((idx % 3 + 1) % 3) * 2 AS INT) AS secondary_server,
        |       CAST(((idx % 3 + 1) % 3) * 2 + 1 AS INT) AS tertiary_server
        |FROM r ORDER BY bucket""".stripMargin)),
    // ProcedureStore WAL replay (hbase-procedure/.../ProcedureExecutor
    // .java load() + RootProcedureState.java): the master rebuilds
    // procedure state from the append-only store — the LATEST entry
    // per procedure wins — then links procedures to their root: a
    // root chain completes only when every member succeeded, and ANY
    // rolled-back member forces the whole chain into rollback
    // (RootProcedureState.isValid/setRollback — partial chains must
    // never half-commit). Events synthesize the store: proc =
    // event_id div 4 (each proc's entries are its 4 events, seq =
    // event_id), entry state from event_type (error → ROLLEDBACK,
    // purchase → SUCCESS, else RUNNABLE); roots own the 5-proc block
    // proc_id div 5. One max-struct aggregate (latest entry, seq is
    // unique so the struct max is total) + one root rollup — two key
    // shuffles, both linear, state bounded by proc count.
    Query("procedure_replay", (s, d) => {
      val wal = Tables.load(s, d, "events")
        .select(expr("event_id div 4").as("proc_id"),
          col("event_id").as("seq"),
          when(col("event_type") === "error", "ROLLEDBACK")
            .when(col("event_type") === "purchase", "SUCCESS")
            .otherwise("RUNNABLE").as("state"))
      Tools.procedureReplay(wal, expr("proc_id div 5")).orderBy("root_id")
    },
      Oracle("""WITH wal AS (SELECT event_id // 4 AS proc_id, event_id AS seq,
        |                    CASE WHEN event_type = 'error' THEN 'ROLLEDBACK'
        |                         WHEN event_type = 'purchase' THEN 'SUCCESS'
        |                         ELSE 'RUNNABLE' END AS state
        |             FROM events),
        |latest AS (SELECT proc_id, max_by(state, seq) AS state,
        |                  max(seq) AS last_seq
        |           FROM wal GROUP BY 1)
        |SELECT proc_id // 5 AS root_id, count(*) AS n_procs,
        |       CAST(sum(CASE WHEN state = 'SUCCESS' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_success,
        |       CAST(sum(CASE WHEN state = 'ROLLEDBACK' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_rolledback,
        |       max(last_seq) AS max_seq,
        |       CASE WHEN sum(CASE WHEN state = 'ROLLEDBACK' THEN 1 ELSE 0 END) > 0
        |              THEN 'ROLLBACK'
        |            WHEN sum(CASE WHEN state = 'SUCCESS' THEN 1 ELSE 0 END) = count(*)
        |              THEN 'SUCCESS'
        |            ELSE 'WAITING' END AS root_state
        |FROM latest GROUP BY 1 ORDER BY root_id""".stripMargin)),
    // MultiTableOutputFormat (hbase-server/.../mapreduce/
    // MultiTableOutputFormat.java — write() routes each mutation to
    // the table named in the output KEY): one job fans the event
    // stream out to one table per event_type in a SINGLE pass —
    // write.partitionBy IS the routed multi-table commit, each
    // table's rows landing in its own directory with no per-table
    // re-scan of the source. The audit then reads every produced
    // table back (independent pruned directory reads) and reports
    // per-table row count, key range and a cents checksum the oracle
    // recomputes straight from the source — routing lost or
    // duplicated nothing.
    Query("multi_table_write", (s, d) => {
      val path = graft.core.Indexes.ensure(s, d, "mtw_events") { target =>
        Tables.load(s, d, "events")
          .withColumn("table_name", col("event_type"))
          .write.partitionBy("table_name").mode("overwrite").parquet(target)
      }
      graft.core.Layout.read(s, path)
        .groupBy("table_name")
        .agg(count(lit(1)).as("n_rows"),
          min("event_id").as("min_key"), max("event_id").as("max_key"),
          sum(floor(col("value") * 100).cast("bigint")).as("cents_sum"))
        .orderBy("table_name")
    },
      Oracle("""SELECT event_type AS table_name, count(*) AS n_rows,
        |       min(event_id) AS min_key, max(event_id) AS max_key,
        |       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents_sum
        |FROM events GROUP BY 1 ORDER BY table_name""".stripMargin)),
    // HFilePrettyPrinter -printstats (io/hfile/HFilePrettyPrinter
    // .java:334, :478 KeyValueStatsCollector): the store-file audit
    // tool — cell count, key/value bytes, per-row byte and column
    // footprints, and the biggest row. Per region (16 total-order
    // buckets over the customer cell store, each region standing for
    // one store file): cells collapse to per-row footprints in one
    // hash aggregate (row_bytes models KeyValue.length as
    // key+value+8 fixed overhead), then the region rollup;
    // biggest_row = struct-max (bytes, rowkey) so ties resolve
    // deterministically to the largest key — the collector's
    // last-row-wins made order-free. Two linear shuffles, no windows.
    Query("hfile_stats", (s, d) => {
      val cells = Tables.customerCells(s, d)
        .withColumn("key_len", length(col("rowkey")) + length(col("qualifier")))
        .withColumn("val_len", length(col("value")))
      val b = cells.agg(min(col("rowkey").cast("bigint")).as("_lo"),
        max(col("rowkey").cast("bigint")).as("_hi"))
      val rows = cells.crossJoin(broadcast(b))
        .withColumn("region", Tools.totalOrderBucket(
          col("rowkey").cast("bigint"), col("_lo"), col("_hi"), 16))
        .groupBy("region", "rowkey")
        .agg(sum(col("key_len") + col("val_len") + 8).as("row_bytes"),
          count(lit(1)).as("row_cols"),
          sum("key_len").as("_kl"), sum("val_len").as("_vl"))
      rows.groupBy("region")
        .agg(count(lit(1)).as("n_rows"), sum("row_cols").as("n_cells"),
          sum("_kl").as("key_bytes"), sum("_vl").as("val_bytes"),
          expr("sum(row_bytes) div count(*)").as("avg_row_bytes"),
          max("row_bytes").as("max_row_bytes"),
          max(struct(col("row_bytes"), col("rowkey"))).as("_big"),
          max("row_cols").as("max_row_cols"))
        .select(col("region"), col("n_rows"), col("n_cells"),
          col("key_bytes"), col("val_bytes"), col("avg_row_bytes"),
          col("max_row_bytes"), col("_big.rowkey").as("biggest_row"),
          col("max_row_cols"))
        .orderBy("region")
    },
      Oracle(C +
      """, r AS (SELECT rowkey,
        |               length(rowkey) + length(qualifier) AS key_len,
        |               length(value) AS val_len FROM cells),
        |b AS (SELECT min(CAST(rowkey AS BIGINT)) AS lo,
        |             max(CAST(rowkey AS BIGINT)) AS hi FROM cells),
        |rws AS (SELECT CAST(floor((CAST(rowkey AS BIGINT) - lo) * 16
        |                          / (hi - lo + 1)) AS BIGINT) AS region,
        |               rowkey,
        |               CAST(sum(key_len + val_len + 8) AS BIGINT) AS row_bytes,
        |               count(*) AS row_cols,
        |               CAST(sum(key_len) AS BIGINT) AS kl,
        |               CAST(sum(val_len) AS BIGINT) AS vl
        |        FROM r, b GROUP BY 1, 2)
        |SELECT region, count(*) AS n_rows,
        |       CAST(sum(row_cols) AS BIGINT) AS n_cells,
        |       CAST(sum(kl) AS BIGINT) AS key_bytes,
        |       CAST(sum(vl) AS BIGINT) AS val_bytes,
        |       CAST(sum(row_bytes) AS BIGINT) // count(*) AS avg_row_bytes,
        |       max(row_bytes) AS max_row_bytes,
        |       (max(struct_pack(row_bytes := row_bytes, rowkey := rowkey))).rowkey
        |         AS biggest_row,
        |       max(row_cols) AS max_row_cols
        |FROM rws GROUP BY 1 ORDER BY region""".stripMargin)),
    // JvmPauseMonitor (util/JvmPauseMonitor.java:55-166): the GC/host
    // pause detector every HBase daemon runs — a 500 ms heartbeat
    // loop; extraSleepTime = observed gap − 500, logged INFO past
    // 1000 ms and WARN past 10000 ms (:61, :67 defaults). Events
    // synthesize per-server heartbeat streams (server = user_id mod
    // 4, beats at event ts): one lag() window PER SERVER (4 bounded
    // partitions of the time-ordered series — the monitor's own
    // per-process grain), then a per-server rollup of pause counts
    // and totals. The first beat of each server has no gap and is
    // excluded, exactly as the monitor's first sleep is.
    Query("jvm_pause_monitor", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("server").orderBy("ts_ms", "event_id")
      Tables.load(s, d, "events")
        .select(pmod(col("user_id"), lit(4)).as("server"),
          expr("unix_micros(ts) div 1000").as("ts_ms"),
          col("event_id"))
        .withColumn("_prev", lag("ts_ms", 1).over(w))
        .withColumn("extra_ms",
          col("ts_ms") - col("_prev") - 500L)
        .where(col("_prev").isNotNull)
        .groupBy("server")
        .agg(count(lit(1)).as("n_intervals"),
          sum(when(col("extra_ms") > 10000L, 1L).otherwise(0L)).as("n_warn"),
          sum(when(col("extra_ms") > 1000L && col("extra_ms") <= 10000L, 1L)
            .otherwise(0L)).as("n_info"),
          max("extra_ms").as("max_pause_ms"),
          sum(when(col("extra_ms") > 0L, col("extra_ms")).otherwise(0L))
            .as("total_pause_ms"))
        .orderBy("server")
    },
      Oracle("""WITH hb AS (SELECT user_id % 4 AS server, epoch_us(ts) // 1000 AS ts_ms,
        |                   event_id FROM events),
        |g AS (SELECT server, ts_ms
        |             - lag(ts_ms) OVER (PARTITION BY server
        |                                ORDER BY ts_ms, event_id) - 500 AS extra_ms
        |      FROM hb)
        |SELECT server, count(*) AS n_intervals,
        |       CAST(sum(CASE WHEN extra_ms > 10000 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_warn,
        |       CAST(sum(CASE WHEN extra_ms > 1000 AND extra_ms <= 10000
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_info,
        |       max(extra_ms) AS max_pause_ms,
        |       CAST(sum(CASE WHEN extra_ms > 0 THEN extra_ms ELSE 0 END) AS BIGINT)
        |         AS total_pause_ms
        |FROM g WHERE extra_ms IS NOT NULL GROUP BY 1 ORDER BY server""".stripMargin)),
    // WALPlayer bulk-HFile mode (mapreduce/WALPlayer.java:92
    // WALKeyValueMapper → KeyValueSortReducer → HFileOutputFormat2):
    // instead of replaying edits against a live table, the tool turns
    // one table's WAL slice into REGION-PARTITIONED, KEY-SORTED HFiles
    // ready for completebulkload — all cells including delete markers
    // ship (only METAFAMILY edits skip; masking happens at read, not
    // here). Re-expression: the event-cell WAL slice physically lands
    // region-partitioned and key-sorted (one shuffle on the region
    // tag + sortWithinPartitions = the sort reducer); the audit reads
    // the bulk output BACK and rolls up per region file — cells,
    // delete markers, key range, seq range — which the oracle
    // recomputes from the raw edits: nothing lost, nothing in the
    // wrong region file. In-file key order is spec-asserted.
    Query("wal_player_bulk", (s, d) => {
      graft.core.Layout.read(s, walpBulkLayout(s, d))
        .groupBy(col("region").cast("bigint").as("region"))
        .agg(count(lit(1)).as("n_cells"),
          sum(when(col("op") === "delete", 1L).otherwise(0L)).as("n_deletes"),
          min("rowkey").as("first_key"), max("rowkey").as("last_key"),
          min("event_id").as("first_seq"), max("event_id").as("last_seq"))
        .orderBy("region")
    },
      Oracle(V +
      """, ed AS (SELECT rowkey, event_id,
        |                CASE WHEN event_id % 7 = 0 THEN 'delete' ELSE 'put' END AS op
        |          FROM vcells),
        |b AS (SELECT min(rowkey) AS lo, max(rowkey) AS hi FROM ed)
        |SELECT CAST(floor((rowkey - lo) * 8 / (hi - lo + 1)) AS BIGINT) AS region,
        |       count(*) AS n_cells,
        |       CAST(sum(CASE WHEN op = 'delete' THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_deletes,
        |       min(rowkey) AS first_key, max(rowkey) AS last_key,
        |       min(event_id) AS first_seq, max(event_id) AS last_seq
        |FROM ed, b GROUP BY 1 ORDER BY region""".stripMargin)),
    // WALPrettyPrinter's -r/--region option (WALPrettyPrinter.java:74,
    // the region-scoped sibling of wal_inspect's row view): every edit
    // of ONE region out of the region-partitioned bulk layout — the
    // partition column is the pruning handle, so the read touches only
    // region 5's directory (PartitionFilters, plan-asserted), exactly
    // the one-region file a WAL debugger opens.
    Query("wal_inspect_region", (s, d) =>
      graft.core.Layout.read(s, walpBulkLayout(s, d))
        .where(col("region") === 5)
        .select(col("event_id").as("seq"), col("rowkey"), col("qualifier"),
          col("ts"), col("op"),
          floor(col("value") * 100).cast("bigint").as("value_cents"))
        .orderBy("seq"),
      Oracle(V +
      """, ed AS (SELECT rowkey, qualifier, ts, value, event_id,
        |                CASE WHEN event_id % 7 = 0 THEN 'delete' ELSE 'put' END AS op
        |          FROM vcells),
        |b AS (SELECT min(rowkey) AS lo, max(rowkey) AS hi FROM ed)
        |SELECT event_id AS seq, rowkey, qualifier, ts, op,
        |       CAST(floor(value * 100) AS BIGINT) AS value_cents
        |FROM ed, b
        |WHERE CAST(floor((rowkey - lo) * 8 / (hi - lo + 1)) AS BIGINT) = 5
        |ORDER BY seq""".stripMargin)),
    // Regions-in-transition audit (master/RegionStates.java:72
    // regionsInTransition + client/.../master/RegionState.java:41-56
    // state machine): the master's RIT board — a region's CURRENT
    // state is its LATEST transition, "in transition" = any state
    // that isn't a settled OPEN, and the operator alarm is a region
    // STUCK in transition (the ritOldestAge metric every HBase
    // dashboard graphs). Events synthesize the transition log (region
    // = user_id mod 16; event_type → state); latest transition by one
    // max-struct aggregate (ts, event_id makes it total), age against
    // the corpus horizon (1-row broadcast), stuck = in transition
    // for > 24 h. One linear shuffle.
    Query("rit_audit", (s, d) => {
      val trans = Tables.load(s, d, "events")
        .select(pmod(col("user_id"), lit(16)).as("region"),
          col("ts"), col("event_id"),
          when(col("event_type") === "signup", "PENDING_OPEN")
            .when(col("event_type") === "view", "OPENING")
            .when(col("event_type") === "click", "OPEN")
            .when(col("event_type") === "purchase", "CLOSING")
            .otherwise("FAILED_OPEN").as("state"))
      val horizon = trans.agg(max("ts").as("_now"))
      trans.groupBy("region")
        .agg(max(struct(col("ts"), col("event_id"), col("state"))).as("_c"),
          count(lit(1)).as("n_transitions"))
        .crossJoin(broadcast(horizon))
        .select(col("region"), col("n_transitions"),
          col("_c.state").as("state"), col("_c.ts").as("since_ts"),
          (unix_timestamp(col("_now")) - unix_timestamp(col("_c.ts")))
            .as("age_s"),
          (col("_c.state") =!= "OPEN").as("in_transition"),
          (col("_c.state") =!= "OPEN" &&
            unix_timestamp(col("_now")) - unix_timestamp(col("_c.ts")) >
              86400L).as("stuck"))
        .orderBy("region")
    },
      Oracle("""WITH t AS (SELECT user_id % 16 AS region, ts, event_id,
        |                  CASE event_type WHEN 'signup' THEN 'PENDING_OPEN'
        |                                  WHEN 'view' THEN 'OPENING'
        |                                  WHEN 'click' THEN 'OPEN'
        |                                  WHEN 'purchase' THEN 'CLOSING'
        |                                  ELSE 'FAILED_OPEN' END AS state
        |           FROM events),
        |h AS (SELECT max(ts) AS now FROM t),
        |c AS (SELECT region, count(*) AS n_transitions,
        |             (max(struct_pack(ts := ts, event_id := event_id,
        |                              state := state))).state AS state,
        |             (max(struct_pack(ts := ts, event_id := event_id,
        |                              state := state))).ts AS since_ts
        |      FROM t GROUP BY 1)
        |SELECT region, n_transitions, state, since_ts,
        |       CAST(floor(epoch(now)) AS BIGINT)
        |         - CAST(floor(epoch(since_ts)) AS BIGINT) AS age_s,
        |       state <> 'OPEN' AS in_transition,
        |       state <> 'OPEN' AND CAST(floor(epoch(now)) AS BIGINT)
        |         - CAST(floor(epoch(since_ts)) AS BIGINT) > 86400 AS stuck
        |FROM c, h ORDER BY region""".stripMargin)),
    // modifyTable descriptor-diff impact over the two-family event
    // cells: web tightens TTL 30→14 days, cuts versions 3→1 and
    // switches encoding (full rewrite + newly-expired + newly-dropped
    // counts all nonzero); act changes only blocksize (pure rewrite);
    // tmp is dropped (no data — zero-footprint DROP row); meta is
    // added (ADD row, nothing to touch). schema_sanity gates the NEW
    // descriptor, this query prices applying it.
    Query("alter_table_plan", (s, d) => {
      import s.implicits._
      val oldP = Seq(("web", 30L, 3, "NONE", 65536L),
          ("act", 60L, 5, "PREFIX", 65536L),
          ("tmp", 7L, 1, "NONE", 65536L))
        .toDF("family", "ttl_days", "max_versions", "encoding", "blocksize_b")
      val newP = Seq(("web", 14L, 1, "PREFIX", 65536L),
          ("act", 60L, 5, "PREFIX", 32768L),
          ("meta", 365L, 3, "NONE", 65536L))
        .toDF("family", "ttl_days", "max_versions", "encoding", "blocksize_b")
      Tools.alterTablePlan(Tables.eventCellsTwoFamilies(s, d), oldP, newP)
        .orderBy("family")
    },
      Oracle("WITH " + Tables.eventCellsTwoFamiliesSql + """,
        |op(family, ttl_old, mv_old, enc_old, bs_old) AS (
        |  VALUES ('web', 30, 3, 'NONE', 65536),
        |         ('act', 60, 5, 'PREFIX', 65536),
        |         ('tmp', 7, 1, 'NONE', 65536)),
        |np(family, ttl_new, mv_new, enc_new, bs_new) AS (
        |  VALUES ('web', 14, 1, 'PREFIX', 65536),
        |         ('act', 60, 5, 'PREFIX', 32768),
        |         ('meta', 365, 3, 'NONE', 65536)),
        |d AS (SELECT coalesce(op.family, np.family) AS family,
        |             ttl_old, ttl_new, mv_old, mv_new,
        |             CASE WHEN op.family IS NULL THEN 'ADD_FAMILY'
        |                  WHEN np.family IS NULL THEN 'DROP_FAMILY'
        |                  WHEN ttl_old IS DISTINCT FROM ttl_new
        |                    OR mv_old IS DISTINCT FROM mv_new
        |                    OR enc_old IS DISTINCT FROM enc_new
        |                    OR bs_old IS DISTINCT FROM bs_new
        |                    THEN 'MODIFY'
        |                  ELSE 'NONE' END AS action,
        |             (op.family IS NOT NULL AND np.family IS NOT NULL
        |               AND enc_old IS DISTINCT FROM enc_new) AS encoding_changed,
        |             (op.family IS NOT NULL AND np.family IS NOT NULL
        |               AND bs_old IS DISTINCT FROM bs_new) AS blocksize_changed
        |      FROM op FULL OUTER JOIN np ON op.family = np.family),
        |nw AS (SELECT epoch_us(max(ts)) AS now_us FROM vcells2),
        |rk AS (SELECT family, qualifier, epoch_us(ts) AS ts_us,
        |              row_number() OVER (PARTITION BY family, rowkey, qualifier
        |                                 ORDER BY ts DESC, event_id DESC) AS vrank
        |       FROM vcells2),
        |ft AS (SELECT rk.family, count(*) AS n_cells,
        |              CAST(sum(8 + length(qualifier)) AS BIGINT) AS n_bytes,
        |              CAST(sum(CASE WHEN ttl_new IS NOT NULL
        |                             AND now_us - ts_us > ttl_new * 86400000000
        |                             AND (ttl_old IS NULL
        |                                  OR now_us - ts_us <= ttl_old * 86400000000)
        |                            THEN 1 ELSE 0 END) AS BIGINT) AS newly_expired,
        |              CAST(sum(CASE WHEN mv_new IS NOT NULL AND vrank > mv_new
        |                             AND (mv_old IS NULL OR vrank <= mv_old)
        |                            THEN 1 ELSE 0 END) AS BIGINT)
        |                AS newly_dropped_versions
        |       FROM rk JOIN d ON rk.family = d.family, nw GROUP BY 1)
        |SELECT d.family, d.action,
        |       CAST(ttl_old AS BIGINT) AS ttl_old,
        |       CAST(ttl_new AS BIGINT) AS ttl_new,
        |       CAST(mv_old AS INT) AS mv_old, CAST(mv_new AS INT) AS mv_new,
        |       encoding_changed, blocksize_changed,
        |       coalesce(n_cells, 0) AS n_cells,
        |       coalesce(newly_expired, 0) AS newly_expired,
        |       coalesce(newly_dropped_versions, 0) AS newly_dropped_versions,
        |       CASE WHEN d.action = 'DROP_FAMILY' OR encoding_changed
        |              OR blocksize_changed THEN coalesce(n_bytes, 0)
        |            ELSE 0 END AS rewrite_bytes
        |FROM d LEFT JOIN ft ON d.family = ft.family
        |ORDER BY d.family""".stripMargin)),
    // Table-descriptor sanity check (master/HMaster.java:1610
    // sanityCheckTableDescriptor — the gate every createTable/
    // modifyTable RPC passes): the portable rule subset as pure
    // arithmetic — MAX_FILESIZE ≥ 2 MiB (:1622, over-splitting),
    // MEMSTORE_FLUSHSIZE ≥ 1 MiB (:1636, flush storms), CF TTL > 0,
    // block size in [1 KiB, 16 MiB] (:1687), minVersions ≥ 0 and
    // ≤ maxVersions (HBASE-13776), replication scope ≥ 0 (class-
    // loading/compression checks are JVM-environment, out of scope).
    // Descriptors synthesize per part brand (25 tables) with stats
    // chosen so both outcomes occur; one aggregate + one codegen
    // rule projection.
    Query("schema_sanity", (s, d) => {
      val htd = Tables.load(s, d, "part")
        .withColumn("_cents", floor(col("p_retailprice") * 100).cast("bigint"))
        .groupBy(col("p_brand").as("table_name"))
        .agg(max("_cents").as("_maxc"), min("_cents").as("_minc"),
          min("p_size").as("_minsz"), count(lit(1)).as("_n"))
        .select(col("table_name"),
          (col("_maxc") * 23).as("max_filesize_b"),
          (col("_minc") * 12).as("flush_b"),
          col("_minsz").cast("bigint").as("ttl_s"),
          (col("_minsz") * 2048).cast("bigint").as("blocksize_b"),
          (pmod(col("_n"), lit(4)) - 1).cast("int").as("min_versions"),
          lit(3).as("max_versions"),
          pmod(col("_n"), lit(2)).cast("int").as("scope"))
      htd.select(col("table_name"),
          (col("max_filesize_b") < 2097152L).as("v_max_filesize"),
          (col("flush_b") < 1048576L).as("v_flush_size"),
          (col("ttl_s") <= 0L).as("v_ttl"),
          (col("blocksize_b") < 1024L || col("blocksize_b") > 16777216L)
            .as("v_blocksize"),
          (col("min_versions") < 0).as("v_min_versions"),
          (col("min_versions") > col("max_versions")).as("v_version_order"),
          (col("scope") < 0).as("v_scope"))
        .withColumn("n_violations",
          Seq("v_max_filesize", "v_flush_size", "v_ttl", "v_blocksize",
            "v_min_versions", "v_version_order", "v_scope")
            .map(c => when(col(c), 1L).otherwise(0L)).reduce(_ + _))
        .withColumn("valid", col("n_violations") === 0L)
        .orderBy("table_name")
    },
      Oracle("""WITH htd AS (SELECT p_brand AS table_name,
        |  max(CAST(floor(p_retailprice * 100) AS BIGINT)) * 23 AS max_filesize_b,
        |  min(CAST(floor(p_retailprice * 100) AS BIGINT)) * 12 AS flush_b,
        |  CAST(min(p_size) AS BIGINT) AS ttl_s,
        |  CAST(min(p_size) * 2048 AS BIGINT) AS blocksize_b,
        |  CAST(count(*) % 4 - 1 AS INT) AS min_versions,
        |  3 AS max_versions, CAST(count(*) % 2 AS INT) AS scope
        |FROM part GROUP BY 1),
        |v AS (SELECT table_name,
        |  max_filesize_b < 2097152 AS v_max_filesize,
        |  flush_b < 1048576 AS v_flush_size,
        |  ttl_s <= 0 AS v_ttl,
        |  (blocksize_b < 1024 OR blocksize_b > 16777216) AS v_blocksize,
        |  min_versions < 0 AS v_min_versions,
        |  min_versions > max_versions AS v_version_order,
        |  scope < 0 AS v_scope
        |FROM htd)
        |SELECT *,
        |  CAST(CASE WHEN v_max_filesize THEN 1 ELSE 0 END
        |     + CASE WHEN v_flush_size THEN 1 ELSE 0 END
        |     + CASE WHEN v_ttl THEN 1 ELSE 0 END
        |     + CASE WHEN v_blocksize THEN 1 ELSE 0 END
        |     + CASE WHEN v_min_versions THEN 1 ELSE 0 END
        |     + CASE WHEN v_version_order THEN 1 ELSE 0 END
        |     + CASE WHEN v_scope THEN 1 ELSE 0 END AS BIGINT) AS n_violations,
        |  NOT (v_max_filesize OR v_flush_size OR v_ttl OR v_blocksize
        |       OR v_min_versions OR v_version_order OR v_scope) AS valid
        |FROM v ORDER BY table_name""".stripMargin)),
    // Retained assignment at master startup (master/balancer/
    // BaseLoadBalancer.java:1377 retainAssignment): regions whose
    // last-known server is still live go BACK there (locality — the
    // point of retention); regions of dead servers re-assign across
    // the survivors (the reference randomizes; re-expressed as the
    // deterministic bucket-ordered round-robin so the plan is
    // reproducible). Old placement = the 5-server round-robin deal,
    // server 2 dead. Windows rank region-metadata rows only.
    Query("retain_assignment", (s, d) => {
      // the drain/deal arithmetic is EXACTLY regionMoverPlan's (a dead
      // server at startup = a drained server mid-flight): live-host
      // regions keep their server, the dead host's regions deal
      // bucket-ordered round-robin over the survivors skipping the
      // dead slot — one shared copy, renamed to retention vocabulary
      val old = Tools.balancerPlan(Tools.materializeMeta(
        Tools.totalOrderBuckets(Tables.load(s, d, "orders"), "o_orderkey", 16)), 5)
      Tools.regionMoverPlan(old, nServers = 5, drain = 2)
        .select(col("bucket"), col("n_rows"),
          col("src_server").as("old_server"), col("dest_server"),
          (!col("moved")).as("retained"))
        .orderBy("bucket")
    },
      Oracle("""WITH g AS (SELECT o_orderkey AS k FROM orders),
        |b AS (SELECT min(k) AS lo, max(k) AS hi FROM g),
        |st AS (SELECT CAST(floor((k - lo) * 16 / (hi - lo + 1)) AS BIGINT) AS bucket,
        |              count(*) AS n_rows FROM g, b GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY n_rows DESC, bucket) AS rn
        |      FROM st),
        |o AS (SELECT bucket, n_rows, CAST((rn - 1) % 5 AS INT) AS server FROM r),
        |w AS (SELECT *, row_number() OVER (PARTITION BY server = 2
        |                                   ORDER BY bucket) - 1 AS idx FROM o)
        |SELECT bucket, n_rows, server AS old_server,
        |       CAST(CASE WHEN server <> 2 THEN server
        |                 ELSE CASE idx % 4 WHEN 0 THEN 0 WHEN 1 THEN 1
        |                                   WHEN 2 THEN 3 ELSE 4 END
        |            END AS INT) AS dest_server,
        |       server <> 2 AS retained
        |FROM w ORDER BY bucket""".stripMargin)),
    // RegionSplitter HexStringSplit (util/RegionSplitter.java:893):
    // data-free pre-splitting for hashed/hex rowkeys — the admin
    // creates N regions whose boundaries evenly divide the 8-hex-char
    // keyspace BEFORE any data exists (no sample needed; the dual of
    // the data-driven region_splitter). Split i per split(n):
    // firstRow + floor(range/n)·i — sizeOfEachSplit is FLOOR division
    // and "the last region gets all the slop" (RegionSplitter.java:
    // 915-919), so every region is exactly floor(2^32/N) wide except
    // the last (the r10 reference audit: the previous ceil(r·2^32/N)
    // boundaries spread the slop evenly — a different splitter). A
    // row lands by the leading 8 hex chars of its md5 rowkey. N = 12
    // — not a power of 16, so the division arithmetic is actually
    // exercised. One codegen projection + one aggregate; boundaries
    // are pure arithmetic on the region id, no second scan.
    Query("presplit_hex", (s, d) => {
      val n = 12
      val size = 4294967296L / n // floor — slop to the last region
      Tables.load(s, d, "orders")
        .select(conv(substring(md5(col("o_orderkey").cast("string")), 1, 8),
          16, 10).cast("bigint").as("hv"))
        .withColumn("region", least(expr(s"hv div $size"), lit(n - 1L)))
        .groupBy("region")
        .agg(count(lit(1)).as("n_rows"),
          min("hv").as("min_hv"), max("hv").as("max_hv"))
        .withColumn("start_hex", format_string("%08x", expr(s"region * $size")))
        .withColumn("end_hex", format_string("%08x",
          when(col("region") === (n - 1L), lit(4294967295L))
            .otherwise(expr(s"(region + 1) * $size - 1"))))
        .select("region", "start_hex", "end_hex", "n_rows", "min_hv", "max_hv")
        .orderBy("region")
    },
      // split(n) mirror: sizeOfEachSplit = floor(2^32/12) = 357913941,
      // slop to the LAST region
      Oracle("""WITH h AS (SELECT CAST(CAST(concat('0x',
        |             substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS UBIGINT)
        |             AS BIGINT) AS hv FROM orders),
        |r AS (SELECT least(hv // 357913941, 11) AS region, count(*) AS n_rows,
        |             min(hv) AS min_hv, max(hv) AS max_hv
        |      FROM h GROUP BY 1)
        |SELECT region,
        |       printf('%08x', region * 357913941) AS start_hex,
        |       CASE WHEN region = 11 THEN 'ffffffff'
        |            ELSE printf('%08x', (region + 1) * 357913941 - 1) END AS end_hex,
        |       n_rows, min_hv, max_hv
        |FROM r ORDER BY region""".stripMargin)),
  )

  private lazy val C = "WITH " + Tables.customerCellsSql + "\n"
  private lazy val V = "WITH " + Tables.eventCellsSql + "\n"

  /** The corrupted-META catalog CTE chain — ONE copy shared by the
    * hbck_region_chain and hbck_repair_plan oracles, exactly as both
    * Spark sides share [[corruptedCatalog]] ("audit and fix must see
    * the SAME defects"): editing a planted defect in one oracle but
    * not the other would silently de-couple them. */
  private lazy val ddHbckCatalogCtes: String =
    """WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi FROM orders),
      |bd AS (SELECT i, CAST(floor(lo + (hi - lo + 1) * i / 16.0) AS BIGINT) AS k
      |       FROM range(0, 17) t(i), b),
      |reg AS (
      |  SELECT 'r' || lpad(CAST(t.i AS VARCHAR), 2, '0') AS region_id,
      |         s.k AS start_key,
      |         CASE WHEN t.i = 9 THEN s.k
      |              WHEN t.i = 15 THEN NULL
      |              ELSE e.k END AS end_key
      |  FROM range(0, 16) t(i)
      |  JOIN bd s ON s.i = t.i JOIN bd e ON e.i = t.i + 1
      |  WHERE t.i <> 5
      |  UNION ALL
      |  SELECT 'r12b', (SELECT k FROM bd WHERE i = 12),
      |         CAST(floor(((SELECT k FROM bd WHERE i = 12)
      |                   + (SELECT k FROM bd WHERE i = 13)) / 2) AS BIGINT)
      |  UNION ALL
      |  SELECT 'r14x',
      |         CAST(floor(((SELECT k FROM bd WHERE i = 14)
      |                   + (SELECT k FROM bd WHERE i = 15)) / 2) AS BIGINT),
      |         CAST(floor(((SELECT k FROM bd WHERE i = 15)
      |                   + (SELECT k FROM bd WHERE i = 16)) / 2) AS BIGINT)),
      |""".stripMargin

  /** DuckDB mirror of the exploratory-compaction selection over the
    * per-(region, day) flush-file model — ONE copy of the CTE chain
    * (files `f` → windows → ratio filter → best pick `r`), shared by
    * the compaction_select and compaction_queue_split oracles exactly
    * as both Spark sides share [[Tools.compactionSelect]]. */
  private lazy val ddCompactionCtes: String =
    """b AS (SELECT min(user_id) lo, max(user_id) hi FROM events),
      |f AS (SELECT CAST(floor((user_id - lo) * 8 / (hi - lo + 1)) AS BIGINT) AS region,
      |             CAST(day(ts) AS BIGINT) AS seq, count(*) AS size
      |      FROM events, b GROUP BY 1, 2),
      |l AS (SELECT region, list(struct_pack(seq := seq, size := size) ORDER BY seq) AS fs
      |      FROM f GROUP BY 1),
      |wlen AS (SELECT region, fs, unnest([3, 4, 5]) AS len FROM l),
      |ws AS (SELECT region, fs, len, unnest(range(0, len(fs) - len + 1)) AS s FROM wlen),
      |v AS (SELECT region, len, s, fs[s+1 : s+len] AS win,
      |             list_sum(list_transform(fs[s+1 : s+len], x -> x.size)) AS tot
      |      FROM ws),
      |ok AS (SELECT * FROM v
      |       WHERE len(list_filter(win, x -> x.size > 1.2 * (tot - x.size))) = 0),
      |r AS (SELECT region, win[1].seq AS first_seq, CAST(len AS BIGINT) AS n_files,
      |             CAST(tot AS BIGINT) AS tot_size,
      |             row_number() OVER (PARTITION BY region
      |                                ORDER BY len DESC, tot ASC, s ASC) AS rn
      |      FROM ok)""".stripMargin

  /** putCompressedInt's 7-bit varint width, as a SQL CASE ladder —
    * the [[Tools.blockEncodingDecision]] vint mirror. */
  private def ddVint(x: String): String =
    s"(CASE WHEN $x < 128 THEN 1 WHEN $x < 16384 THEN 2 " +
      s"WHEN $x < 2097152 THEN 3 WHEN $x < 268435456 THEN 4 ELSE 5 END)"

  /** Leading-common-chars fold for the encoding oracle (list_position
    * returns 0 — not NULL — on no-match in DuckDB, so the full-match
    * case must branch, exactly like Spark's array_position). */
  private def ddCommonChars(a: String, b: String): String = {
    val fl = s"[CASE WHEN substr($a, i, 1) = substr(coalesce($b, ''), i, 1) " +
      s"THEN 1 ELSE 0 END for i in range(1, greatest(len($a), len(coalesce($b, ''))) + 1)]"
    s"(CASE WHEN list_position($fl, 0) = 0 " +
      s"THEN greatest(len($a), len(coalesce($b, ''))) " +
      s"ELSE list_position($fl, 0) - 1 END)"
  }

  /** ByteBufferUtils.longFitsIn as a SQL CASE ladder. */
  private def ddFitsIn(x: String): String =
    s"(CASE WHEN $x < 0 THEN 8 " +
      (1 to 7).map(n => s"WHEN $x < (1::BIGINT) << ${8 * n} THEN $n").mkString(" ") +
      " ELSE 8 END)"

  /** UVLongTool.numBytes — 7-bit varint width of a long: ⌈bits/7⌉,
    * so every non-negative BIGINT fits in ≤9 bytes and only negatives
    * (64 significant bits) take 10. The negative arm leads, and there
    * is no `1 << 63` rung — DuckDB throws Out of Range on that shift
    * (and its signed value would make the 9-byte case unreachable,
    * mirroring the Spark-side uvlongBytes fix). */
  private def ddUvlong(x: String): String =
    s"(CASE WHEN $x < 0 THEN 10 " +
      (1 to 8).map(n => s"WHEN $x < (1::BIGINT) << ${7 * n} THEN $n").mkString(" ") +
      " ELSE 9 END)"

  /** Shared CTE chain of the block-encoding oracles: the event-cell
    * layout (region = user_id // 64, 10-char padded row, 2-byte
    * family, µs ts, props value, event_id tiebreak, 64-cell blocks)
    * priced per-cell for PREFIX / DIFF / FAST_DIFF and rolled up to
    * the per-region `agg` relation. `encoding_diff_savings` selects
    * from it directly; `encoding_prefix_tree_savings` joins the
    * PREFIX_TREE trie arm beside it. */
  private lazy val encBlockCtes: String =
    s"""WITH k AS (SELECT user_id // 64 AS region,
       |        lpad(CAST(user_id AS VARCHAR), 10, '0') AS rw,
       |        event_type AS q, epoch_us(ts) AS t, props AS v, event_id AS tie
       |      FROM events),
       |r AS (SELECT region, rw, q, t, v,
       |        row_number() OVER w AS rn,
       |        lag(rw) OVER w AS prow, lag(q) OVER w AS pq,
       |        lag(t) OVER w AS pts, lag(v) OVER w AS pv
       |      FROM k WINDOW w AS (PARTITION BY region ORDER BY rw, q, t, tie)),
       |c1 AS (SELECT *,
       |        ((rn - 1) % 64 = 0 OR prow IS NULL) AS fst,
       |        len(rw) AS rlen, len(q) AS qlen, len(pq) AS pqlen,
       |        len(v) AS vlen, len(pv) AS pvlen,
       |        2 + len(rw) + 3 + len(q) + 9 AS klen,
       |        ${ddCommonChars("rw", "prow")} AS rkc,
       |        ${ddCommonChars("q", "pq")} AS qc,
       |        CASE WHEN list_position(
       |          [CASE WHEN ((t >> ((8 - i) * 8)) & 255) = ((coalesce(pts, -1) >> ((8 - i) * 8)) & 255)
       |                THEN 1 ELSE 0 END for i in range(1, 9)], 0) = 0 THEN 8
       |          ELSE list_position(
       |          [CASE WHEN ((t >> ((8 - i) * 8)) & 255) = ((coalesce(pts, -1) >> ((8 - i) * 8)) & 255)
       |                THEN 1 ELSE 0 END for i in range(1, 9)], 0) - 1 END AS tsc,
       |        ${ddFitsIn("t")} AS tfits,
       |        ${ddFitsIn("abs(coalesce(pts, 0) - t)")} AS dfits
       |      FROM r),
       |c2 AS (SELECT *,
       |        CASE WHEN rkc < rlen THEN rkc + 2 ELSE rkc + 5 + qc END AS com
       |      FROM c1),
       |c3 AS (SELECT *,
       |        CASE WHEN rkc = rlen AND q = pq
       |               THEN com + (CASE WHEN tsc = 8 THEN 9 ELSE tsc END)
       |             ELSE com END AS comt,
       |        CASE WHEN com < rlen + 2 THEN rlen + 2 - com + qlen
       |             ELSE qlen - (com - rlen - 5) END AS suffix
       |      FROM c2),
       |costs AS (SELECT region,
       |        8 + klen + vlen AS raw,
       |        CASE WHEN fst THEN ${ddVint("klen")} + ${ddVint("vlen")} + 1 + klen + vlen
       |             ELSE ${ddVint("klen - comt")} + ${ddVint("vlen")} +
       |                  ${ddVint("comt")} + klen - comt + vlen END AS pfx,
       |        CASE WHEN fst THEN 3 + 1 + ${ddVint("klen")} + ${ddVint("vlen")} + 1
       |                           + rlen + 2 + qlen + tfits + 1 + vlen
       |             ELSE 1 + (CASE WHEN qlen = pqlen THEN 0 ELSE ${ddVint("klen")} END)
       |                    + (CASE WHEN vlen = pvlen THEN 0 ELSE ${ddVint("vlen")} END)
       |                    + ${ddVint("com")} + suffix + least(tfits, dfits) + vlen END AS dif,
       |        CASE WHEN fst THEN 2 + ${ddVint("klen")} + ${ddVint("vlen")} + klen + vlen
       |             ELSE 1 + (CASE WHEN qlen = pqlen THEN 0 ELSE ${ddVint("klen")} END)
       |                    + (CASE WHEN vlen = pvlen THEN 0 ELSE ${ddVint("vlen")} END)
       |                    + ${ddVint("com")} + suffix + (8 - tsc)
       |                    + (CASE WHEN v = pv THEN 0 ELSE vlen END) END AS fdf
       |      FROM c3),
       |agg AS (SELECT region, count(*) AS n_cells,
       |        CAST(sum(raw) AS BIGINT) AS raw_bytes,
       |        CAST(sum(pfx) AS BIGINT) AS prefix_bytes,
       |        CAST(sum(dif) AS BIGINT) AS diff_bytes,
       |        CAST(sum(fdf) AS BIGINT) AS fast_diff_bytes
       |      FROM costs GROUP BY 1)""".stripMargin

}
