package graft.analytics

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.core.Hashes

/** Spark-native analogues of HBase's MapReduce analytics tools
  * (hbase-server/.../mapreduce/): RowCounter, CellCounter, CopyTable,
  * Export/Import, ImportTsv, HashTable/SyncTable,
  * SimpleTotalOrderPartitioner. These were the reference's *analytics*
  * surface — each one maps onto a declarative Spark plan with map-side
  * partial aggregation where the MR job had a combiner.
  */
object Tools {

  /** RowCounter.java:44 — count rows (distinct rowkeys) matching an
    * optional cell filter. The MR job used FirstKeyOnlyFilter purely to
    * avoid materializing values; count(DISTINCT rowkey) with the filter
    * pushed to the scan is the declarative equivalent (partial distinct
    * per partition ≈ per-region counting). */
  def rowCounter(cells: DataFrame, pred: Option[Column] = None): DataFrame =
    pred.fold(cells)(cells.where(_))
      .agg(count_distinct(col("rowkey")).as("n_rows"))

  /** CellCounter.java:72 — per-(family, qualifier) cell statistics:
    * total cells, rows containing the qualifier, distinct versions.
    * One hash aggregate, combiner-style partials. */
  def cellCounter(vcells: DataFrame): DataFrame =
    vcells.groupBy("family", "qualifier")
      .agg(count(lit(1)).as("n_cells"),
           count_distinct(col("rowkey")).as("n_rows"),
           count_distinct(col("ts")).as("n_versions"))

  /** CopyTable.java:55 — scan with time range + filter, optionally
    * re-mapping column names (the MR tool's family rename), producing
    * the new table. Pure declarative read→transform; the write is the
    * caller's sink choice. */
  def copyTable(df: DataFrame, pred: Column, renames: Seq[(String, String)]): DataFrame =
    renames.foldLeft(df.where(pred)) { case (d, (from, to)) => d.withColumnRenamed(from, to) }

  /** Export.java:52 / Import.java — physical round trip: write the
    * filtered scan as a parquet snapshot (the SequenceFile analogue),
    * then read it back. Validates the full serialize/deserialize path,
    * not just the plan. */
  def exportImport(df: DataFrame, pred: Column, path: String): DataFrame = {
    df.where(pred).write.mode("overwrite").parquet(path)
    graft.core.Layout.read(df.sparkSession, path)
  }

  /** ImportTsv.java:79 — TSV → typed table with an explicit column
    * mapping (the tool's `-Dimporttsv.columns=HBASE_ROW_KEY,f:q,...`).
    * Schema-first read: no inference, types enforced at parse —
    * FAILFAST, because the default PERMISSIVE mode silently turned a
    * malformed field into NULL (r12 analytics review: the scaladoc
    * promised enforcement, the reader delivered NULL-padding;
    * ImportTsv's own BadTsvLineException surfaces bad lines). */
  def importTsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("sep", "\t").option("header", "false")
      .option("mode", "FAILFAST").schema(schema).csv(path)

  /** HashTable.java:64 — divide the keyspace into fixed-width buckets
    * and produce an order-independent integer digest per bucket. The
    * hash must be engine-portable (plain ±*% integer arithmetic), so a
    * DuckDB oracle — or a remote cluster, which is the tool's point —
    * computes the identical digest. */
  def hashTable(df: DataFrame, keyCol: String, rowHash: Column, bucketWidth: Long): DataFrame = {
    Hashes.requireIdentifier(keyCol, "hashTable key column") // SQL splice below
    // width 0 would pmod to NULL buckets (one garbage digest) and
    // DuckDB's `// 0` errors — the cross-engine divergence this tool
    // exists to rule out; refuse loudly like every sibling divisor
    require(bucketWidth >= 1, s"bucketWidth ($bucketWidth) must be positive")
    // INTEGER division `div`, not floor(k/w) in double (which rounds
    // past 2^53, assigning boundary keys to the wrong bucket on
    // exactly the cross-engine comparison this tool exists for) and
    // not the (k − pmod)/w floor form: DuckDB's `//` TRUNCATES toward
    // zero exactly like Spark's `div` (verified: -7 // 2 = -3 on
    // duckdb 1.0.0), so the pmod-floor form DIVERGED from the bare-//
    // oracle on negative keys — the r12 inverted-premise fix
    df.groupBy(expr(s"$keyCol div $bucketWidth").as("bucket"))
      .agg(sum(rowHash).as("digest"), count(lit(1)).as("n_rows"))
  }

  /** SyncTable.java:56 — compare two tables' per-bucket digests; emit
    * every bucket with both digests and a match flag (the MR job then
    * re-scans only mismatched ranges — here the mismatch list IS the
    * output). Full outer join on bucket: missing side = null digest. */
  def syncTable(a: DataFrame, b: DataFrame): DataFrame = {
    val left  = a.select(col("bucket"), col("digest").as("digest_a"), col("n_rows").as("rows_a"))
    val right = b.select(col("bucket"), col("digest").as("digest_b"), col("n_rows").as("rows_b"))
    left.join(right, Seq("bucket"), "full_outer")
      // a match needs the ROW COUNTS equal too: two different row
      // sets can sum to colliding digests (a row hashing to 0, or two
      // rows summing to one side's single hash) — count inequality is
      // the cheap collision witness the digests alone can't see
      .withColumn("is_match",
        coalesce(col("digest_a") === col("digest_b") &&
          col("rows_a") === col("rows_b"), lit(false)))
  }

  /** VerifyReplication (mapreduce/replication/VerifyReplication.java) —
    * row-by-row compare of a table against its replica, emitting the
    * tool's counters (GOODROWS / ONLY_IN_SOURCE / ONLY_IN_PEER /
    * CONTENT_DIFFERENT). One full-outer sort-merge join on the rowkey
    * (each side shuffles once) into a single-row aggregate with
    * map-side partials; where HashTable/SyncTable diffs cheap bucket
    * digests, this is the exhaustive per-row audit you run on the
    * mismatched ranges. */
  def verifyReplication(src: DataFrame, peer: DataFrame, keyCol: String,
                        cmpCols: Seq[String]): DataFrame = {
    val sv = src.select(col(keyCol), struct(cmpCols.map(col): _*).as("_sv"))
    val pv = peer.select(col(keyCol), struct(cmpCols.map(col): _*).as("_pv"))
    def n(c: String) = col(c).isNotNull
    // coalesce: sum over ZERO rows is NULL, and a replication audit
    // of two empty (or fully-pruned) ranges must report four ZEROS —
    // a NULL only_in_source slips through any `=== 0` health check
    sv.join(pv, Seq(keyCol), "full_outer").agg(
      coalesce(sum(when(n("_sv") && n("_pv") && col("_sv") === col("_pv"), 1L)
        .otherwise(0L)), lit(0L)).as("good_rows"),
      coalesce(sum(when(!n("_pv"), 1L).otherwise(0L)), lit(0L)).as("only_in_source"),
      coalesce(sum(when(!n("_sv"), 1L).otherwise(0L)), lit(0L)).as("only_in_peer"),
      coalesce(sum(when(n("_sv") && n("_pv") && !(col("_sv") === col("_pv")), 1L)
        .otherwise(0L)), lit(0L)).as("content_different"))
  }

  /** WALPlayer.java:71 / WALInputFormat.java — replay a time-ranged
    * slice of the write-ahead log into a table. An edit is a Put cell
    * or a Delete tombstone at a data timestamp; HBase tombstone
    * semantics mask every version at ts ≤ the delete's ts, regardless
    * of arrival order. The replayed state is therefore, per
    * (rowkey, qualifier): the latest put strictly newer than the
    * latest delete — computable in ONE hash aggregate (map-side
    * partial max of two structs), no window, no second pass:
    * if max-put.ts ≤ max-delete.ts then every put is masked (puts
    * older than the latest put are older still), else the max put is
    * the surviving current version.
    *
    * @param edits (rowkey, qualifier, ts, value, event_id, op) with
    *              op ∈ {put, delete}; event_id breaks ts ties so the
    *              replayed state is deterministic. */
  def walReplay(edits: DataFrame, tsLo: String, tsHi: String): DataFrame = {
    // a range bound that fails the timestamp cast must fail with a
    // NAMED error (the Intervals.literal discipline): under ANSI the
    // cast throws Spark's unlabeled SparkDateTimeException from inside
    // the plan; with ANSI off it turns the predicate NULL for EVERY
    // row — an empty replay indistinguishable from "no surviving
    // versions" (r12 analytics review). Probe the casts on a 1-row
    // relation and rename/raise either way.
    def bad(cause: Throwable): Nothing =
      throw new IllegalArgumentException(
        s"walReplay: time range ('$tsLo', '$tsHi') does not parse as " +
          "timestamps — an unparseable bound replays an empty table", cause)
    val probe =
      try edits.sparkSession.range(1)
        .select(lit(tsLo).cast("timestamp").as("lo"),
          lit(tsHi).cast("timestamp").as("hi")).head()
      catch { case e: Exception => bad(e) }
    if (probe.isNullAt(0) || probe.isNullAt(1)) bad(null)
    edits
      .where(col("ts") >= lit(tsLo).cast("timestamp") &&
             col("ts") <  lit(tsHi).cast("timestamp"))
      .groupBy("rowkey", "qualifier")
      .agg(
        max(when(col("op") === "delete", col("ts"))).as("_del_ts"),
        max(when(col("op") === "put",
          struct(col("ts"), col("event_id"), col("value")))).as("_put"))
      .where(col("_put").isNotNull &&
        (col("_del_ts").isNull || col("_put.ts") > col("_del_ts")))
      .select(col("rowkey"), col("qualifier"), col("_put.ts").as("ts"),
        col("_put.event_id").as("event_id"), col("_put.value").as("value"))
  }

  /** SimpleTotalOrderPartitioner.java:49 — split [minKey, maxKey] into
    * `n` equal key ranges (the HFile bulk-load total order) and report
    * per-bucket stats (+ optional extra aggregates, e.g. region payload
    * sums). min/max are a tiny broadcast — no global sort, no sampling,
    * fully deterministic. */
  /** SimpleRegionNormalizer (hbase-server/.../master/normalizer/
    * SimpleRegionNormalizer.java:76-130): plan a SPLIT for every region
    * more than twice the average region size, and MERGEs for adjacent
    * undersized pairs whose combined size is below the average. The
    * reference walks the region list greedily; over bucket stats the
    * same guarantee (no planned region exceeds bounds, merge partners
    * adjacent and disjoint) comes order-free from pairing consecutive
    * ranks (2k, 2k+1) — every pair decidable in parallel, which is the
    * form that scales past a driver-side walk. Input is a bucket-stats
    * table (≤ the bucket count, so the rank window over it is a
    * few-row no-op, not a data-scale sort). */
  def normalizerPlan(buckets: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // THREE consumers read the bucket stats (avg aggregate, splits,
    // merges) — a lazy corpus-scale buckets plan would re-scan the
    // fact table once per consumer (r12 analytics review; the k-fold
    // re-scan class materializeMeta exists for)
    val stats = materializeMeta(buckets.select(col("bucket"), col("n_rows")))
    val avgSize = stats.agg(avg(col("n_rows")).as("_avg"))
    val ranked = stats.crossJoin(broadcast(avgSize))
      .withColumn("_rn", row_number().over(Window.orderBy("bucket")))
    val splits = ranked.where(col("n_rows") > col("_avg") * 2)
      .select(lit("split").as("action"), col("bucket"),
        lit(null).cast("bigint").as("other_bucket"), col("n_rows"))
    val merges = ranked
      .groupBy(floor((col("_rn") - 1) / 2).as("_pair"))
      .agg(min(col("bucket")).as("bucket"), max(col("bucket")).as("other_bucket"),
        sum(col("n_rows")).as("n_rows"), count(lit(1)).as("_c"),
        first(col("_avg")).as("_avg"))
      .where(col("_c") === 2 && col("n_rows") < col("_avg"))
      .select(lit("merge").as("action"), col("bucket"),
        col("other_bucket"), col("n_rows"))
    splits.unionByName(merges)
  }

  /** RegionSplitter (hbase-server/.../util/RegionSplitter.java) —
    * pre-split point computation. The reference's UniformSplit/
    * HexStringSplit slice the KEYSPACE evenly (split k = lo +
    * span·k/n); the data-aware variant every skewed table actually
    * wants slices the DATA evenly — split points at the k/n key
    * quantiles, so each pre-split region receives the same row count.
    * Both emitted side by side from ONE aggregate over the table
    * (min/max + one percentile pass); n−1 output rows for a
    * non-empty table (an EMPTY table yields zero rows — the NULL
    * percentile array explodes to nothing — where a SQL mirror's
    * cross join would keep NULL-keyed rows; registered oracles assume
    * the non-empty base tables).
    *
    * `approx = false` is the ORACLE form: exact `percentile` buffers
    * every key into one aggregation buffer — byte-exact against
    * DuckDB, but a single-executor OOM at 100 TB. `approx = true` is
    * the plan you would actually run: `approx_percentile` (KLL-style
    * sketch) keeps fixed-size state with map-side partials, the same
    * exact-vs-scale split the agg_median family uses. Split points
    * only need to be NEAR the quantiles (a region boundary a few rows
    * off is still an even pre-split), so the sketch error is free. */
  def regionSplitPoints(df: DataFrame, keyCol: String, n: Int,
                        approx: Boolean = false): DataFrame = {
    require(n >= 2, s"need at least 2 regions, got $n")
    // keyCol splices into generated SQL — the shared identifier guard
    Hashes.requireIdentifier(keyCol, "key column")
    val qs = (1 until n).map(_.toDouble / n)
    val fn = if (approx) "approx_percentile" else "percentile"
    df.agg(min(col(keyCol)).as("_lo"), max(col(keyCol)).as("_hi"),
        expr(s"$fn($keyCol, array(${qs.mkString(", ")}))").as("_qs"))
      .select(col("_lo"), col("_hi"), posexplode(col("_qs")))
      .select((col("pos") + 1).cast("bigint").as("split_idx"),
        // span × idx in DOUBLE — the totalOrderBucket overflow class.
        // CEIL boundary (lo + ⌈idx·span/n⌉), NOT floor(lo + span·idx/n):
        // the split key is the FIRST key of the upper daughter, and the
        // file's own bucket arithmetic (totalOrderBucket assignment,
        // canaryWriteProbe's region starts) puts floor's key in the
        // LOWER region at every non-divisible boundary — a pre-split
        // from the old formula disagreed with the assignment by exactly
        // the boundary key (r12 analytics review).
        (col("_lo") + ceil(
            (col("_hi") - col("_lo") + 1).cast("double") * (col("pos") + 1) / n))
          .cast("bigint").as("uniform_key"),
        round(col("col"), 4).as("quantile_key"))
  }

  /** ExploringCompactionPolicy (hbase-server/.../regionserver/
    * compactions/ExploringCompactionPolicy.java): per region, pick the
    * best contiguous window of seq-ordered store files to minor-compact
    * — every file in the window must be within `ratio` of the REST of
    * the window's bytes (no giant file pays re-write cost for tiny
    * gains), window length in [minFiles, maxFiles], preferring MOST
    * files then FEWEST bytes (the reference's exact preference). The
    * whole search is per-row array algebra over each region's file
    * list (store files per region are dozens, not data-scale), so
    * selection runs as one aggregate + a codegen'd projection — the
    * same work a region server does per compaction check, for every
    * region at once.
    *
    * @param files (region, seq, size) store-file stats. */
  def compactionSelect(files: DataFrame, minFiles: Int = 3, maxFiles: Int = 5,
                       ratio: Double = 1.2): DataFrame = {
    require(2 <= minFiles && minFiles <= maxFiles,
      s"need 2 <= minFiles ($minFiles) <= maxFiles ($maxFiles)")
    val lists = files.groupBy("region")
      .agg(array_sort(collect_list(struct(col("seq"), col("size")))).as("fs"))
    val wins = lists.select(col("region"), col("fs"), explode(expr(
        s"""flatten(transform(sequence($minFiles, $maxFiles), len ->
           |  transform(sequence(0, size(fs)), s -> struct(s AS s, len AS len))))"""
          .stripMargin)).as("w"))
      .where(col("w.s") + col("w.len") <= size(col("fs")))
      .withColumn("_win", expr("slice(fs, w.s + 1, w.len)"))
      .withColumn("_tot", expr("aggregate(_win, 0L, (acc, x) -> acc + x.size)"))
      .where(expr(s"forall(_win, x -> x.size <= $ratio * (_tot - x.size))"))
    wins.groupBy("region")
      .agg(max(struct(col("w.len").as("n_files"), (-col("_tot")).as("negtot"),
        (-col("w.s")).as("negs"), col("_win").getItem(0).getField("seq").as("first_seq")))
        .as("m"))
      .select(col("region"), col("m.first_seq").as("first_seq"),
        col("m.n_files").cast("bigint").as("n_files"),
        (-col("m.negtot")).as("tot_size"))
  }

  /** DateTieredCompactionPolicy (hbase-server/.../regionserver/
    * compactions/DateTieredCompactionPolicy.java:230-255 — files are
    * grouped into time windows that grow exponentially with age:
    * `windowsPerTier` windows of `baseWindowDays` in tier 0, each tier
    * `windowsPerTier`× wider; the window holding the newest data is
    * the INCOMING window and needs `incomingMin` files before it
    * compacts (:230 getDateTieredIncomingWindowMin), older windows
    * compact at the ordinary `minFiles` threshold (:241
    * getMinFilesToCompact)). Windows here are aged from the corpus
    * max file day (deterministic "now"), which re-expresses the
    * reference's epoch-aligned boundaries in audit-stable form.
    *
    * Scale shape: file stats are metadata rows (one per region × day
    * flush); tier/window assignment is a codegen'd projection against
    * a 1-row broadcast of the max day, then one map-side-combinable
    * rollup per (region, tier, window). The edit stream itself never
    * shuffles here — callers aggregate it to file stats first.
    *
    * @param files (region, file_day: date/timestamp, size) store-file
    *              stats, one row per flushed file. */
  def dateTieredSelect(files: DataFrame, baseWindowDays: Int = 4,
                       windowsPerTier: Int = 4, minFiles: Int = 3,
                       incomingMin: Int = 6): DataFrame = {
    require(baseWindowDays >= 1 && windowsPerTier >= 2,
      s"need baseWindowDays ($baseWindowDays) >= 1, windowsPerTier ($windowsPerTier) >= 2")
    val newest = files.agg(max(col("file_day")).as("_newest"))
    // tier t covers ages [base*per^t * (t==0 ? 0 : 1), base*per^(t+1))
    // — 4 tiers is enough for any corpus this audits (base 4/per 4
    // reaches 1024 days); the last tier is open-ended.
    val w0 = baseWindowDays.toLong
    val bounds = Seq(w0 * windowsPerTier, w0 * windowsPerTier * windowsPerTier,
      w0 * windowsPerTier * windowsPerTier * windowsPerTier)
    val winSize = Seq(w0, w0 * windowsPerTier,
      w0 * windowsPerTier * windowsPerTier, bounds(2))
    files.crossJoin(broadcast(newest))
      .withColumn("_age", datediff(col("_newest"), col("file_day")).cast("bigint"))
      .withColumn("tier",
        when(col("_age") < bounds(0), 0L).when(col("_age") < bounds(1), 1L)
          .when(col("_age") < bounds(2), 2L).otherwise(3L))
      .withColumn("window_id", expr(
        s"""_age div (CASE tier WHEN 0 THEN ${winSize(0)} WHEN 1 THEN ${winSize(1)}
           |          WHEN 2 THEN ${winSize(2)} ELSE ${winSize(3)} END)""".stripMargin))
      .groupBy("region", "tier", "window_id")
      .agg(count(lit(1)).cast("bigint").as("n_files"),
        sum(col("size")).as("tot_size"),
        min(col("_age")).as("min_age"), max(col("_age")).as("max_age"))
      .withColumn("compact", col("n_files") >= when(
        col("tier") === 0 && col("window_id") === 0, incomingMin).otherwise(minFiles))
  }

  /** SimpleLoadBalancer.roundRobinAssignment (hbase-server/.../master/
    * balancer/BaseLoadBalancer.java:1550): deal regions to servers
    * round-robin in descending size order — the assignment HBase uses
    * at bulk startup. Dealing by rank keeps every server within one
    * region of even count AND interleaves sizes, so loads stay close
    * without the stochastic balancer's cost model. The rank window
    * runs over region-count rows (master-side metadata, never data). */
  def balancerPlan(regionStats: DataFrame, nServers: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nServers >= 1, s"nServers ($nServers) must be at least 1")
    val w = Window.orderBy(col("n_rows").desc, col("bucket"))
    regionStats
      .withColumn("server", pmod(row_number().over(w) - 1, lit(nServers)).cast("int"))
      .select(col("bucket"), col("n_rows"), col("server"))
  }

  /** Region mover / graceful decommission (bin/region_mover.rb
    * `unload` — move every region off the target server, dealing them
    * to the surviving servers in turn; the rolling-restart workflow
    * every HBase operator runs). Drained regions are ranked in start
    * key order and dealt round-robin over the `nServers - 1`
    * survivors (skipping the drained slot), so post-drain counts stay
    * within one region of even; untouched regions keep their server.
    *
    * Scale shape: the rank window runs over the drained server's
    * region rows only — master metadata (dozens), never data.
    *
    * @param assign (bucket, n_rows, server) current assignment, e.g.
    *               [[balancerPlan]] output. */
  def regionMoverPlan(assign: DataFrame, nServers: Int, drain: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nServers >= 2 && 0 <= drain && drain < nServers,
      s"need nServers ($nServers) >= 2 and drain ($drain) in [0, nServers)")
    val w = Window.partitionBy(col("_drained")).orderBy("bucket")
    assign
      .withColumn("_drained", col("server") === drain)
      .withColumn("_idx", pmod(row_number().over(w) - 1, lit(nServers - 1)))
      .select(col("bucket"), col("n_rows"), col("server").as("src_server"),
        when(!col("_drained"), col("server"))
          .when(col("_idx") >= drain, col("_idx") + 1)
          .otherwise(col("_idx")).cast("int").as("dest_server"),
        col("_drained").as("moved"))
  }

  /** Collapse a small METADATA-cardinality relation (bucket stats, a
    * region catalog, a balancer plan) to a driver-local literal: ONE
    * evaluation of its possibly-corpus-scanning plan, after which
    * every consumer reads the literal rows — Catalyst shares nothing
    * across consumers, so a lazy 16-row bucket table consumed by k
    * downstream branches re-scans the fact table k times (the
    * canaryWriteProbe / hbck-catalog fix, generalized; found
    * systematically by the r8/r9 repeated-scan audit,
    * audits/SCANAUDIT_r9.md; `graft.Probe` prints the same per-source
    * scan counts today). Values are identical to
    * the lazy form — oracle parity is untouched — and the row guard
    * keeps this an explicit metadata-only tool, never a data collect. */
  def materializeMeta(df: DataFrame, maxRows: Int = 4096): DataFrame = {
    // limit BEFORE collecting: the guard must prevent a data-scale
    // driver collect, not diagnose it post-OOM — collect() first and
    // the require never runs on the mistake it exists to catch
    val rows = df.limit(maxRows + 1).collect()
    require(rows.length <= maxRows,
      s"materializeMeta: over $maxRows rows — not a metadata relation")
    df.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** The total-order bucket formula — ONE copy of the expression every
    * DuckDB oracle mirrors verbatim (the `+ 1` denominator and the
    * double-division order are parity-load-bearing; see
    * bulk_load_partitioner's oracle). Shared by [[totalOrderBuckets]]
    * and any query needing a per-row region tag before its own
    * grouping (compaction_select's per-(region, day) flush files).
    *
    * The (key − lo) offset multiplies n in DOUBLE: a LONG multiply
    * wraps once the key span crosses Long.Max/n (the sf1 spike hit it
    * on squared-key ranges at ~8·10¹⁷ × 16 under ANSI overflow
    * checks). Below 2^53 the double product is bit-exact, so every
    * oracle comparison (≤ sf0.1 magnitudes) is unchanged; above it,
    * bucket boundaries are approximate to ULP — a layout choice, not
    * a correctness surface, at spans no oracle reaches. */
  def totalOrderBucket(key: Column, lo: Column, hi: Column, n: Int): Column =
    floor((key - lo).cast("double") * n / (hi - lo + 1)).cast("bigint")

  /** Per-ROW total-order region tag — the row-level sibling of
    * [[totalOrderBuckets]] (which aggregates away the rows): bounds
    * from one 1-row aggregate broadcast back, tag from
    * [[totalOrderBucket]], helper columns dropped. ONE copy of the
    * bounds plumbing for queries that tag rows before their OWN
    * grouping (compaction/flush/split policies, bulk outputs). */
  def withTotalOrderTag(df: DataFrame, keyCol: String, n: Int,
                        tagName: String = "region"): DataFrame = {
    val b = df.agg(min(col(keyCol)).as("_lo"), max(col(keyCol)).as("_hi"))
    df.crossJoin(broadcast(b))
      .withColumn(tagName,
        totalOrderBucket(col(keyCol), col("_lo"), col("_hi"), n))
      .drop("_lo", "_hi")
  }

  def totalOrderBuckets(df: DataFrame, keyCol: String, n: Int,
                        extraAggs: Seq[Column] = Nil,
                        bucketName: String = "bucket"): DataFrame = {
    // rides withTotalOrderTag — the ONE copy of the bounds plumbing
    // its own scaladoc promises (this function had duplicated it
    // line-for-line; r12 analytics review)
    val baseAggs = Seq(count(lit(1)).as("n_rows"),
      min(col(keyCol)).as("min_key"), max(col(keyCol)).as("max_key")) ++ extraAggs
    withTotalOrderTag(df, keyCol, n, bucketName)
      .groupBy(bucketName)
      .agg(baseAggs.head, baseAggs.tail: _*)
  }

  /** LoadIncrementalHFiles.groupOrSplit (hbase-server/.../mapreduce/
    * LoadIncrementalHFiles.java:729) — the completebulkload assignment
    * phase: each HFile belongs to the region holding its FIRST key
    * (:763 binarySearch); a file whose last key reaches past that
    * region's end is SPLIT at the boundary and the remainder re-queued
    * (:795-803), looping until every piece fits one region. The fixed
    * point of that loop is exactly one fragment per (file, overlapped
    * region), clipped to the region range — computed here in ONE pass
    * as a broadcast interval join (region boundaries are master
    * metadata, tiny next to the file list), no iteration. Region
    * ranges are [start_key, end_key) with NULL end = open; file ranges
    * [first_key, last_key] inclusive (HFile first/last row keys).
    * `needs_split` marks files the reference would physically split
    * (fragments > 1). The reference aborts on a broken region chain
    * (:776-793, "use hbck") — chain integrity is [[hbckRegionChain]]'s
    * job and a precondition here. */
  def bulkLoadAssign(files: DataFrame, regions: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val r = broadcast(regions.select(col("region").as("_r"),
      col("start_key").as("_rs"), col("end_key").as("_re")))
    // the reference throws on an inverted HFile range (:758) — guard
    // BEFORE the join: a guard projected after the join never fires
    // for a corrupt file whose range matches no region, silently
    // dropping it instead of erroring. (A VALID file outside the
    // region chain still drops — the registered catalogs end open, so
    // only a sub-minimum key can fall outside; reference behavior for
    // that case is a retry queue, out of scope here.)
    val checked = files.withColumn("first_key",
      when(col("first_key") > col("last_key"),
        raise_error(concat(lit("invalid hfile range: "), col("hfile"))))
        .otherwise(col("first_key")))
    // NULL start = the open-start first region (the same META
    // convention regionLocate handles): it must catch every file its
    // end allows, not NULL out of the join
    checked.join(r,
        (col("_rs").isNull || col("last_key") >= col("_rs")) &&
        (col("_re").isNull || col("first_key") < col("_re")))
      .select(col("hfile"),
        col("_r").as("region"),
        greatest(col("first_key"), col("_rs")).as("frag_first"),
        when(col("_re").isNull, col("last_key"))
          .otherwise(least(col("last_key"), col("_re") - 1)).as("frag_last"))
      .withColumn("n_fragments",
        count(lit(1)).over(Window.partitionBy("hfile")))
      .withColumn("needs_split", col("n_fragments") > 1)
  }

  /** Canary (hbase-server/.../tool/Canary.java:244 RegionTask.read) —
    * the availability probe HBase operators run continuously: for every
    * (region, column family), read the FIRST cell at/after the
    * region's start key (a Get/small Scan with FirstKeyOnlyFilter,
    * Canary.java:256). Relationally: tag rows with their region bucket,
    * take the min (rowkey, qualifier) struct per (region, family) —
    * one hash aggregate with map-side partials, the same single-cell
    * answer every probe RPC returns, for all regions at once. The
    * (region × family) frame is generated so a family with NO cell in
    * a region reports a probe FAILURE row (ok = false), exactly the
    * canary's publishReadFailure — absence must not vanish from an
    * availability report. */
  def canaryProbe(cells: DataFrame, nRegions: Int, families: Seq[String]): DataFrame = {
    require(nRegions >= 1 && families.nonEmpty, "need regions and families")
    val probes = withTotalOrderTag(cells, "rowkey", nRegions)
      .groupBy("region", "family")
      .agg(min(struct(col("rowkey"), col("qualifier"))).as("_first"))
    // literal frame, NOT derived from the bounds aggregate: a frame
    // inheriting the bounds plan re-scans the whole cell table just to
    // emit nRegions rows (the canaryWriteProbe spark.range pattern)
    val frame = cells.sparkSession.range(0, nRegions).toDF("region")
      .select(col("region"),
        explode(array(families.map(lit): _*)).as("family"))
    frame.join(probes, Seq("region", "family"), "left")
      .select(col("region"), col("family"),
        col("_first.rowkey").as("probe_key"),
        col("_first.qualifier").as("first_qualifier"),
        col("_first").isNotNull.as("ok"))
  }

  /** The WRITE half of the canary (hbase-server/.../tool/Canary.java
    * RegionTask write mode — `-writeSniffing`: one put + one delete
    * round trip per region of the canary table, publishWriteFailure on
    * rejection): for every region of the nRegions total-order split,
    * fabricate the probe cell at the region's start boundary
    * (`lo + ceil(i·span/n)` — the smallest key the bucket arithmetic
    * assigns to region i), apply the put (probe cells of writable
    * regions join the live cell set; `readOnly` regions reject, the
    * planted failure mode), READ IT BACK out of its own region
    * (put_ok — the read-back re-derives the region from the key, so a
    * boundary-arithmetic bug surfaces here, not silently), then delete
    * every probe and verify global absence (roundtrip_ok). Region load
    * (n_cells) rides along — the reference reports write latency
    * against region load; cardinality is the deterministic analogue.
    *
    * Scale shape: the probe frame is nRegions rows (metadata); the
    * read-back scans the live set under a `family = '_canary_'`
    * predicate (pushed — prunes the whole data corpus); load is one
    * map-side-combinable count. Nothing data-sized shuffles. */
  def canaryWriteProbe(cells: DataFrame, nRegions: Int,
                       readOnly: Seq[Long] = Nil): DataFrame = {
    require(nRegions >= 1, "need at least one region")
    // key bounds as a driver-local 1-row scalar (the kv/Mutations
    // pattern): the probe frame feeds FOUR consumers (output, read-
    // back, delete left side, delete broadcast), and Catalyst shares
    // nothing across consumers — a lazy bounds relation would rescan
    // the corpus key column once per consumer. Collected, the frame
    // is a pure literal relation; the two remaining corpus scans
    // (this one + the load count) are asserted in PlanAuditSpec.
    val bRow = cells.agg(min(col("rowkey")).as("_lo"), max(col("rowkey")).as("_hi"))
      .collect()(0)
    require(!bRow.isNullAt(0), "canaryWriteProbe: empty canary table")
    val (lo, hi) = (bRow.getLong(0), bRow.getLong(1))
    // a span narrower than the region count makes the ceil boundaries
    // collide (several probes landing in one region, displaced regions
    // falsely reporting put failure) — refuse rather than mis-report
    require(hi - lo + 1 >= nRegions,
      s"canaryWriteProbe: key span ${hi - lo + 1} < $nRegions regions — " +
        "probe boundaries would collide")
    // the exact ceil boundary needs region·span in LONG, and the
    // read-back bucket runs through totalOrderBucket's DOUBLE form,
    // whose PRODUCT (key − lo)·n must stay below 2^53 to be bit-exact
    // — a span merely ≤ 2^53 is not enough for non-power-of-two n
    // (the product could round a boundary probe one region low and
    // report a spurious put failure, the exact bug this guard
    // prevents). A probe KEY must be exact on BOTH sides, so refuse
    // spans past span·n ≤ 2^53 loudly (the bm25 discipline).
    // 2^53/n is strictly tighter than Long.MaxValue/n for every n ≥ 1,
    // so the double-exactness bound subsumes the long-overflow one
    require(hi - lo + 1 <= (1L << 53) / nRegions,
      s"canaryWriteProbe: key span ${hi - lo + 1} exceeds the exact " +
        s"boundary arithmetic for $nRegions regions — probe fewer regions")
    val spark = cells.sparkSession
    val probes = spark.range(0, nRegions).toDF("region")
      .withColumn("probe_key",
        lit(lo) + expr(s"(region * ${hi - lo + 1} + ($nRegions - 1)) div $nRegions"))
      .withColumn("writable",
        if (readOnly.isEmpty) lit(true) else !col("region").isin(readOnly: _*))
    val puts = probes.where(col("writable"))
      .select(col("probe_key").as("rowkey"), lit("_canary_").as("family"),
        lit("probe").as("qualifier"))
    // the put: probe cells of writable regions join the live cell set
    // (the '_canary_' filter constant-folds the data branch away, so
    // the read-back costs probe-cardinality work, not a corpus scan)
    val live = cells.select("rowkey", "family", "qualifier").unionByName(puts)
    val readBack = live.where(col("family") === "_canary_")
      .select(col("rowkey").as("_rb_key"),
        totalOrderBucket(col("rowkey"), lit(lo), lit(hi), nRegions)
          .as("_rb_region"))
    val load = cells
      .groupBy(totalOrderBucket(col("rowkey"), lit(lo), lit(hi), nRegions)
        .as("region"))
      .agg(count(lit(1)).as("n_cells"))
    // the delete: every probe cell leaves the set; a nonzero leftover
    // means the tombstone missed (the delete half of the round trip)
    val leftover = live
      .join(broadcast(puts.select("rowkey", "family")), Seq("rowkey", "family"),
        "left_anti")
      .where(col("family") === "_canary_")
      .agg(count(lit(1)).as("_left"))
    probes
      .join(readBack, probes("region") === readBack("_rb_region") &&
        probes("probe_key") === readBack("_rb_key"), "left")
      .join(load, Seq("region"), "left")
      .crossJoin(broadcast(leftover))
      .select(col("region"), col("probe_key"), col("writable"),
        col("_rb_key").isNotNull.as("put_ok"),
        (col("_rb_key").isNotNull && col("_left") === 0L).as("roundtrip_ok"),
        coalesce(col("n_cells"), lit(0L)).as("n_cells"))
  }

  /** Merge (hbase-server/.../util/Merge.java:57, and the master path
    * CatalogJanitor feeds) — EXECUTE the merge half of
    * [[normalizerPlan]]: each planned (bucket, other_bucket) pair
    * collapses into the lower bucket id, and the merged region table
    * reports combined row counts, the union key range and how many
    * regions folded in. The plan is master METADATA (a broadcast);
    * the data-side cost is one re-aggregation of bucket stats —
    * merging regions re-labels sorted ranges, it does not rewrite
    * data (the reference merges HFile references, not cells). */
  def applyMerges(buckets: DataFrame, plan: DataFrame): DataFrame = {
    val remap = plan.where(col("action") === "merge")
      .select(col("other_bucket").as("bucket"), col("bucket").as("_tgt"))
    buckets.join(broadcast(remap), Seq("bucket"), "left")
      .withColumn("new_region", coalesce(col("_tgt"), col("bucket")))
      .groupBy("new_region")
      .agg(sum(col("n_rows")).as("n_rows"), min(col("min_key")).as("min_key"),
        max(col("max_key")).as("max_key"), count(lit(1)).as("n_merged"))
  }

  /** The split half of region-plan execution (SplitTransaction —
    * hbase-server/.../regionserver/SplitTransactionImpl.java; the
    * reference splits at the largest store file's midkey,
    * RegionSplitPolicy.getSplitPoint): each bucket the normalizer
    * flagged for SPLIT divides at its own data MEDIAN key into two
    * daughters — low daughter 2b, high daughter 2b+1; unsplit buckets
    * carry through as 2b, so daughter ids stay sorted. One broadcast
    * of the (tiny) split plan + per-split-bucket medians, one
    * re-aggregation of daughter stats.
    *
    * `approx = false` is the ORACLE form (exact per-bucket
    * `percentile`, byte-exact vs DuckDB but buffers a region's keys in
    * one aggregation buffer); `approx = true` runs the fixed-state
    * `approx_percentile` sketch — the same exact-vs-scale split as
    * region_splitter, and a daughter boundary a few keys off the true
    * median is still an even split.
    *
    * @param tagged data rows carrying a `bucket` region tag. */
  def applySplits(tagged: DataFrame, plan: DataFrame, keyCol: String,
                  approx: Boolean = false): DataFrame = {
    Hashes.requireIdentifier(keyCol, "applySplits key column") // SQL splice below
    val fn = if (approx) "approx_percentile" else "percentile"
    val mids = tagged
      .join(broadcast(plan.where(col("action") === "split").select("bucket")),
        Seq("bucket"))
      .groupBy("bucket").agg(expr(s"$fn($keyCol, 0.5)").as("_mid"))
    tagged.join(broadcast(mids), Seq("bucket"), "left")
      .withColumn("daughter",
        col("bucket") * 2 + when(col("_mid").isNotNull && col(keyCol) > col("_mid"), 1L)
          .otherwise(0L))
      .groupBy("daughter")
      .agg(count(lit(1)).as("n_rows"), min(col(keyCol)).as("min_key"),
        max(col(keyCol)).as("max_key"))
  }

  /** Client region location (hbase-client/.../client/ConnectionManager
    * .java locateRegionInMeta — the reversed META scan floorEntry every
    * Get/Put/Scan resolves before its first RPC; MetaTableAccessor
    * .java getRegionLocation): for each lookup key, the META region
    * whose [start_key, end_key) interval holds it. OFFLINE rows — split
    * parents awaiting catalog-janitor cleanup (HRegionInfo.isOffline,
    * skipped at ConnectionManager.java:1381) — are excluded exactly as
    * the client excludes them; a key no online region covers (a chain
    * hole) surfaces as an UNLOCATABLE row (NULL region) — the condition
    * the client retries on, which a location audit must not drop. META
    * is master metadata (one broadcast); the lookup side streams
    * through the non-equi broadcast join unshuffled and rolls up in one
    * map-side-partial aggregate — billions of lookups cost one scan.
    * Assumes a non-overlapping online chain ([[hbckRegionChain]]'s
    * precondition, as with bulkLoadAssign). */
  def regionLocate(keys: DataFrame, keyCol: String, regions: DataFrame): DataFrame = {
    val online = regions
      .where(!coalesce(col("offline"), lit(false)))
      .select(col("region_id").as("_rid"), col("start_key").as("_rs"),
        col("end_key").as("_re"))
    // a region no lookup touched must still report (n_keys = 0): the
    // audit has to distinguish "no traffic" from "missing from META"
    // (the same zero-row posture as requestMetrics' idle regions).
    // Rather than re-framing the rollup against the catalog — which
    // would consume the aggregate twice and scan the lookup side twice
    // — SEED the single aggregate with one zero-weight row per online
    // region: sum(weight) counts only real lookups, seed-only groups
    // come out 0, and the unlocatable NULL-region group appears
    // exactly when holes were hit. One scan, one shuffle.
    val keyType = keys.schema(keyCol).dataType
    val located = keys.join(broadcast(online),
        (col("_rs").isNull || col(keyCol) >= col("_rs")) &&
        (col("_re").isNull || col(keyCol) < col("_re")), "left")
      .select(col("_rid"), col("_rs"), col("_re"),
        col(keyCol).as("_k"), lit(1L).as("_w"))
    val seed = online.select(col("_rid"), col("_rs"), col("_re"),
      lit(null).cast(keyType).as("_k"), lit(0L).as("_w"))
    located.unionByName(seed)
      .groupBy(col("_rid").as("region_id"), col("_rs").as("start_key"),
        col("_re").as("end_key"))
      .agg(sum(col("_w")).as("n_keys"), min(col("_k")).as("first_key"),
        max(col("_k")).as("last_key"))
  }

  /** Per-region request metrics (RegionLoad.java getReadRequestsCount /
    * getWriteRequestsCount — the ClusterStatus numbers every HBase
    * dashboard and the balancer's cost functions read;
    * HRegionServer.java metrics): read vs write request counts per
    * region bucket from one pass over the request log (a single
    * map-side-partial aggregate with conditional sums — NOT one job
    * per counter), plus the hotspot flag operators actually act on:
    * total > 2× the per-region mean, the same threshold family as
    * normalizerPlan's split rule. The mean rides a one-row broadcast;
    * the region frame is generated so a region with NO traffic
    * reports zeros (an idle region is a signal, not a missing row). */
  def requestMetrics(log: DataFrame, keyCol: String, isWrite: Column,
                     nRegions: Int): DataFrame = {
    require(nRegions >= 1, "need at least one region")
    val counts = withTotalOrderTag(log, keyCol, nRegions)
      .groupBy("region")
      // NULL classification counts as a WRITE — the quotaThrottleSize
      // convention (the stricter ledger), so the two tools put an
      // unclassifiable request in the SAME column
      .agg(sum(when(coalesce(isWrite, lit(true)), 0L).otherwise(1L))
          .as("read_requests"),
        sum(when(coalesce(isWrite, lit(true)), 1L).otherwise(0L))
          .as("write_requests"))
    // literal frame — deriving it from the bounds aggregate would
    // re-scan the log for nRegions rows (the canaryWriteProbe
    // spark.range pattern)
    val frame = log.sparkSession.range(0, nRegions).toDF("region")
    // nRegions metadata rows feeding two forks (mean + final) — lazy,
    // the mean branch would re-run the whole log aggregation. The cap
    // is nRegions BY CONSTRUCTION: the default 4096 would refuse a
    // legitimate wide layout with a misleading "not metadata" error
    val full = materializeMeta(maxRows = math.max(nRegions, 4096),
      df = frame.join(counts, Seq("region"), "left")
      .select(col("region"),
        coalesce(col("read_requests"), lit(0L)).as("read_requests"),
        coalesce(col("write_requests"), lit(0L)).as("write_requests"))
      .withColumn("total_requests", col("read_requests") + col("write_requests")))
    val avgReq = full.agg(avg(col("total_requests")).as("_avg"))
    full.crossJoin(broadcast(avgReq))
      .select(col("region"), col("read_requests"), col("write_requests"),
        col("total_requests"),
        (col("total_requests") > col("_avg") * 2).as("hot"))
  }

  /** Replication-source lag report (hbase-server/.../replication/
    * regionserver/MetricsSource.java — sizeOfLogQueue,
    * ageOfLastShippedOp; ReplicationSourceManager.java per-peer WAL
    * queues): each peer holds a replicated-up-to watermark into the
    * WAL; its backlog is every entry past the watermark, its age the
    * gap to the newest entry. One scan of the WAL against the
    * broadcast peer table (non-equi — the WAL side never shuffles
    * before its partial aggregate), then the tiny peer frame
    * left-joins the per-peer rollup so a CAUGHT-UP peer reports
    * n_pending = 0 / lag 0 instead of vanishing — a replication
    * dashboard that drops healthy peers can't distinguish "healthy"
    * from "deleted". Age is measured against the newest WAL entry
    * (not wall clock) so the report is deterministic and
    * engine-portable. */
  def replicationLag(wal: DataFrame, tsCol: String, peers: DataFrame): DataFrame = {
    // a NULL watermark is a peer that has shipped NOTHING (a
    // bootstrapping queue): it must report the WHOLE wal pending and
    // the full newest-edit age — the raw NULL would fail every
    // `ts > NULL` join condition and NULL-skip the lag subtraction,
    // reporting the one peer with maximal backlog as fully caught up
    val normPeers = peers.withColumn("_upto",
      coalesce(col("replicated_upto"), lit("1970-01-01 00:00:00").cast("timestamp")))
    val newest = wal.agg(max(col(tsCol)).as("_newest"))
    val pending = wal.join(broadcast(normPeers), col(tsCol) > col("_upto"))
      .groupBy("peer_id")
      .agg(count(lit(1)).as("n_pending"),
        min(col(tsCol)).as("oldest_pending"),
        max(col(tsCol)).as("newest_pending"))
    normPeers.join(pending, Seq("peer_id"), "left")
      .crossJoin(broadcast(newest))
      .select(col("peer_id"), col("replicated_upto"),
        coalesce(col("n_pending"), lit(0L)).as("n_pending"),
        col("oldest_pending"), col("newest_pending"),
        greatest(lit(0L), unix_timestamp(col("_newest")) -
          unix_timestamp(col("_upto"))).as("lag_sec"))
  }

  /** WAL roll plan (regionserver/LogRoller.java + FSHLog: a WAL file
    * rolls when its size crosses the roll threshold — blocksize ×
    * hbase.regionserver.hlog.blocksize multiplier — or on the roll
    * period). Re-expressed over hour-grain byte chunks per server: a
    * chunk's segment is ⌊bytes-before-it / rollBytes⌋, so a segment
    * closes as the running size crosses the threshold — the WAL file
    * inventory (count, span, bytes) that sizes log-split recovery.
    *
    * Scale shape: chunks are (server × hour) metadata rows from one
    * map-side-combinable aggregate the CALLER runs; the cumsum window
    * partitions by server over those bounded rows, never the edit
    * stream.
    *
    * @param chunks (server, hour, n_edits, bytes). */
  def walRollPlan(chunks: DataFrame, rollBytes: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(rollBytes >= 1, s"rollBytes ($rollBytes) must be positive")
    val w = Window.partitionBy("server").orderBy("hour")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    chunks
      .withColumn("_cum", sum(col("bytes")).over(w))
      .withColumn("segment_id", expr(s"(_cum - bytes) div $rollBytes"))
      .groupBy("server", "segment_id")
      .agg(min("hour").as("first_hour"), max("hour").as("last_hour"),
        sum("n_edits").as("n_edits"), sum("bytes").as("bytes"))
  }

  /** Per-family flush selection (regionserver/FlushLargeStoresPolicy
    * .java:95 selectStoresToFlush — HBASE-10201's per-CF flush): when
    * a region's memstore crosses the flush trigger, flush only the
    * families at/above the lower bound; if NO family qualifies, flush
    * them all (the policy's fallback, FlushAllStoresPolicy behavior).
    * Thresholds derive from the corpus total so the audit is
    * scale-factor-proof.
    *
    * Scale shape: per-(region, family) sizes are one map-side-partial
    * aggregate; region totals re-aggregate the family rows (already
    * keyed by region — the join reuses the partitioning); corpus total
    * is a 1-row broadcast.
    *
    * @param famSizes (region, family, mem_bytes). */
  def flushPolicy(famSizes: DataFrame, triggerDiv: Long = 10L,
                  lowerDiv: Long = 40L): DataFrame = {
    // famSizes is (region × family) metadata feeding FOUR forks
    // (corpus total, selection, region rollup, final join) — callers
    // whose famSizes aggregates a corpus should pre-materialize it
    // (Tools.materializeMeta, as the registered flush_policy query
    // does); the helper itself stays LAZY so a many-thousand-region
    // deployment is never hard-capped or eagerly collected here
    val fam = famSizes
    val corpus = fam.agg(sum("mem_bytes").as("_tot"))
    val sel = fam.crossJoin(broadcast(corpus))
      .withColumn("fam_selected",
        col("mem_bytes") >= expr(s"_tot div $lowerDiv"))
    val regions = sel.groupBy("region")
      .agg(sum("mem_bytes").as("region_bytes"),
        max(when(col("fam_selected"), 1L).otherwise(0L)).as("_any"))
      .crossJoin(broadcast(corpus))
      .withColumn("flush_region", col("region_bytes") > expr(s"_tot div $triggerDiv"))
    sel.join(regions.select("region", "region_bytes", "_any", "flush_region"),
        "region")
      .withColumn("flushed",
        col("flush_region") && (col("fam_selected") || col("_any") === 0L))
      .select("region", "family", "mem_bytes", "region_bytes",
        "flush_region", "flushed")
  }

  /** SCD Type-2 dimension build over a versioned cell history — the
    * warehouse re-expression of HBase's multi-version cells (KeyValue
    * .java's ts dimension): each version becomes an effectivity
    * interval `[valid_from, valid_to)` with `valid_to` = the next
    * version's ts (NULL = current). A version superseded at its own
    * timestamp (same-ts tie, later `tieCol` wins) gets a zero-width
    * interval and is never effective — the same latest-wins rule the
    * scan path applies.
    *
    * Scale shape: ONE window shuffle partitioned by the dimension key
    * (versions per key are bounded by maxVersions, never data-scale
    * within a partition beyond the key's own history). */
  def scd2Build(cells: DataFrame, keyCols: Seq[String], tsCol: String,
                tieCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(tieCol))
    cells
      .withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Per-peer table-CFs replication scoping (hbase-client/.../
    * replication/ReplicationPeerConfig.java with the tableCFsMap the
    * 1.3 ReplicationAdmin.setPeerTableCFs installs: peer ⇒
    * "table1:cf1,cf2;table2" — a NULL family list replicates every
    * family of the table; TableCfWALEntryFilter applies it per WAL
    * edit). One scan of the tagged edit stream against the broadcast
    * peer-config relation (table must match; family matches or the
    * config row is family-wildcard), then a per-(peer, table, family)
    * rollup — the shipped-edit accounting per peer scope.
    *
    * Scale shape: config is master metadata (a handful of rows,
    * broadcast); the inner join fans each edit out only to the peers
    * that actually subscribe to it, and the rollup takes map-side
    * partials. The edit stream never shuffles pre-aggregation.
    *
    * @param edits  (table_name, family, ...) tagged WAL edit stream.
    * @param config (peer_id, tbl, fam) peer scopes, fam NULL = all. */
  def replicationTableCfs(edits: DataFrame, config: DataFrame): DataFrame =
    edits.join(broadcast(config),
        col("tbl") === col("table_name") &&
          (col("fam").isNull || col("fam") === col("family")))
      .groupBy("peer_id", "table_name", "family")
      .agg(count(lit(1)).as("n_edits"))

  /** Master LogCleaner chore over oldWALs (master/cleaner/LogCleaner
    * .java with its delegate chain; CleanerChore.checkAndDeleteFiles
    * requires EVERY delegate to agree before a file dies):
    * TimeToLiveLogCleaner.java:40 keeps a segment while its life is
    * within the TTL (life > ttl deletes — strict, and 'now' here is
    * the corpus max edit ts so the audit is deterministic), and
    * ReplicationLogCleaner (replication/master/ReplicationLogCleaner
    * .java — a WAL any peer still has queued must survive) keeps a
    * segment until every peer's replicated-upto watermark has passed
    * its NEWEST edit. WAL segments = day-grain groups of the edit
    * stream (a segment closes with its newest edit; the reference
    * uses file mtime, which is exactly that close time).
    *
    * Scale shape: segments are metadata rows (one per day) from one
    * map-side-combinable aggregate; the TTL cutoff and the min peer
    * watermark are 1-row broadcasts — the audit never shuffles the
    * edit stream. */
  def logCleaner(wal: DataFrame, tsCol: String, peers: DataFrame,
                 ttl: String): DataFrame = {
    val segs = wal
      .groupBy(date_trunc("DAY", col(tsCol)).as("segment_day"))
      .agg(count(lit(1)).as("n_edits"),
        min(col(tsCol)).as("oldest_ts"), max(col(tsCol)).as("newest_ts"))
    val cut = wal.agg((max(col(tsCol)) - graft.core.Intervals.literal(ttl)).as("_cut"))
    val wm = peers.agg(min(col("replicated_upto")).as("_wm"),
      count(lit(1)).as("_npeers"),
      sum(when(col("replicated_upto").isNull, 1L).otherwise(0L)).as("_nullwm"))
    segs.crossJoin(broadcast(cut)).crossJoin(broadcast(wm))
      .withColumn("ttl_ok", col("newest_ts") < col("_cut"))
      // no peers configured = the replication delegate passes through
      // (ReplicationLogCleaner with an empty queue set) — a NULL min
      // watermark must not NULL-poison deletable into never-delete.
      // But a PEER with a NULL watermark (shipped nothing yet) pins
      // EVERY segment: min() silently skips NULLs, which would delete
      // WAL data the bootstrapping peer still queues — the exact loss
      // the replication delegate exists to prevent
      .withColumn("shipped_ok",
        col("_npeers") === 0L ||
          (col("_nullwm") === 0L && col("newest_ts") <= col("_wm")))
      .withColumn("deletable", col("ttl_ok") && col("shipped_ok"))
      .drop("_cut", "_wm", "_npeers", "_nullwm")
  }

  /** Three-way DataBlockEncoding decision table: per-region encoded
    * byte counts for PREFIX vs DIFF vs FAST_DIFF against the raw
    * KeyValue layout — the comparison an operator sizing block
    * encoding for a table actually reads (hbase-common/.../io/encoding/
    * PrefixKeyDeltaEncoder.java:40 internalEncode,
    * DiffKeyDeltaEncoder.java:207 compressSingleKeyValue,
    * FastDiffDeltaEncoder.java:73 compressSingleKeyValue).
    *
    * Cell model: fixed-width padded row (rowLen = width of `row`),
    * ONE column family of `famLen` bytes per file, variable qualifier
    * and value, 8-byte timestamp (µs), constant Put type — so
    * keyLength = 2 + rowLen + 1 + famLen + qualLen + 8 + 1 and a raw
    * cell costs 8 (len ints) + keyLength + valueLength. Cells sort by
    * (row, qualifier, ts, tiebreak) within their region; blocks of
    * `blockCells` reset the delta chain and re-carry the family (the
    * encoder state is per block — the seek unit).
    *
    * Byte costs follow the encoders exactly:
    *  - PREFIX: vint(kLen−common) + vint(vLen) + vint(common) +
    *    (kLen−common) + vLen, common over the flat key INCLUDING
    *    ts/type (findCommonPrefixInFlatKey withTsType=true).
    *  - DIFF: flag + optional vint(kLen)/vint(vLen) (same-length
    *    flags) + vint(common) + row/qual suffix + min(tsFitsIn,
    *    diffFitsIn) timestamp bytes (FLAG_TIMESTAMP_IS_DIFF) + value;
    *    common EXCLUDES ts/type; family written once per block; type
    *    byte elided via FLAG_SAME_TYPE.
    *  - FAST_DIFF: like DIFF but the timestamp stores its suffix past
    *    the common BE-byte prefix with the previous cell's ts, and an
    *    identical value is elided entirely (FLAG_SAME_VALUE).
    *
    * `best_encoding` is the byte-minimal of the three (ties break in
    * DataBlockEncoding enum id order PREFIX < DIFF < FAST_DIFF).
    *
    * Scale shape: one window shuffle partitioned by REGION, every
    * cost a codegen'd per-row projection over lag() columns, then a
    * map-side-partial rollup per region — the
    * [[prefixEncodingSavings]] discipline. */
  /** Common leading big-endian bytes of the `_ts`/`_pts` long columns,
    * as a pure codegen XOR ladder (r17): the former
    * transform(sequence(1,8)) + array_position form was an interpreted
    * higher-order function allocating an 8-flag array PER CELL on the
    * encoding queries' hottest projection. Equivalence: with
    * x = _ts ^ _pts, the first differing BE byte is the byte holding
    * x's highest set bit, so the common-prefix byte count is 8 when
    * x = 0 and otherwise the number of whole top bytes x's bits stay
    * clear of — the shiftrightunsigned ladder below. A NULL `_pts`
    * yields 0 through the ELSE, matching the old form's
    * all-flags-unknown → IF false-arm 0 → position 1 → 0 (that branch
    * is unreachable anyway: `_tsc` only counts after `_pq` matched,
    * which a first-of-partition NULL row never does). Spec-asserted
    * against the HOF reference over driven edge pairs (InsightsSpec). */
  private[graft] val tsCommonBytesSql: String =
    """cast(CASE WHEN (_ts ^ _pts) = 0 THEN 8
      |  WHEN shiftrightunsigned(_ts ^ _pts, 8)  = 0 THEN 7
      |  WHEN shiftrightunsigned(_ts ^ _pts, 16) = 0 THEN 6
      |  WHEN shiftrightunsigned(_ts ^ _pts, 24) = 0 THEN 5
      |  WHEN shiftrightunsigned(_ts ^ _pts, 32) = 0 THEN 4
      |  WHEN shiftrightunsigned(_ts ^ _pts, 40) = 0 THEN 3
      |  WHEN shiftrightunsigned(_ts ^ _pts, 48) = 0 THEN 2
      |  WHEN shiftrightunsigned(_ts ^ _pts, 56) = 0 THEN 1
      |  ELSE 0 END as bigint)""".stripMargin

  def blockEncodingDecision(df: DataFrame, region: Column, row: Column,
                            qualifier: Column, tsMicros: Column,
                            value: Column, tiebreak: Column, famLen: Int,
                            blockCells: Int = 64): DataFrame = {
    require(blockCells >= 2, s"blockCells ($blockCells) must be at least 2")
    require(famLen >= 1, s"famLen ($famLen) must be at least 1")
    import org.apache.spark.sql.expressions.Window
    // the shared codec width ladders ([[uvintBytes]]/[[ufintBytes]])
    def vint(x: Column): Column = uvintBytes(x)
    def fitsIn(x: Column): Column = ufintBytes(x)
    // leading common chars of two strings (self-caps at the shorter;
    // equal strings count whole) — the native fused loop instead of
    // the flags-array fold: no per-row array allocation at scan volume
    def commonChars(a: String, b: String): Column =
      graft.core.CommonPrefixLen.commonPrefixLen(col(a), col(b))
    val w = Window.partitionBy("region").orderBy("_row", "_q", "_ts", "_tie")
    val famPart = 1 + famLen // famLen byte + family name
    // Par.spread feeds the window its region partitioning EXPLICITLY
    // (r17): the window's own exchange is AQE-coalesced to ONE task on
    // thin inputs (task ≈ wall measured on the encoding queries), and
    // the per-cell delta projection below is this operator's whole
    // cost; an explicit-count repartition satisfies the window's
    // clustering, so no second exchange appears
    graft.core.Par.spread(
      df.select(region.as("region"), row.as("_row"), qualifier.as("_q"),
        tsMicros.cast("long").as("_ts"), value.as("_v"),
        tiebreak.as("_tie")), "region")
      .withColumn("_rn", row_number().over(w))
      .withColumn("_pq", lag(col("_q"), 1).over(w))
      .withColumn("_pts", lag(col("_ts"), 1).over(w))
      .withColumn("_pv", lag(col("_v"), 1).over(w))
      .withColumn("_prow", lag(col("_row"), 1).over(w))
      .withColumn("_first",
        expr(s"(_rn - 1) % $blockCells") === 0 || col("_prow").isNull)
      .withColumn("_rlen", length(col("_row")).cast("long"))
      .withColumn("_qlen", length(col("_q")).cast("long"))
      .withColumn("_pqlen", length(col("_pq")).cast("long"))
      .withColumn("_vlen", length(col("_v")).cast("long"))
      .withColumn("_pvlen", length(col("_pv")).cast("long"))
      .withColumn("_klen", lit(2L) + col("_rlen") + lit(1L + famLen) +
        col("_qlen") + lit(9L))
      .withColumn("_rkc", commonChars("_row", "_prow"))
      // findCommonPrefixInFlatKey, bypassFamilyCheck=true, no ts/type:
      // 2-byte rowlen (always equal: fixed width) + row common; past a
      // full row match the famlen byte + family ride along, then the
      // qualifier common
      .withColumn("_common", when(col("_rkc") < col("_rlen"), col("_rkc") + 2L)
        .otherwise(col("_rkc") + lit(3L + famLen) + commonChars("_q", "_pq")))
      // common leading BE bytes of the two 8-byte timestamps — the
      // codegen XOR ladder (see [[tsCommonBytesSql]] for the
      // equivalence argument vs the interpreted HOF form it replaced)
      .withColumn("_tsc", expr(tsCommonBytesSql))
      // withTsType=true common (PREFIX): the fold is SEQUENTIAL — ts
      // bytes only count after the row fully matched AND the whole
      // qualifier matched (findCommonPrefixInFlatKey early-returns at
      // the first divergence; a qualifier coincidence across a row
      // change must not reach the timestamp), then the always-equal
      // type byte rides along after all 8 ts bytes
      .withColumn("_commonT",
        when(col("_rkc") === col("_rlen") && col("_q") === col("_pq"),
          col("_common") + when(col("_tsc") === 8L, 9L).otherwise(col("_tsc")))
        .otherwise(col("_common")))
      .withColumn("_suffix", when(col("_common") < col("_rlen") + 2L,
          col("_rlen") + 2L - col("_common") + col("_qlen"))
        .otherwise(col("_qlen") - (col("_common") - col("_rlen") - lit(3L + famLen))))
      .withColumn("_tfits", fitsIn(col("_ts")))
      .withColumn("_dfits", fitsIn(abs(col("_pts") - col("_ts"))))
      .withColumn("_raw", lit(8L) + col("_klen") + col("_vlen"))
      .withColumn("_prefix", when(col("_first"),
          vint(col("_klen")) + vint(col("_vlen")) + 1L + col("_klen") + col("_vlen"))
        .otherwise(vint(col("_klen") - col("_commonT")) + vint(col("_vlen")) +
          vint(col("_commonT")) + col("_klen") - col("_commonT") + col("_vlen")))
      .withColumn("_diff", when(col("_first"),
          lit(famPart.toLong) + 1L + vint(col("_klen")) + vint(col("_vlen")) + 1L +
            col("_rlen") + 2L + col("_qlen") + col("_tfits") + 1L + col("_vlen"))
        .otherwise(lit(1L) +
          when(col("_qlen") === col("_pqlen"), 0L).otherwise(vint(col("_klen"))) +
          when(col("_vlen") === col("_pvlen"), 0L).otherwise(vint(col("_vlen"))) +
          vint(col("_common")) + col("_suffix") +
          least(col("_tfits"), col("_dfits")) + col("_vlen")))
      .withColumn("_fast", when(col("_first"),
          lit(2L) + vint(col("_klen")) + vint(col("_vlen")) + col("_klen") + col("_vlen"))
        .otherwise(lit(1L) +
          when(col("_qlen") === col("_pqlen"), 0L).otherwise(vint(col("_klen"))) +
          when(col("_vlen") === col("_pvlen"), 0L).otherwise(vint(col("_vlen"))) +
          vint(col("_common")) + col("_suffix") + (lit(8L) - col("_tsc")) +
          when(col("_v") === col("_pv"), 0L).otherwise(col("_vlen"))))
      .groupBy("region")
      .agg(count(lit(1)).as("n_cells"),
        sum(col("_raw")).as("raw_bytes"),
        sum(col("_prefix")).as("prefix_bytes"),
        sum(col("_diff")).as("diff_bytes"),
        sum(col("_fast")).as("fast_diff_bytes"))
      .withColumn("prefix_saved_ppm",
        ppmExact("raw_bytes - prefix_bytes", "raw_bytes"))
      .withColumn("diff_saved_ppm",
        ppmExact("raw_bytes - diff_bytes", "raw_bytes"))
      .withColumn("fast_diff_saved_ppm",
        ppmExact("raw_bytes - fast_diff_bytes", "raw_bytes"))
      .withColumn("best_encoding",
        when(col("prefix_bytes") <= least(col("diff_bytes"), col("fast_diff_bytes")),
          "PREFIX")
        .when(col("diff_bytes") <= col("fast_diff_bytes"), "DIFF")
        .otherwise("FAST_DIFF"))
  }

  /** putCompressedInt / UVIntTool.numBytes — 7-bit varint width of a
    * non-negative int (0 → 1): the encoders' vint, shared by every
    * block-encoding cost model so the ladders can't drift apart. */
  private def uvintBytes(x: Column): Column =
    when(x < 128L, 1L).when(x < (1L << 14), 2L)
      .when(x < (1L << 21), 3L).when(x < (1L << 28), 4L).otherwise(5L)

  /** ByteBufferUtils.longFitsIn / UFIntTool.numBytes — full bytes of
    * a long (0 → 1; NEGATIVE → 8, all bytes move — callers must not
    * lose that guard by reimplementing the ladder). */
  private def ufintBytes(x: Column): Column =
    when(x < 0L, 8L)
      .when(x < (1L << 8), 1L).when(x < (1L << 16), 2L)
      .when(x < (1L << 24), 3L).when(x < (1L << 32), 4L)
      .when(x < (1L << 40), 5L).when(x < (1L << 48), 6L)
      .when(x < (1L << 56), 7L).otherwise(8L)

  /** UVLongTool.numBytes — 7-bit varint width of a long: ⌈bits/7⌉,
    * so EVERY non-negative long fits in ≤9 bytes (2^63−1 has 63
    * bits); only a negative (64 significant bits) takes 10. The
    * negative arm leads because -x < 2^7 would otherwise match the
    * 1-byte rung; a 1L << 63 rung would be Long.MinValue and make
    * the 9-byte case unreachable. */
  private def uvlongBytes(x: Column): Column =
    (2 to 8).foldLeft(when(x < 0L, 10L).when(x < (1L << 7), 1L)) {
      (acc, n) => acc.when(x < (1L << (7 * n)), n.toLong)
    }.otherwise(9L)

  /** Size-based quota throttles (hbase-client/.../quotas/ThrottleType
    * .java:33-39 — REQUEST_SIZE / WRITE_SIZE / READ_SIZE beside the
    * REQUEST_NUMBER arm quota_throttle already prices). Enforcement
    * order per TimeBasedLimiter.checkQuota (hbase-server/.../quotas/
    * TimeBasedLimiter.java:113): the request-NUMBER limiter is
    * consulted first, then total request SIZE (write+read bytes),
    * then the write-size limiter (only for requests that write), then
    * the read-size limiter — `throttle_as` names the FIRST limiter in
    * that order a window's totals exceed, i.e. the ThrottlingException
    * type a client would actually see (the mixed-type precedence).
    *
    * Byte-weighted accounting is a different ledger from counts: a
    * window can be fine on requests and throttled on bytes, or vice
    * versa. One map-side-combinable aggregate per (principal, window)
    * + a broadcast limits join — bytes sum per window, requests never
    * shuffle individually. */
  def quotaThrottleSize(log: DataFrame, principal: Column, tier: Column,
                        window: Column, isRead: Column, bytes: Column,
                        limits: DataFrame): DataFrame =
    quotaThrottleImpl(log, principal, tier, window, isRead, bytes, limits,
      extraAggs = Nil,
      throttleAs =
        when(col("n_reqs") > col("max_reqs"), "NumRequestsExceeded")
          .when(col("req_bytes") > col("max_req_bytes"), "RequestSizeExceeded")
          .when(col("write_bytes") > 0 &&
            col("write_bytes") > col("max_write_bytes"), "WriteSizeExceeded")
          .when(col("read_bytes") > 0 &&
            col("read_bytes") > col("max_read_bytes"), "ReadSizeExceeded"),
      outCols = Seq("principal", "tier", "window", "n_reqs", "req_bytes",
        "write_bytes", "read_bytes", "throttle_as", "over_quota"))

  /** ONE copy of the throttle scaffold shared by [[quotaThrottleSize]]
    * and [[quotaThrottleCounts]] (r12 analytics review: the ~25-line
    * normalize/aggregate/limits-join/verdict pipeline existed twice
    * and had to be hand-synced): normalization — an UNCLASSIFIABLE
    * request (isRead = NULL) charges the WRITE ledger, the stricter
    * side and the requestMetrics convention, exactly what the oracles'
    * CASE WHEN r THEN read ELSE write does — then the ONE map-side-
    * combinable aggregate per (principal, tier, window), the broadcast
    * limits join, and the over_quota tail. Callers contribute their
    * extra aggregate columns, their limiter CASE (evaluated over the
    * joined row), and their output shape. */
  private def quotaThrottleImpl(log: DataFrame, principal: Column,
      tier: Column, window: Column, isRead: Column, bytes: Column,
      limits: DataFrame, extraAggs: Seq[Column], throttleAs: Column,
      outCols: Seq[String]): DataFrame = {
    val aggs = Seq(count(lit(1)).as("n_reqs")) ++ extraAggs ++ Seq(
      sum(col("_b")).as("req_bytes"),
      sum(when(!col("_r"), col("_b")).otherwise(0L)).as("write_bytes"),
      sum(when(col("_r"), col("_b")).otherwise(0L)).as("read_bytes"))
    log.select(principal.as("principal"), tier.as("tier"),
        window.as("window"), coalesce(isRead, lit(false)).as("_r"),
        bytes.cast("long").as("_b"))
      .groupBy("principal", "tier", "window")
      .agg(aggs.head, aggs.tail: _*)
      .join(broadcast(limits), "tier")
      .withColumn("throttle_as", throttleAs)
      .withColumn("over_quota", col("throttle_as").isNotNull)
      .select(outCols.map(col): _*)
  }

  /** The FULL six-limiter throttle surface (hbase-client/.../quotas/
    * ThrottleType.java:28-45 — REQUEST_NUMBER, REQUEST_SIZE,
    * WRITE_NUMBER, WRITE_SIZE, READ_NUMBER, READ_SIZE), completing
    * [[quotaThrottleSize]]'s four with the per-direction request-COUNT
    * limiters. Enforcement order per TimeBasedLimiter.checkQuota
    * (hbase-server/.../quotas/TimeBasedLimiter.java:113-139) is
    * INTERLEAVED, not grouped by kind: total request count, total
    * request size, then — only for requests that write — write COUNT
    * (line 122) before write SIZE (127), then — only for requests
    * that read — read COUNT (133) before read SIZE (136).
    * `throttle_as` names the FIRST limiter in that order the window's
    * totals exceed, i.e. the ThrottlingException type a client sees.
    * The per-request `writeSize > 0` guard becomes "the window did
    * writes" (n_write_reqs > 0) — the window is this model's request.
    *
    * Same scale shape as the size form: ONE map-side-combinable
    * aggregate per (principal, window) + a broadcast limits join —
    * requests never shuffle individually.
    *
    * @param limits (tier, max_reqs, max_req_bytes, max_write_reqs,
    *               max_write_bytes, max_read_reqs, max_read_bytes). */
  def quotaThrottleCounts(log: DataFrame, principal: Column, tier: Column,
                          window: Column, isRead: Column, bytes: Column,
                          limits: DataFrame): DataFrame =
    quotaThrottleImpl(log, principal, tier, window, isRead, bytes, limits,
      extraAggs = Seq(
        sum(when(!col("_r"), 1L).otherwise(0L)).as("n_write_reqs"),
        sum(when(col("_r"), 1L).otherwise(0L)).as("n_read_reqs")),
      throttleAs =
        when(col("n_reqs") > col("max_reqs"), "NumRequestsExceeded")
          .when(col("req_bytes") > col("max_req_bytes"), "RequestSizeExceeded")
          .when(col("n_write_reqs") > 0 &&
            col("n_write_reqs") > col("max_write_reqs"), "NumWriteRequestsExceeded")
          .when(col("n_write_reqs") > 0 &&
            col("write_bytes") > col("max_write_bytes"), "WriteSizeExceeded")
          .when(col("n_read_reqs") > 0 &&
            col("n_read_reqs") > col("max_read_reqs"), "NumReadRequestsExceeded")
          .when(col("n_read_reqs") > 0 &&
            col("read_bytes") > col("max_read_bytes"), "ReadSizeExceeded"),
      outCols = Seq("principal", "tier", "window", "n_reqs", "n_write_reqs",
        "n_read_reqs", "req_bytes", "write_bytes", "read_bytes",
        "throttle_as", "over_quota"))

  /** PREFIX_TREE data-block-encoding size — the fourth encoder in
    * DataBlockEncoding (hbase-common/.../io/encoding/DataBlockEncoding
    * .java:46, implemented in hbase-prefix-tree/.../codec/prefixtree/):
    * per-region byte-exact trie-encoded size beside the
    * [[blockEncodingDecision]] three, under the same cell model
    * (fixed-width `rowWidth` row, ONE `famLen`-byte family, variable
    * qualifier/value, µs timestamp, all-Put types, no tags, mvcc
    * excluded — PrefixTreeEncoder with includeMvccVersion=false).
    *
    * A block (blockCells cells, the delta/seek unit shared with the
    * other encoders) prices per the writers:
    *  - ROW trie (RowNodeWriter.calculateWidth, RowSectionWriter
    *    .compile): one node per full row key or branch point; node =
    *    uvint(tokenW) + tokenW + uvint(fanOut) + fanOut + uvint(
    *    numCells) + numCells·fixedPerCell + fanOut·nextNodeOffsetW
    *    (non-leaves). Non-root tokens drop their FIRST byte (it lives
    *    in the parent's fan list), so Σ token bytes + Σ fan = the
    *    distinct-prefix count; nextNodeOffsetW is negotiated so the
    *    section total fits (strict <, UFIntTool.maxValueForNumBytes).
    *  - COLUMN tries (ColumnNodeWriter/ColumnSectionWriter): per node
    *    uvint(tokenLen) + tokenLen + parentOffsetW (FULL tokens — the
    *    reverse trie stores no fan), offset width negotiated the same
    *    way. The single family costs famLen+3; the always-present
    *    empty-tags trie costs 2.
    *  - TIMESTAMPS (LongEncoder): T distinct → T·ufint(max−min) delta
    *    bytes + per-cell index of ufint(T−1) bytes; T=1 → zero bytes,
    *    zero index width (compile()'s early return).
    *  - VALUES: raw concatenation; per-cell offset/length FInts sized
    *    by ufint(totalValueBytes)/ufint(maxValueLen).
    *  - HEADER (PrefixTreeBlockMeta.calculateNumMetaBytes): 25
    *    constant bytes under this model (8 one-byte widths, flags,
    *    zero-valued uvints) + uvints of the section sizes/counts +
    *    uvlong(minTimestamp).
    *
    * Trie stats come from the SORTED distinct keys: branch nodes are
    * exactly the distinct adjacent-pair LCP strings, and Σ token
    * chars = Σ (len − lcp-with-predecessor) — so one window (the
    * shared region sort) plus ONE per-block aggregation computes
    * everything; the ≤blockCells-element collected arrays are the
    * encoder's own bounded per-block state, and no second corpus
    * scan or shuffle exists. Requires rowWidth/qualifiers/famLen
    * < 128 chars and blockCells ≤ 127 (uvints of token/fan/numCells
    * are then 1 byte, as the header constants assume). */
  def prefixTreeEncodingSize(df: DataFrame, region: Column, row: Column,
                             qualifier: Column, tsMicros: Column,
                             value: Column, tiebreak: Column, famLen: Int,
                             rowWidth: Int, blockCells: Int = 64): DataFrame = {
    require(blockCells >= 2 && blockCells <= 127,
      s"blockCells ($blockCells) must be in [2, 127]")
    require(famLen >= 1 && famLen < 126, s"famLen ($famLen) out of range")
    require(rowWidth >= 1 && rowWidth < 128, s"rowWidth ($rowWidth) out of range")
    import org.apache.spark.sql.expressions.Window
    // the shared codec width ladders (one copy at object scope so the
    // three-way and trie models can't drift apart)
    def ufint(x: Column): Column = ufintBytes(x)
    def uvint(x: Column): Column = uvintBytes(x)
    def uvlong(x: Column): Column = uvlongBytes(x)
    // adjacent-pair LCP lengths / prefix strings over a sorted array
    def adjLcp(arr: Column): Column =
      when(size(arr) <= 1, typedLit(Seq.empty[Long]))
        .otherwise(transform(sequence(lit(2), size(arr)), i =>
          graft.core.CommonPrefixLen.commonPrefixLen(
            element_at(arr, i), element_at(arr, i - 1))))
    def adjLcpStr(arr: Column): Column =
      when(size(arr) <= 1, typedLit(Seq.empty[String]))
        .otherwise(transform(sequence(lit(2), size(arr)), i =>
          element_at(arr, i).substr(lit(1),
            graft.core.CommonPrefixLen.commonPrefixLen(
              element_at(arr, i), element_at(arr, i - 1)).cast("int"))))
    val w = Window.partitionBy("region").orderBy("_row", "_q", "_ts", "_tie")
    // explicit region spread into the window (the
    // blockEncodingDecision r17 note: AQE coalesces the window's thin
    // exchange to one task otherwise)
    val blocks = graft.core.Par.spread(df
      .select(region.as("region"), row.as("_row"), qualifier.as("_q"),
        tsMicros.cast("long").as("_ts"), value.as("_v"), tiebreak.as("_tie")),
      "region")
      .withColumn("_rn", row_number().over(w))
      .withColumn("_blk", expr(s"(_rn - 1) div $blockCells"))
      .groupBy("region", "_blk")
      .agg(count(lit(1)).as("c"),
        sum(length(col("_q"))).as("sqlen"),
        sum(length(col("_v"))).as("tvb"),
        max(length(col("_v"))).as("mvl"),
        count_distinct(col("_ts")).as("tn"),
        min("_ts").as("tmin"), max("_ts").as("tmax"),
        array_sort(collect_set(col("_row"))).as("rs"),
        array_sort(collect_set(col("_q"))).as("qs"))
    val sized = blocks
      .withColumn("nur", size(col("rs")).cast("long"))
      .withColumn("nuq", size(col("qs")).cast("long"))
      // Σ token chars: fixed-width rows → R·W − Σ lcp; variable quals
      // → Σ len − Σ lcp
      .withColumn("p_row", col("nur") * rowWidth -
        aggregate(adjLcp(col("rs")), lit(0L), (a, x) => a + x))
      .withColumn("p_q",
        aggregate(col("qs"), lit(0L), (a, x) => a + length(x)) -
          aggregate(adjLcp(col("qs")), lit(0L), (a, x) => a + x))
      // nodes = full keys ∪ adjacent-LCP branch strings (dedup = nubs)
      .withColumn("n_row",
        size(array_distinct(concat(col("rs"), adjLcpStr(col("rs"))))).cast("long"))
      .withColumn("n_q",
        size(array_distinct(concat(col("qs"), adjLcpStr(col("qs"))))).cast("long"))
      // per-cell FInt widths
      .withColumn("vow", ufint(col("tvb")))
      .withColumn("vlw", ufint(col("mvl")))
      .withColumn("tsiw", when(col("tn") === 1L, 0L).otherwise(ufint(col("tn") - 1L)))
      .withColumn("tsbytes",
        when(col("tn") === 1L, 0L).otherwise(col("tn") * ufint(col("tmax") - col("tmin"))))
      // qualifier section: per node uvint(tokenLen)=1 + token bytes,
      // + negotiated parent-offset FInt per node (strict <)
      .withColumn("qbase", col("n_q") + col("p_q"))
      .withColumn("qow",
        when(col("qbase") + col("n_q") < 255L, 1L)
          .when(col("qbase") + col("n_q") * 2L < 65535L, 2L).otherwise(3L))
      .withColumn("qbytes", col("qbase") + col("n_q") * col("qow"))
      // fixedBytesPerCell: famOffset(1) + qualOffset + tagsOffset(1) +
      // tsIndex + mvccIndex(0) + type(0, all same) + valueOffset + valueLen
      .withColumn("fbpc", lit(2L) + col("qow") + col("tsiw") + col("vow") + col("vlw"))
      // row section: 3 uvints per node + elided tokens + fan bytes +
      // per-cell fixed block + negotiated child pointers. Σ tokenW' =
      // P − (N−1) and Σ fan = N−1 cancel to P.
      .withColumn("rbase", col("n_row") * 3L + col("p_row") + col("c") * col("fbpc"))
      .withColumn("rptrs", col("n_row") - 1L)
      .withColumn("rowow",
        when(col("rbase") + col("rptrs") < 255L, 1L)
          .when(col("rbase") + col("rptrs") * 2L < 65535L, 2L).otherwise(3L))
      .withColumn("rbytes", col("rbase") + col("rptrs") * col("rowow"))
      // raw KeyValue bytes: 8 + keyLength + valueLength per cell
      .withColumn("kvbytes",
        col("c") * (20L + rowWidth + famLen) + col("sqlen") + col("tvb"))
      .withColumn("hdr", lit(25L) +
        uvint(col("kvbytes")) + uvint(col("rbytes")) + uvint(col("qbytes")) +
        uvint(col("tsbytes")) + uvint(col("tvb")) + uvlong(col("tmin")) +
        uvint(col("nur")) + uvint(col("nuq")))
      .withColumn("blkbytes", col("hdr") + col("rbytes") +
        lit(famLen + 3L) + col("qbytes") + lit(2L) + col("tsbytes") + col("tvb"))
    sized.groupBy("region")
      .agg(sum("c").as("n_cells"),
        sum("kvbytes").as("raw_bytes"),
        sum("blkbytes").as("prefix_tree_bytes"))
  }

  /** PREFIX data-block-encoding savings audit (hbase-common/.../io/
    * encoding/PrefixKeyDeltaEncoder.java:34 — each cell stores only
    * the bytes of its flat key past the common prefix with the
    * PREVIOUS cell; the first key of every block stores whole). The
    * number this reports — per-region key bytes saved — is exactly
    * what the DataBlockEncoding.PREFIX on/off decision reads off a
    * representative table (long shared-prefix keys ⇒ enable).
    *
    * Semantics per the encoder: cells sort by flat key within their
    * region; blocks of `blockCells` reset the delta chain (a block is
    * the seek unit, so its first key must be self-contained —
    * internalEncode's prevCell == null case). The common-prefix
    * length is the first-divergence character count — natively via
    * [[graft.core.CommonPrefixLen]] (the DuckDB oracle keeps the
    * equivalent position-wise fold; equivalence is property-tested,
    * and the fold self-caps at the shorter key either way).
    *
    * Scale shape: one window shuffle partitioned by REGION (the
    * physical sort unit — never a global order), the fold a codegen'd
    * per-row expression, then a map-side-partial rollup per region.
    * Regions grow with data; no partition ever exceeds a region. */
  def prefixEncodingSavings(df: DataFrame, flatKey: Column, region: Column,
                            blockCells: Int = 64): DataFrame = {
    require(blockCells >= 2, s"blockCells ($blockCells) must be at least 2")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("region").orderBy("_fk")
    // the native common-prefix loop (graft.core.CommonPrefixLen)
    // replaced the flags-array fold in r9 — same first-divergence
    // semantics, no per-row array allocation
    val commonLen =
      graft.core.CommonPrefixLen.commonPrefixLen(col("_fk"), col("_prev"))
    // explicit region spread into the window (the
    // blockEncodingDecision r17 note: AQE coalesces the window's thin
    // exchange to one task otherwise)
    graft.core.Par.spread(
      df.select(region.as("region"), flatKey.as("_fk")), "region")
      .withColumn("_rn", row_number().over(w))
      .withColumn("_prev", lag(col("_fk"), 1).over(w))
      .withColumn("_prefix", when(
          expr(s"(_rn - 1) % $blockCells") === 0 || col("_prev").isNull, lit(0L))
        .otherwise(commonLen))
      .groupBy("region")
      .agg(count(lit(1)).as("n_cells"),
        sum(length(col("_fk"))).cast("bigint").as("raw_key_bytes"),
        sum(col("_prefix")).as("saved_bytes"))
      .withColumn("saved_ppm", ppmExact("saved_bytes", "raw_key_bytes"))
  }

  /** Exact-integer ppm (`num·10⁶ div den`, num ≤ den) with the
    * overflow refusal the bm25 discipline prescribes: the 10⁶ multiply
    * wraps once the numerator crosses Long.Max/10⁶ (~9.2 TB of bytes
    * in ONE region — far past any sane split policy), and a wrapped
    * ppm silently corrupts the encoding report it feeds. The guard is
    * a codegen'd branch on the denominator (num ≤ den by contract),
    * free on the valid path; the column names are spliced, so they
    * obey the dqAudit identifier rule relaxed to +/- arithmetic. */
  private[analytics] def ppmExact(num: String, den: String): Column = {
    require((num + den).matches("[A-Za-z0-9_ +-]+"),
      s"ppm operands '$num'/'$den' must be identifier arithmetic") // SQL splice
    expr(s"CASE WHEN $den <= ${Long.MaxValue / 1000000L} " +
      s"THEN ($num) * 1000000 div $den " +
      s"ELSE raise_error(concat('ppm: $den = ', $den, " +
      "' past the exact-integer ppm bound (~9.2 TB per region) — split regions')) END")
  }

  /** RegionSplitPolicy family (hbase-server/.../regionserver/
    * ConstantSizeRegionSplitPolicy.java:57 shouldSplit,
    * IncreasingToUpperBoundRegionSplitPolicy.java:76 getSizeToCheck,
    * SteppingSplitPolicy.java:20 getSizeToCheck,
    * KeyPrefixRegionSplitPolicy.java:68 getSplitPoint): per region,
    * ConstantSize splits when the store exceeds
    * hbase.hregion.max.filesize; IncreasingToUpperBound — the 1.x
    * DEFAULT — caps the check at min(maxFileSize, initialSize·R³)
    * where initialSize = 2·flushSize (configureForRegion's default —
    * the javadoc example: 128 MB flush ⇒ first split at 256 MB) and R
    * is the table's region count on the server; R == 0 or R > 100
    * falls back to maxFileSize outright (getSizeToCheck's overflow
    * guard — at 100 TB, R > 100 is the NORM, so mature tables run
    * pure ConstantSize). Stepping — the 2.x default, backported widely
    * onto 1.3 clusters — is the spread-fast-then-settle variant:
    * R == 1 checks initialSize (2·flushSize, same first step as
    * increasing's R³ at R = 1), any other R jumps STRAIGHT to
    * maxFileSize — so between the first split and maturity it is
    * strictly LAZIER than increasing (no R³ escalation: a mid-size
    * region increasing would split rides until maxFileSize).
    * Young tables split long before maxFileSize;
    * the split POINT is the biggest store's
    * midkey (median), and KeyPrefixRegionSplitPolicy snaps it down to
    * a key prefix so rows sharing the prefix stay co-located across
    * the daughters (numeric analog: floor to a multiple of
    * `prefixMod`). The point is reported only for regions the default
    * policy actually splits (getSplitPoint is consulted after
    * shouldSplit). Store sizes are ONE map-side-partial aggregate over
    * the region-bucketed data; the policy math is a projection over R
    * metadata rows joined to the one-row `params` broadcast
    * (max_file_size, flush_size — derived, not hardcoded, so the
    * semantics hold at every scale factor). The midkey pass follows
    * region_splitter's exact-vs-scale convention: `approx = false` is
    * the byte-exact oracle form, `approx = true` the fixed-state
    * sketch for the bench/100 TB path. */
  def splitPolicy(tagged: DataFrame, keyCol: String, sizeCol: Column,
                  params: DataFrame, prefixMod: Long,
                  approx: Boolean = false): DataFrame =
    splitPolicyImpl(tagged, keyCol, sizeCol, Left(params), prefixMod,
      approx, midkey = true)

  /** [[splitPolicy]] with `max_file_size`/`flush_size` DERIVED from
    * the same materialized per-bucket stats (total = Σ store_size ≡
    * the caller-params form's whole-corpus sum, so values are
    * identical) — removes the redundant extra corpus scan the
    * params aggregate cost per invocation (r12 review).
    * `midkey = false` additionally skips the per-bucket percentile:
    * at nBuckets = 1 the exact form buffers EVERY key in one
    * aggregation buffer (the OOM shape the scaladoc above warns
    * about) to compute a midkey the size-only consumers never read. */
  def splitPolicyDerived(tagged: DataFrame, keyCol: String, sizeCol: Column,
                         maxDiv: Long, flushDiv: Long, prefixMod: Long,
                         approx: Boolean = false,
                         midkey: Boolean = true): DataFrame =
    splitPolicyImpl(tagged, keyCol, sizeCol, Right((maxDiv, flushDiv)),
      prefixMod, approx, midkey)

  private def splitPolicyImpl(tagged: DataFrame, keyCol: String, sizeCol: Column,
                              params: Either[DataFrame, (Long, Long)],
                              prefixMod: Long, approx: Boolean,
                              midkey: Boolean): DataFrame = {
    require(prefixMod > 0, "prefixMod must be positive")
    Hashes.requireIdentifier(keyCol, "key column") // SQL splice below
    val fn = if (approx) "approx_percentile" else "percentile"
    // R metadata rows from a corpus-scale aggregate feeding TWO forks
    // (the region count + the main projection) — materialized so the
    // per-bucket sum + percentile pass runs ONCE, not once per fork
    // (Catalyst shares nothing across consumers; at 100 TB the second
    // pass is a full extra corpus scan)
    // cap 1 << 20, not the 4096 metadata default: R is the CALLER's
    // tag cardinality, and 100 TB layouts run tens of thousands of
    // regions (the requestMetrics refusal class, r12 analytics
    // review) — a corpus-scale mistake still trips at a million rows,
    // a legitimately wide layout no longer does
    val stats = materializeMeta(maxRows = 1 << 20,
      df = tagged.groupBy("bucket")
      .agg(sum(sizeCol).as("store_size"),
        (if (midkey) expr(s"$fn($keyCol, 0.5)")
         else lit(null).cast("double")).as("_mid")))
    val p = params match {
      case Left(df) => df
      case Right((maxDiv, flushDiv)) => stats.agg(
        floor(sum(col("store_size")) / maxDiv).cast("bigint").as("max_file_size"),
        floor(sum(col("store_size")) / flushDiv).cast("bigint").as("flush_size"))
    }
    val r = stats.agg(count(lit(1)).as("_r"))
    val mid = floor(col("_mid")).cast("bigint")
    stats.crossJoin(broadcast(r)).crossJoin(broadcast(p))
      .withColumn("limit_bytes",
        // getSizeToCheck: R==0 / R>100 → maxFileSize (overflow guard);
        // else min(maxFileSize, initialSize·R³), initialSize = 2·flush
        when(col("_r") === 0 || col("_r") > 100, col("max_file_size"))
          .otherwise(least(col("max_file_size"),
            lit(2L) * col("flush_size") * col("_r") * col("_r") * col("_r"))))
      // SteppingSplitPolicy.getSizeToCheck: exactly one region of the
      // table on this server → initialSize (2·flush); else maxFileSize
      .withColumn("limit_stepping",
        when(col("_r") === 1, lit(2L) * col("flush_size"))
          .otherwise(col("max_file_size")))
      .select(col("bucket").as("region"), col("store_size"),
        (col("store_size") > col("max_file_size")).as("split_constant"),
        col("limit_bytes"),
        (col("store_size") > col("limit_bytes")).as("split_increasing"),
        col("limit_stepping"),
        (col("store_size") > col("limit_stepping")).as("split_stepping"),
        when(col("store_size") > col("limit_bytes"), mid)
          .as("split_point"),
        // `%` (sign of dividend), not pmod: mirrors the oracle's bare
        // `mid % 1000` on a negative midkey (r12 inverted-premise fix)
        when(col("store_size") > col("limit_bytes"),
          mid - (mid % lit(prefixMod))).as("split_point_prefix"))
  }

  /** HBaseFsck "hbck" region-chain integrity check (hbase-server/.../
    * util/HBaseFsck.java:2972 checkRegionChain, error codes at :3856):
    * given the META region catalog of one table — (region_id,
    * start_key, end_key), NULL = the reference's empty (open) boundary
    * — report every chain defect the tool knows:
    *
    *  - FIRST_REGION_STARTKEY_NOT_EMPTY / LAST_REGION_ENDKEY_NOT_EMPTY
    *  - DEGENERATE_REGION (start == end, HBaseFsck.java:2694)
    *  - DUPE_STARTKEYS (two regions share a start, :2702)
    *  - OVERLAP_IN_REGION_CHAIN (interval covered by > 1 region, :2712)
    *  - HOLE_IN_REGION_CHAIN (interval covered by none, :2720)
    *
    * The reference materializes a coverage multimap over split keys
    * (RegionSplitCalculator.calcCoverage) and walks it; relationally
    * the same coverage is a boundary sweep — each region emits +1 at
    * its start and −1 at its end, and the running sum over the sorted
    * distinct boundaries is the region count covering [k, next k).
    * Open boundaries ride as ±2^62 sentinels and surface as NULL.
    * A key both covered twice and duplicated reports BOTH codes (the
    * dupe row names the cause, the overlap row the covered interval —
    * the reference likewise reports dupes and overlaps independently).
    * An empty catalog is the reference's whole-keyspace hole.
    *
    * The sweep window is unpartitioned but runs over region-METADATA
    * rows (boundaries, two per region) — master-side catalog scale like
    * region_balancer's rank, never data scale.
    *
    * @param regions (region_id, start_key, end_key); keys BIGINT,
    *                NULL = open boundary. */
  private val HbckMinKey = -4611686018427387904L // 'empty' start (-2^62)
  private val HbckMaxKey =  4611686018427387904L // 'empty' end   (+2^62)
  private def hbckOutKey(c: Column): Column =
    when(c === HbckMinKey || c === HbckMaxKey, lit(null).cast("bigint"))
      .otherwise(c)

  /** The boundary sweep shared by [[hbckRegionChain]] (audit) and
    * [[hbckRepairPlan]] (fix) — audit and fix must see the SAME
    * defects, so the sentinel normalization and coverage sweep exist
    * exactly once (two hand-synced copies would let a sentinel or
    * coverage tweak silently desynchronize them).
    * @return (normalized regions (region_id, s, e),
    *          sweep (k, n_starts, n_ends, cov, next_k)) */
  private def hbckSweep(regions: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val r = regions.select(col("region_id"),
      coalesce(col("start_key"), lit(HbckMinKey)).as("s"),
      coalesce(col("end_key"), lit(HbckMaxKey)).as("e"))
    val starts = r.groupBy(col("s").as("k")).agg(count(lit(1)).as("n_starts"))
    val ends   = r.groupBy(col("e").as("k")).agg(count(lit(1)).as("n_ends"))
    val byKey  = Window.orderBy("k")
    val sweep = starts.join(ends, Seq("k"), "full_outer")
      .na.fill(0L, Seq("n_starts", "n_ends"))
      .withColumn("cov", sum(col("n_starts") - col("n_ends"))
        .over(byKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("next_k", lead(col("k"), 1).over(byKey))
    (r, sweep)
  }

  def hbckRegionChain(regions: DataFrame): DataFrame = {
    val MINK = HbckMinKey
    val MAXK = HbckMaxKey
    val nullKey = lit(null).cast("bigint")
    def outKey(c: Column) = hbckOutKey(c)
    val (r, sweep) = hbckSweep(regions)
    // all three sweep-derived error classes from ONE pass over the
    // boundary table (a union of per-class filters would recompute the
    // whole sweep subtree per branch — Catalyst shares nothing across
    // union arms)
    val sweepErrors = sweep.select(explode(array(
        when(col("cov") === 0 && col("next_k").isNotNull,
          struct(lit("HOLE_IN_REGION_CHAIN").as("code"),
            outKey(col("k")).as("at_key"), outKey(col("next_k")).as("end_key"),
            lit(1L).as("n"))),
        when(col("cov") > 1,
          struct(lit("OVERLAP_IN_REGION_CHAIN").as("code"),
            outKey(col("k")).as("at_key"), outKey(col("next_k")).as("end_key"),
            col("cov").as("n"))),
        when(col("n_starts") > 1,
          struct(lit("DUPE_STARTKEYS").as("code"), outKey(col("k")).as("at_key"),
            nullKey.as("end_key"), col("n_starts").as("n"))))).as("x"))
      .where(col("x").isNotNull).select(col("x.*"))
    val degen = r.where(col("s") === col("e"))
      .select(lit("DEGENERATE_REGION").as("code"), outKey(col("s")).as("at_key"),
        outKey(col("e")).as("end_key"), lit(1L).as("n"))
    val bounds = r.agg(min(col("s")).as("_min_s"), max(col("e")).as("_max_e"))
      .select(explode(array(
        when(col("_min_s").isNotNull && col("_min_s") =!= MINK,
          struct(lit("FIRST_REGION_STARTKEY_NOT_EMPTY").as("code"),
            col("_min_s").as("at_key"), nullKey.as("end_key"), lit(1L).as("n"))),
        when(col("_max_e").isNotNull && col("_max_e") =!= MAXK,
          struct(lit("LAST_REGION_ENDKEY_NOT_EMPTY").as("code"),
            col("_max_e").as("at_key"), nullKey.as("end_key"), lit(1L).as("n"))),
        // empty catalog: the reference's hole over the whole keyspace
        when(col("_min_s").isNull,
          struct(lit("HOLE_IN_REGION_CHAIN").as("code"), nullKey.as("at_key"),
            nullKey.as("end_key"), lit(1L).as("n"))))).as("x"))
      .where(col("x").isNotNull).select(col("x.*"))
    sweepErrors.unionByName(degen).unionByName(bounds)
  }

  /** The FIX side of HBaseFsck (util/HBaseFsckRepair.java; the
    * `-fixHdfsHoles` / `-fixHdfsOverlaps` arms wired at
    * HBaseFsck.java:244-245, shouldFixAssignments at :2133-2370):
    * from the same catalog [[hbckRegionChain]] audits, emit the repair
    * PLAN the tool would execute —
    *
    *  - every hole (including the not-empty first-start / last-end
    *    edges, which the reference plugs with an open-boundary region)
    *    → `CREATE_HOLE_REGION`: a fabricated empty region with the
    *    hole's exact bounds (HBaseFsck.java fabricates the HRI and
    *    creates its HDFS dir);
    *  - every transitive overlap group of ≤ `maxMerge` regions
    *    (hbase.hbck.overlap.merge.max, default 5) → `MERGE_OVERLAP`:
    *    one row per member carrying the merged target bounds
    *    (mergeOverlaps collapses the group into one region spanning
    *    the union);
    *  - larger groups → sideline `min(size − maxMerge,
    *    maxOverlapsToSideline)` members (`SIDELINE_OVERLAP` —
    *    sidelineBigOverlaps at HBaseFsck.java:2926 caps the batch by
    *    hbase.hbck.overlaps.to.sideline, default 2), chosen by
    *    RegionSplitCalculator.findBigRanges:178: members ranked by how
    *    many group members they overlap, whole count-chunks taken
    *    descending, and the first chunk that doesn't fit contributes
    *    its MIDDLE slice (a chained overlap breaks most efficiently at
    *    the middle). The remaining members are emitted as
    *    `RESIDUAL_OVERLAP` — the reference leaves them for the next
    *    hbck run (the `rerun` flag), so repair of a big group
    *    CONVERGES over reruns rather than completing in one;
    *    within a count-chunk the reference walks collection insertion
    *    order — the deterministic analogue here is (start, end, id);
    *  - degenerate regions (start == end) → `SIDELINE_DEGENERATE`
    *    (an empty interval can neither merge nor serve reads).
    *
    * Overlap grouping must be TRANSITIVE (a region straddling two
    * others connects all three even though the outer two never touch
    * — the reference builds the group by walking shared coverage).
    * Relationally: overlap intervals from the boundary sweep, each
    * extended to the HULL of its covering regions, then classic
    * interval-island merging over the hulls. A shared region forces
    * its full extent into both intervals' hulls, so hull overlap ⇔
    * transitive connectivity — islands ARE the reference's groups,
    * computed in one bounded window instead of a driver-side walk.
    *
    * Windows and broadcast joins run over DEFECT cardinality (overlap
    * intervals), not the catalog, and the catalog itself is master
    * metadata — region-count scale, like hbckRegionChain's sweep.
    *
    * Applying the plan (drop SIDELINE*, keep RESIDUAL members,
    * collapse each MERGE group to its target bounds, add the CREATE
    * rows) yields a catalog [[hbckRegionChain]] audits clean when no
    * group exceeds `maxMerge`; a bigger group needs
    * `ceil((size − maxMerge) / maxOverlapsToSideline)` rerun rounds
    * before its survivors merge — exactly the reference's rerun loop.
    * The replay spec iterates to that fixed point.
    *
    * @param regions (region_id, start_key, end_key); NULL = open. */
  def hbckRepairPlan(regions: DataFrame, maxMerge: Int = 5,
                     maxOverlapsToSideline: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val MINK = HbckMinKey
    val MAXK = HbckMaxKey
    def outKey(c: Column) = hbckOutKey(c)
    val (r, sweep) = hbckSweep(regions)
    val bounds = r.agg(min(col("s")).as("_min_s"), max(col("e")).as("_max_e"))
    val holes = sweep.where(col("cov") === 0 && col("next_k").isNotNull)
      .select(col("k").as("hs"), col("next_k").as("he"))
      .unionByName(bounds.select(explode(array(
          when(col("_min_s").isNotNull && col("_min_s") =!= MINK,
            struct(lit(MINK).as("hs"), col("_min_s").as("he"))),
          when(col("_max_e").isNotNull && col("_max_e") =!= MAXK,
            struct(col("_max_e").as("hs"), lit(MAXK).as("he"))),
          // EMPTY catalog: the audit's whole-keyspace hole — the fix
          // must fabricate the open-open region or applying the plan
          // would not reach the documented clean fixed point
          when(col("_min_s").isNull,
            struct(lit(MINK).as("hs"), lit(MAXK).as("he"))))).as("x"))
        .where(col("x").isNotNull).select(col("x.*")))
    val creates = holes.select(lit("CREATE_HOLE_REGION").as("action"),
      concat(lit("fab_"),
        coalesce(outKey(col("hs")).cast("string"), lit("open"))).as("region_id"),
      outKey(col("hs")).as("start_key"), outKey(col("he")).as("end_key"))
    // overlap members: covering regions per overlap interval (the
    // interval side is defect-bounded — broadcast)
    val ov = sweep.where(col("cov") > 1).select(col("k"), col("next_k"))
    val members = r.where(col("s") < col("e"))
      .join(broadcast(ov), col("s") <= col("k") && col("e") >= col("next_k"))
    val ihull = members.groupBy("k", "next_k")
      .agg(min(col("s")).as("hs"), max(col("e")).as("he"))
    val byHull = Window.orderBy("hs", "k")
    val islands = ihull
      .withColumn("_run",
        max(col("he")).over(byHull.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_new",
        (col("_run").isNull || col("_run") <= col("hs")).cast("long"))
      .withColumn("island", sum(col("_new"))
        .over(byHull.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("k", "next_k", "island")
    // a region's intervals all share its own hull, so its island is
    // unique — distinct collapses the per-interval repeats
    val gm = members.join(broadcast(islands), Seq("k", "next_k"))
      .select("island", "region_id", "s", "e").distinct()
    val groups = gm.groupBy("island").agg(count(lit(1)).as("n_members"),
      min(col("s")).as("g_s"), max(col("e")).as("g_e"))
    val merged = gm.join(broadcast(groups), Seq("island"))
    val mergeRows = merged.where(col("n_members") <= maxMerge)
      .select(lit("MERGE_OVERLAP").as("action"), col("region_id"),
        outKey(col("g_s")).as("start_key"), outKey(col("g_e")).as("end_key"))
    // findBigRanges: per-member overlap count within the group (the
    // group is defect-bounded, so the self-join broadcasts), then the
    // descending count-chunk walk in closed form — a member sidelines
    // iff its chunk fits entirely under the remaining budget, or it
    // sits in the fitting MIDDLE slice of the first chunk that doesn't
    val bigGm = merged.where(col("n_members") > maxMerge)
      .select("island", "region_id", "s", "e", "n_members")
    val bigRhs = bigGm.select(col("island").as("_i2"),
      col("s").as("_s2"), col("e").as("_e2"))
    val counted = bigGm
      .join(broadcast(bigRhs), col("island") === col("_i2") &&
        col("s") < col("_e2") && col("e") > col("_s2"))
      .groupBy("island", "region_id", "s", "e", "n_members")
      .agg(count(lit(1)).as("_cnt"))
      // a member overlapping only itself is no sideline candidate
      // (findBigRanges' overlappedRegions > 1 filter) — vacuous inside
      // an island but kept for reference parity
      .where(col("_cnt") > 1)
    val chunkAll = Window.partitionBy("island", "_cnt")
    val inChunk = chunkAll.orderBy("s", "e", "region_id")
    // strictly-higher-count chunks consumed before this one: a RANGE
    // frame ending 1 before the current _cnt under DESC ordering
    val higher = Window.partitionBy("island").orderBy(col("_cnt").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val big = counted
      .withColumn("_k", least(col("n_members") - maxMerge,
        lit(maxOverlapsToSideline.toLong)))
      .withColumn("_z", count(lit(1)).over(chunkAll))
      .withColumn("_rem", col("_k") - coalesce(count(lit(1)).over(higher), lit(0L)))
      .withColumn("_rk0", row_number().over(inChunk).cast("long") - 1L)
      // (z − rem) is nonnegative wherever _mid0 is consulted (rem < z
      // there), so the double-division truncation IS floor division
      .withColumn("_mid0", ((col("_z") - col("_rem")) / lit(2L)).cast("long"))
      .select(when(col("_rem") >= col("_z") ||
          (col("_rem") > 0 && col("_rk0") >= col("_mid0") &&
            col("_rk0") < col("_mid0") + col("_rem")), "SIDELINE_OVERLAP")
          .otherwise("RESIDUAL_OVERLAP").as("action"),
        col("region_id"), outKey(col("s")).as("start_key"),
        outKey(col("e")).as("end_key"))
    val degen = r.where(col("s") === col("e"))
      .select(lit("SIDELINE_DEGENERATE").as("action"), col("region_id"),
        outKey(col("s")).as("start_key"), outKey(col("e")).as("end_key"))
    creates.unionByName(mergeRows).unionByName(big).unionByName(degen)
  }

  /** modifyTable descriptor-diff impact plan (master/HMaster.java
    * modifyTable → MasterDDLOperationHelper; HTableDescriptor /
    * HColumnDescriptor compareTo — the alter-table flow every schema
    * change goes through): diff the OLD vs NEW per-family descriptor
    * properties and join each family's DATA footprint, reporting what
    * the change actually touches —
    *
    *  - `action`: ADD_FAMILY / DROP_FAMILY (descriptor presence diff)
    *    or MODIFY / NONE (any property differs);
    *  - `newly_expired`: cells a TIGHTENED TTL newly kills — older
    *    than now − new_ttl but inside now − old_ttl ("now" = the
    *    corpus max timestamp, the deterministic clock every TTL
    *    operator here uses); a loosened TTL newly kills nothing;
    *  - `newly_dropped_versions`: per-(rowkey, qualifier) versions a
    *    LOWERED max_versions newly evicts — version rank in
    *    (new_mv, old_mv], rank by (ts, seq) desc exactly as the
    *    version scanner orders;
    *  - `rewrite_bytes`: encoding or blocksize changes rewrite every
    *    store file of the family (the reference reopens regions and
    *    rewrites on next major compaction) — the family's full byte
    *    footprint; a dropped family likewise pays its full bytes.
    *
    * Cell bytes = 8 (fixed-width value) + qualifier length — integer
    * and engine-portable, the cellCounter convention.
    *
    * Scale shape: descriptors are metadata (broadcast both sides);
    * the footprint is ONE pass over the cells — the version-rank
    * window partitions by (family, rowkey, qualifier), data-scale
    * keys, and every counter is a map-side-combinable conditional
    * aggregate. Nothing collects.
    *
    * @param cells    (rowkey, family, qualifier, ts, event_id, value)
    * @param oldProps / newProps (family, ttl_days, max_versions,
    *                 encoding, blocksize_b) */
  def alterTablePlan(cells: DataFrame, oldProps: DataFrame,
                     newProps: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // presence is a DEDICATED marker, never a nullable property: a
    // family whose ttl_days is legitimately NULL (TTL FOREVER) is
    // still PRESENT — inferring presence from ttl NULLness called it
    // ADD_FAMILY, and plain =!= on a NULL-sided property diff fell
    // through every MODIFY arm to NONE (null-safe <=> below)
    val o = oldProps.select(col("family"), col("ttl_days").as("ttl_old"),
      col("max_versions").as("mv_old"), col("encoding").as("enc_old"),
      col("blocksize_b").as("bs_old"), lit(true).as("_in_old"))
    val n = newProps.select(col("family"), col("ttl_days").as("ttl_new"),
      col("max_versions").as("mv_new"), col("encoding").as("enc_new"),
      col("blocksize_b").as("bs_new"), lit(true).as("_in_new"))
    val diff = o.join(n, Seq("family"), "full_outer")
      .withColumn("action",
        when(col("_in_old").isNull, "ADD_FAMILY")
          .when(col("_in_new").isNull, "DROP_FAMILY")
          .when(!(col("ttl_old") <=> col("ttl_new")) ||
                !(col("mv_old") <=> col("mv_new")) ||
                !(col("enc_old") <=> col("enc_new")) ||
                !(col("bs_old") <=> col("bs_new")), "MODIFY")
          .otherwise("NONE"))
      // NULL-SAFE like the action arms above (the comment's own rule):
      // plain =!= on a NULL-sided property made a NULL→'PREFIX'
      // encoding change report rewrite_bytes 0 — the rewrite the flag
      // exists to price. Gated on presence so ADD/DROP rows (one side
      // entirely NULL) keep flags false; DROP prices its rewrite via
      // its own action arm
      .withColumn("encoding_changed",
        col("_in_old").isNotNull && col("_in_new").isNotNull &&
          !(col("enc_old") <=> col("enc_new")))
      .withColumn("blocksize_changed",
        col("_in_old").isNotNull && col("_in_new").isNotNull &&
          !(col("bs_old") <=> col("bs_new")))
      .drop("_in_old", "_in_new")
    val now = cells.agg(unix_micros(max(col("ts"))).as("_now_us"))
    val byVersion = Window.partitionBy("family", "rowkey", "qualifier")
      .orderBy(col("ts").desc, col("event_id").desc)
    val ranked = cells
      .withColumn("_vrank", row_number().over(byVersion).cast("long"))
      .crossJoin(broadcast(now))
      .withColumn("_age_us", col("_now_us") - unix_micros(col("ts")))
    val DAY_US = 86400000000L
    val foot = ranked.join(broadcast(diff), Seq("family"))
      .groupBy("family")
      .agg(count(lit(1)).as("n_cells"),
        sum(lit(8L) + length(col("qualifier"))).as("n_bytes"),
        // NULL old TTL / maxVersions = FOREVER / unlimited (nothing
        // expired or dropped before), so a tightening from NULL → k
        // counts everything past the new limit
        sum(when(col("ttl_new").isNotNull &&
            col("_age_us") > col("ttl_new") * DAY_US &&
            (col("ttl_old").isNull ||
              col("_age_us") <= col("ttl_old") * DAY_US), 1L).otherwise(0L))
          .as("newly_expired"),
        sum(when(col("mv_new").isNotNull &&
            col("_vrank") > col("mv_new") &&
            (col("mv_old").isNull || col("_vrank") <= col("mv_old")),
            1L).otherwise(0L))
          .as("newly_dropped_versions"))
    diff.join(foot, Seq("family"), "left")
      .select(col("family"), col("action"),
        col("ttl_old"), col("ttl_new"), col("mv_old"), col("mv_new"),
        col("encoding_changed"), col("blocksize_changed"),
        coalesce(col("n_cells"), lit(0L)).as("n_cells"),
        coalesce(col("newly_expired"), lit(0L)).as("newly_expired"),
        coalesce(col("newly_dropped_versions"), lit(0L))
          .as("newly_dropped_versions"),
        when(col("action") === "DROP_FAMILY" || col("encoding_changed") ||
            col("blocksize_changed"), coalesce(col("n_bytes"), lit(0L)))
          .otherwise(lit(0L)).as("rewrite_bytes"))
  }

  /** NamespaceAuditor (hbase-server/.../namespace/NamespaceAuditor.java:58,
    * NamespaceStateManager.java:104) — per-namespace table/region
    * accounting against the namespace quota properties
    * (hbase.namespace.quota.maxtables / maxregions set at namespace
    * creation; quota rows keyed `n.<namespace>` in hbase:quota,
    * QuotaTableUtil.java:70). The master keeps this state as an
    * in-memory cache updated per DDL; relationally it is ONE row per
    * namespace: count tables, sum region counts, join the (tiny,
    * broadcast) quota table, report usage and violation.
    *
    * `tables` is the catalog view: (namespace, table name, table
    * DataFrame). Region counts derive from row counts at `regionRows`
    * rows per region — exact integer arithmetic ((n + r − 1) div r,
    * floored at 1: every table holds at least one region, exactly as
    * NamespaceStateManager counts a fresh empty table) — so any SQL
    * engine mirrors it bit-for-bit. Each per-table count is a
    * map-side-partial scalar aggregate; the union is `|tables|` 1-row
    * aggregates, so the whole audit costs one pass over each table's
    * row-group metadata (parquet count pushdown) regardless of data
    * scale. Every QUOTA row yields an audit row — a governed namespace
    * holding no tables yet reports zero usage and full headroom rather
    * than vanishing; namespaces without a quota row are out of audit
    * scope (unlimited, as in the reference). */
  def namespaceQuotaAudit(tables: Seq[(String, String, DataFrame)],
                          quotas: DataFrame, regionRows: Long): DataFrame = {
    require(tables.nonEmpty && regionRows >= 1,
      s"need tables and regionRows >= 1 (got $regionRows)")
    val catalog = tables.map { case (ns, name, df) =>
      df.agg(count(lit(1)).as("_n"))
        .select(lit(ns).as("namespace"), lit(name).as("tbl"),
          // `div`, not `/`: Spark's / is double division, and a float
          // round-trip on a row count is exactly the parity bug the
          // integer form exists to avoid
          greatest(lit(1L),
            expr(s"(_n + ${regionRows - 1}) div $regionRows")).as("n_regions"))
    }.reduce(_ unionByName _)
    quotas.join(
        broadcast(catalog.groupBy("namespace")
          .agg(count(lit(1)).as("n_tables"), sum("n_regions").as("n_regions"))),
        Seq("namespace"), "left")
      .na.fill(0L, Seq("n_tables", "n_regions"))
      .select(col("namespace"), col("n_tables"), col("n_regions"),
        col("max_tables"), col("max_regions"),
        (col("n_tables") > col("max_tables") ||
          col("n_regions") > col("max_regions")).as("over_quota"),
        (col("max_tables") - col("n_tables")).as("table_headroom"),
        (col("max_regions") - col("n_regions")).as("region_headroom"))
  }

  /** Hot-key skew diagnosis — the report an operator reads before
    * choosing a salting factor (reference: the hotspot-avoidance
    * rationale behind RegionSplitter.java:78's pre-split planning and
    * the salted-rowkey pattern [[graft.core.Salt]] implements). For
    * each of the `topN` heaviest keys: row count, corpus share in ppm,
    * and the salt-bucket count that levels the key down to the mean
    * key load (`ceil(n_key / mean)` — 1 for an unskewed key).
    *
    * All integer-exact: ppm is `n·10⁶ div total`, the salt
    * recommendation `(n·n_keys + total − 1) div total` — any SQL
    * engine mirrors it bit-for-bit. Valid while `rows·keys < 2⁶³/10⁶`
    * per the bigint product; past that, pre-aggregate per shard.
    *
    * Scale shape: one map-side-combinable count per key, a 1-row
    * global aggregate broadcast back, and a TakeOrderedAndProject for
    * the top-N — no full sort, no unpartitioned window, nothing
    * driver-side. The diagnosis itself never suffers the skew it
    * measures: a 10⁹-row hot key still contributes one combined count
    * per input partition to the shuffle. */
  def skewDiagnose(df: DataFrame, keyCol: String, topN: Int = 20): DataFrame = {
    require(topN >= 1, s"topN ($topN) must be at least 1")
    val counts = df.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_rows"))
    val tot = counts.agg(sum("n_rows").as("_total"),
      count(lit(1)).as("_nkeys"))
    counts.crossJoin(broadcast(tot))
      .select(col("key"), col("n_rows"),
        expr("n_rows * 1000000 div _total").as("share_ppm"),
        expr("(n_rows * _nkeys + _total - 1) div _total").as("salt_buckets"))
      .orderBy(desc("n_rows"), asc("key"))
      .limit(topN)
  }

  /** Time-grid resample with forward fill — the gap-filling pass every
    * time-series feature pipeline runs before modeling: one row per
    * (entity, day) over the corpus span, carrying that day's own event
    * count AND the entity's most recent state as of day end (the
    * forward fill), so days without events still report the prevailing
    * value instead of a hole.
    *
    * The fill is [[graft.core.AsofJoin.asof]] — grid points probe
    * "newest event at or before my day's end" through the single-
    * shuffle running-max form (never a per-probe range join); the
    * day-count join is an ordinary left hash join with a zero fill.
    * Grid size is |entities|·|days| — that IS the resampled output, not
    * an intermediate blow-up. */
  def resampleFfill(events: DataFrame, userCol: String, tsCol: String,
                    idCol: String, valCol: String): DataFrame = {
    val b = events.agg(date_trunc("day", min(col(tsCol))).as("_lo"),
      date_trunc("day", max(col(tsCol))).as("_hi"))
    val grid = events.select(col(userCol)).distinct()
      .crossJoin(broadcast(b))
      .select(col(userCol),
        explode(expr("sequence(_lo, _hi, interval 1 day)")).as("day"))
      // probe at day END: newest event strictly inside the day wins
      .withColumn(tsCol,
        expr("day + interval 1 day - interval 1 microsecond"))
    val dayAgg = events.groupBy(col(userCol),
        date_trunc("day", col(tsCol)).as("day"))
      .agg(count(lit(1)).as("_n"))
    graft.core.AsofJoin.asof(grid,
        events.select(col(userCol), col(tsCol), col(idCol), col(valCol)),
        userCol, tsCol, Seq(idCol, valCol))
      .join(dayAgg, Seq(userCol, "day"), "left")
      .select(col(userCol), col("day"),
        coalesce(col("_n"), lit(0L)).as("n_events"),
        col(s"_last.$idCol").as("last_event_id"),
        round(col(s"_last.$valCol"), 4).as("last_value"))
  }

  /** Ordered funnel analysis — the product-analytics sequence query
    * (view → click → purchase): per user, the earliest step-1 event,
    * then the earliest step-2 event STRICTLY AFTER it, and so on;
    * `depth` = how far the user got. A user's step-k time is the
    * greedy earliest-completion chain, the standard funnel semantics.
    *
    * Shape: one filtered min-aggregate for step 1, then per further
    * step one equi-join on the user key + a conditional min — no
    * window functions at all, so nothing ever sorts a user's whole
    * history; each step is a map-side-combinable aggregate over the
    * step's OWN events only. The strictly-after condition rides the
    * aggregate (`min(CASE WHEN ts > prev THEN ts END)`), which keeps
    * the join itself a plain hash join. NULL propagation does the
    * bookkeeping: a user who never reached step k−1 has prev NULL, so
    * every comparison is NULL and step k stays NULL — no special
    * casing. */
  def funnel(events: DataFrame, userCol: String, tsCol: String,
             typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, s"funnel needs at least 2 steps: $steps")
    var acc = events.where(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t1"))
    for ((s, idx) <- steps.tail.zipWithIndex) {
      val i = idx + 2
      val keys = col(userCol) +: (1 until i).map(j => col(s"t$j"))
      val nxt = events.where(col(typeCol) === s)
        .select(col(userCol), col(tsCol).as("_ts"))
      acc = acc.join(nxt, Seq(userCol), "left")
        .groupBy(keys: _*)
        .agg(min(when(col("_ts") > col(s"t${i - 1}"), col("_ts"))).as(s"t$i"))
    }
    val depth = steps.indices.map(i =>
      when(col(s"t${i + 1}").isNotNull, 1L).otherwise(0L)).reduce(_ + _)
    acc.withColumn("depth", depth)
  }

  /** Per-column data profile — the schema-audit pass a pipeline runs
    * before trusting a new table (reference analogue: the per-CF/
    * qualifier occurrence statistics CellCounter.java:71 reports, here
    * widened to null/ndv/extrema/length stats per relational column).
    *
    * One row per profiled column: row count, null count, distinct
    * count, min/max (rendered to string — the caller keeps doubles out
    * of `cols`, their cross-engine rendering is not portable; integers,
    * strings and timestamps are), and total rendered length (integer —
    * an avg would be a float divide; consumers divide themselves).
    *
    * Single pass: every stat folds into ONE aggregate node, then
    * `stack` unpivots the 1-row result — `|cols|` exact distincts make
    * Catalyst expand the input |cols|× before the shuffle, the honest
    * price of exact ndv. At 100 TB set `approxNdv = true`:
    * HyperLogLog++ sketches replace the expand entirely (one
    * non-expanded pass, mergeable partials), everything else stays
    * exact — same split convention as region_splitter's
    * approx_percentile bench path. */
  def columnProfile(df: DataFrame, cols: Seq[String],
                    approxNdv: Boolean = false): DataFrame = {
    require(cols.nonEmpty, "columnProfile needs at least one column")
    // names are interpolated into generated stack() SQL — the dqAudit
    // identifier rule: refuse quotes/backticks/spaces loudly
    cols.foreach(c => Hashes.requireIdentifier(c, "columnProfile column"))
    val ndv: Column => Column =
      if (approxNdv) approx_count_distinct(_) else countDistinct(_)
    val aggs = cols.flatMap { c => Seq(
      count(col(c)).as(s"_nn_$c"),
      ndv(col(c)).as(s"_nd_$c"),
      min(col(c)).cast("string").as(s"_mn_$c"),
      max(col(c)).cast("string").as(s"_mx_$c"),
      coalesce(sum(length(col(c).cast("string"))), lit(0L)).as(s"_ln_$c"))
    }
    val one = df.agg(count(lit(1)).as("_n"), aggs: _*)
    val stackArgs = cols.map(c =>
      s"'$c', `_nn_$c`, `_nd_$c`, `_mn_$c`, `_mx_$c`, `_ln_$c`").mkString(", ")
    one.select(col("_n").as("n_rows"), expr(
        s"stack(${cols.size}, $stackArgs) as " +
          "(col_name, non_null, n_distinct, min_val, max_val, total_len)"))
      .select(col("col_name"), col("n_rows"),
        (col("n_rows") - col("non_null")).as("null_count"),
        col("n_distinct"), col("min_val"), col("max_val"), col("total_len"))
  }

  /** k-sigma outlier flags per group in pure integer arithmetic.
    * Per-group moments (n, S=Σc, Q=Σc²) reduce to the floor mean
    * m = S div n and floor variance v = max(Q div n − m², 0); a row is
    * anomalous iff (c−m)² > k²·v. The float z-score would need a mean
    * and stddev whose rounding order two engines can disagree on; the
    * floor form is bit-portable, and its magnitudes are scale-safe —
    * (c−m)² is bounded by the value domain, not by n, so the test
    * never overflows no matter how many rows a group holds (Q needs
    * n·max_c² < 2⁶³: at cent-scale values that is ~10¹² rows per
    * group; past that, pre-aggregate Q per partition in decimal).
    * Stats are one row per group → broadcast back beside the scan:
    * the flagging pass is shuffle-free.
    *
    * @param groupCol LOW-CARDINALITY group column (a type/status/segment
    *   code, not a user id): the stats relation is one row per group
    *   and is broadcast, which collects it driver-side — millions of
    *   groups would OOM the driver. For high-cardinality groups remove
    *   the broadcast hint and let AQE pick the join (the stats side is
    *   still tiny relative to the data, just no longer driver-bound).
    * @param valCol integer-typed column (e.g. cents) to test; the Q=Σc²
    *   moment needs n·max_c² < 2⁶³ per group (~10¹² cent-scale rows) —
    *   past that, pre-aggregate Q in decimal. */
  def anomalyFlags(df: DataFrame, groupCol: String, valCol: String,
                   sigmas: Int): DataFrame = {
    val c = col(valCol)
    val stats = df.groupBy(groupCol).agg(
      count(lit(1)).as("_n"), sum(c).as("_s"), sum(c * c).as("_q"))
    // plain `div` for the signed sum: DuckDB `//` TRUNCATES toward
    // zero exactly like Spark's `div` (-7 // 2 = -3, verified on the
    // oracle engine), so `div` IS the portable mirror of the oracle's
    // bare `st.s // st.n` — the previous (s − pmod)/n floor form
    // diverged on negative sums (r12 inverted-premise fix)
    val m = expr("_s div _n")
    val v = greatest(expr("_q div _n") - m * m, lit(0L))
    df.join(broadcast(stats), groupCol)
      .withColumn("dev_cents", c - m)
      .where(col("dev_cents") * col("dev_cents") > lit(sigmas.toLong * sigmas) * v)
      .drop("_n", "_s", "_q")
  }

  /** Time-weighted average of `valCol` per key: each reading is
    * weighted by the µs gap to the key's NEXT reading (the standard
    * step-function integral; the final reading has no span and drops
    * out). One window pass on (key, time) order, then a per-key
    * aggregate on the SAME key — Catalyst reuses the window exchange,
    * so the whole operator costs one shuffle. Integer µs × integer
    * value units throughout; `twa` floors to the value unit.
    * Keys with a single reading have no weighted span and are omitted
    * (den = 0). */
  def timeWeightedAvg(df: DataFrame, keyCol: String, tsCol: String,
                      valCol: String, tieCol: String = "event_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    df.withColumn("_us", unix_micros(col(tsCol)))
      .withColumn("_dt", lead(col("_us"), 1).over(w) - col("_us"))
      .where(col("_dt").isNotNull)
      .groupBy(keyCol)
      .agg(sum(col(valCol) * col("_dt")).as("_num"),
        sum(col("_dt")).as("span_us"))
      .where(col("span_us") > 0)
      // plain `div`: DuckDB's `//` TRUNCATES toward zero like Spark's
      // `div` (verified -7 // 2 = -3), so `div` mirrors the oracle's
      // bare `num // span_us` exactly — the previous (a − pmod)/b
      // floor form diverged on negative numerators (a signed value
      // column), the r12 inverted-premise fix
      .select(col(keyCol), col("span_us"),
        expr("_num div span_us").as("twa"))
  }

  /** Exact DISCRETE per-group quantiles without a percentile UDAF: the
    * lower quantile is the value at 1-based rank ⌈p·n/100⌉ in (value,
    * tie) order — one window pass, then a conditional-max aggregate on
    * the SAME partition key, so Catalyst reuses the window's exchange
    * (one shuffle total). Rank arithmetic is integer ((p·n+99) div
    * 100), value stays in its own domain: no interpolation, no floats,
    * bit-portable. The exact form buffers one group per task like any
    * window — for sketched quantiles at 100 TB use approx_percentile
    * (the region_splitter bench-path convention); this is the
    * oracle-grade exact shape. */
  def groupQuantiles(df: DataFrame, groupCol: String, valCol: String,
                     tieCol: String, percents: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(percents.nonEmpty && percents.forall(p => p > 0 && p <= 100))
    val ranked = df
      .withColumn("_rn", row_number().over(
        Window.partitionBy(groupCol).orderBy(col(valCol), col(tieCol))))
      .withColumn("_n", count(lit(1)).over(Window.partitionBy(groupCol)))
    val aggs = percents.map(p =>
      max(when(col("_rn") === expr(s"($p * _n + 99) div 100"), col(valCol)))
        .as(s"p$p"))
    ranked.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
  }

  /** Data-quality audit (the dbt-test / expectation-suite shape): every
    * rule is a Column predicate evaluated as ONE conditional count in a
    * single aggregate pass over the table — adding a rule costs an
    * expression, never a scan. A NULL-evaluating predicate counts as a
    * violation (unknown ≠ pass). Output one row per rule:
    * (rule, n_rows, n_violations, pass). */
  def dqAudit(df: DataFrame, rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "dqAudit needs at least one rule")
    // rule names are interpolated into the stack() expression below as
    // both a string literal and a backticked identifier — restrict to
    // identifier characters so a quote/backtick can neither break the
    // generated SQL nor smuggle arbitrary fragments into it
    rules.foreach(r => Hashes.requireIdentifier(r._1, "dqAudit rule name"))
    val aggs = rules.map { case (n, pred) =>
      sum(when(!coalesce(pred, lit(false)), 1L).otherwise(0L)).as(s"_v_$n") }
    val stackArgs = rules.map { case (n, _) => s"'$n', `_v_$n`" }.mkString(", ")
    df.agg(count(lit(1)).as("_n"), aggs: _*)
      .select(col("_n").as("n_rows"), expr(
        s"stack(${rules.size}, $stackArgs) as (rule, n_violations)"))
      .withColumn("pass", (col("n_violations") === 0).cast("bigint"))
      .select("rule", "n_rows", "n_violations", "pass")
  }

  /** Uniqueness rule as the same audit-row shape: violations = rows
    * beyond the first per key (n − ndv, where ndv counts DISTINCT
    * non-null keys — so every NULL-keyed row is a violation, matching
    * the unknown-≠-pass convention of [[dqAudit]]). Needs its own
    * aggregate (a distinct), so it unions beside dqAudit's single
    * pass. */
  def dqUnique(df: DataFrame, keyCol: String, ruleName: String): DataFrame =
    df.agg(count(lit(1)).as("n_rows"),
        (count(lit(1)) - countDistinct(col(keyCol))).as("n_violations"))
      .select(lit(ruleName).as("rule"), col("n_rows"), col("n_violations"),
        (col("n_violations") === 0).cast("bigint").as("pass"))

  /** Posting-list shape audit for a bitmap/inverted index over a
    * low-cardinality column: per value, the id range, run count
    * (maximal consecutive-id runs — the RLE container count a roaring
    * bitmap would store) and density in ppm. One window lag in
    * (value, id) order feeding an aggregate on the same key: a single
    * shuffle sized by the VALUE cardinality, never by row count. */
  def postingRunStats(df: DataFrame, valueCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(valueCol).orderBy(idCol)
    df.withColumn("_gap", col(idCol) - lag(col(idCol), 1).over(w))
      .groupBy(valueCol)
      .agg(count(lit(1)).as("n_rows"),
        min(idCol).as("min_id"), max(idCol).as("max_id"),
        sum(when(col("_gap").isNull || col("_gap") > 1, 1L).otherwise(0L))
          .as("n_runs"))
      // guarded multiply, not bare (r15 review): n_rows * 10⁶ wraps
      // past ~9.2e12 rows per value and reports a garbage density from
      // the audit that sizes the index — refuse loudly like
      // block_cache_plan/bloom_size_plan. The guard rides the
      // NUMERATOR, not ppmExact's denominator proxy: a sparse posting
      // (2 rows across a 10¹³ id span) has a huge span but a tiny
      // numerator, and the proxy would false-refuse it.
      .withColumn("density_ppm", expr(
        s"CASE WHEN n_rows <= ${Long.MaxValue / 1000000L} " +
          "THEN n_rows * 1000000 div (max_id - min_id + 1) " +
          "ELSE raise_error(concat('postingRunStats: n_rows = ', n_rows, " +
          "' past the exact-integer ppm bound — shard the posting audit')) END"))
  }

  /** HeapMemoryManager auto-tuner direction table (regionserver/
    * DefaultHeapMemoryTuner.java:218 getTuneDirection): per metrics
    * period, the step direction the tuner would log — early
    * sufficient-memory checks first (:230: no flushes or memstore
    * under the sufficient level ⇒ that side needs nothing), then the
    * steady-state classification against rolling statistics (:298:
    * low/high = outside mean ± 0.8·deviation over past periods; more
    * misses + fewer flushes ⇒ grow block cache, the reverse ⇒ grow
    * memstore, blocked flushes break ties toward memstore). The
    * revert arm (:247) needs the tuner's own previous step — that's
    * the stateful control loop itself, out of scope for a direction
    * TABLE; rows here assume the steady NEUTRAL prior, exactly the
    * state the reference spends ≳90% of periods in (:294 comment).
    *
    * The mean ± 0.8·dev comparisons are EXACT integer arithmetic: with
    * D = x·n − S over the trailing window (S = Σx, Q = Σx², n rows),
    * x > mean + 0.8·dev  ⇔  D > 0 ∧ 25·D² > 16·(n·Q − S²) — no float
    * sqrt in either engine. Warm-up periods (fewer than `minPeriods`
    * trailing rows) classify NEUTRAL like the reference's ignored
    * initial periods.
    *
    * Scale shape: ONE unpartitioned trailing window — over the
    * metrics-PERIOD series, whose cardinality is wall-clock time
    * (≤ 8760 rows/year at hour grain), never data size; the same
    * time-cardinality bound as watermark_lag_audit.
    *
    * @param stats (period, blocked_flush, unblocked_flush, evict,
    *              cache_miss, mem_used_ppm, cache_used_ppm). */
  def heapTunerDirections(stats: DataFrame, lookback: Int = 6,
                          minPeriods: Int = 3,
                          sufficientPpm: Long = 500000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(lookback >= 1 && minPeriods >= 1)
    val w = Window.orderBy("period").rowsBetween(-lookback, -1)
    val s = stats
      .withColumn("flush_total", col("blocked_flush") + col("unblocked_flush"))
      .withColumn("_n", count(lit(1)).over(w))
      .withColumn("_fs", sum("flush_total").over(w))
      .withColumn("_fq", sum(col("flush_total") * col("flush_total")).over(w))
      .withColumn("_ms", sum("cache_miss").over(w))
      .withColumn("_mq", sum(col("cache_miss") * col("cache_miss")).over(w))
    def hi(x: Column, n: Column, sm: Column, q: Column): Column = {
      val d = x * n - sm
      d > 0 && lit(25L) * d * d > lit(16L) * (n * q - sm * sm)
    }
    def lo(x: Column, n: Column, sm: Column, q: Column): Column = {
      val d = x * n - sm
      d < 0 && lit(25L) * d * d > lit(16L) * (n * q - sm * sm)
    }
    val memSuff = col("flush_total") === 0 || col("mem_used_ppm") < sufficientPpm
    val bcSuff = col("evict") === 0 || col("cache_used_ppm") < sufficientPpm
    val missHi = hi(col("cache_miss"), col("_n"), col("_ms"), col("_mq"))
    val missLo = lo(col("cache_miss"), col("_n"), col("_ms"), col("_mq"))
    val flushHi = hi(col("flush_total"), col("_n"), col("_fs"), col("_fq"))
    val flushLo = lo(col("flush_total"), col("_n"), col("_fs"), col("_fq"))
    s.withColumn("direction",
        when(memSuff && bcSuff, "NEUTRAL")
          .when(memSuff, "INCREASE_BLOCK_CACHE_SIZE")
          .when(bcSuff, "INCREASE_MEMSTORE_SIZE")
          .when(col("_n") < minPeriods, "NEUTRAL")
          .when(missLo && flushLo, "NEUTRAL")
          .when(missHi && flushLo, "INCREASE_BLOCK_CACHE_SIZE")
          .when(missLo && flushHi, "INCREASE_MEMSTORE_SIZE")
          .when(col("blocked_flush") > 0, "INCREASE_MEMSTORE_SIZE")
          .otherwise("NEUTRAL"))
      .select("period", "blocked_flush", "unblocked_flush", "evict",
        "cache_miss", "mem_used_ppm", "cache_used_ppm", "flush_total",
        "direction")
  }

  /** StochasticLoadBalancer cost audit (hbase-server/.../master/
    * balancer/StochasticLoadBalancer.java:868 CostFunction,
    * :931 costFromArray, :981 scale, :995 MoveCostFunction,
    * :1037 RegionCountSkewCostFunction, :1140 LocalityCostFunction) —
    * the per-cost-function table the balancer's
    * `updateStochasticCost` metrics publish, for ONE candidate
    * assignment. Each skew function is costFromArray over a
    * per-server stat: cost = Σ|stat−mean| scaled between min (the
    * best achievable imbalance: T mod C servers holding ⌈mean⌉) and
    * max (one server holds everything). Re-derived as EXACT integer
    * arithmetic over the common denominator C (servers):
    * num = Σ|C·statᵢ − T| (absent servers contribute T each),
    * min = 2r(C−r) with r = T mod C, max = 2T(C−1) — so
    * cost_ppm = (num−min)·10⁶ / (max−min) is engine-portable with no
    * float in sight. Locality cost is Σ(1−locality)/n (ref :1155);
    * move cost is moves/min(n, maxMoves) with the reference's raw
    * 10⁶-sentinel when moves exceed maxMoves = max(25% of regions,
    * 600) (ref :1016-1030). Multipliers are the 1.3.0 defaults
    * (region count 500, move 7, locality 25, load costs 5).
    *
    * Scale shape: region metadata only — regions collapse to one row
    * per server (map-side partial), cost rows number 4·C + 2. The
    * ppm multiply bounds stats at ~9·10¹² per function (Long overflow
    * guard): at 100 TB pass storefile sizes in MiB, not bytes.
    *
    * @param regions (bucket, server, init_server, storefile,
    *                read_req, write_req, locality_ppm) — one row per
    *                region with integer metrics; locality_ppm = the
    *                region's HDFS-block locality on its assigned
    *                server. */
  def stochasticCost(regions: DataFrame, nServers: Int): DataFrame = {
    require(nServers >= 2, s"nServers ($nServers) must be at least 2")
    val C = nServers.toLong
    val perServer = regions.groupBy("server")
      .agg(count(lit(1)).as("_region_count"),
        sum("storefile").as("_storefile_size"),
        sum("read_req").as("_read_request"),
        sum("write_req").as("_write_request"))
    val melted = perServer.select(expr(
      "stack(4, 'region_count_skew', _region_count, " +
        "'storefile_size', _storefile_size, " +
        "'read_request', _read_request, " +
        "'write_request', _write_request) AS (cost_function, stat)"))
    val totals = melted.groupBy("cost_function")
      .agg(sum("stat").as("_T"), count(lit(1)).as("_np"))
    val skew = melted.join(broadcast(totals), "cost_function")
      .groupBy("cost_function", "_T", "_np")
      .agg(sum(abs(lit(C) * col("stat") - col("_T"))).as("_presentNum"))
      .withColumn("_num",
        col("_presentNum") + (lit(C) - col("_np")) * col("_T"))
      .withColumn("_r", pmod(col("_T"), lit(C)))
      .withColumn("_min", lit(2L) * col("_r") * (lit(C) - col("_r")))
      .withColumn("_max", lit(2L) * col("_T") * lit(C - 1L))
      .select(col("cost_function"),
        when(col("_max") <= col("_min") || col("_num") <= col("_min"), 0L)
          .otherwise(least(lit(1000000L),
            expr("(_num - _min) * 1000000 div (_max - _min)")))
          .as("cost_ppm"))
    val loc = regions
      .agg(count(lit(1)).as("_n"),
        sum(lit(1000000L) - col("locality_ppm")).as("_lnum"))
      .select(lit("locality").as("cost_function"),
        expr("_lnum div _n").as("cost_ppm"))
    val mv = regions
      .agg(count(lit(1)).as("_n"),
        sum(when(col("server") =!= col("init_server"), 1L).otherwise(0L))
          .as("_moves"))
      .withColumn("_maxMoves", greatest(expr("_n * 25 div 100"), lit(600L)))
      .select(lit("move").as("cost_function"),
        when(col("_moves") > col("_maxMoves"), lit(1000000000000L))
          .otherwise(least(lit(1000000L),
            expr("_moves * 1000000 div least(_n, _maxMoves)")))
          .as("cost_ppm"))
    val mult = when(col("cost_function") === "region_count_skew", 500L)
      .when(col("cost_function") === "move", 7L)
      .when(col("cost_function") === "locality", 25L)
      .otherwise(5L)
    skew.unionByName(loc).unionByName(mv)
      .withColumn("multiplier", mult)
      .withColumn("weighted_ppm", col("multiplier") * col("cost_ppm"))
  }

  /** BufferedMutator flush segmentation (hbase-client/.../client/
    * BufferedMutatorImpl.java — `mutate` accumulates
    * currentWriteBufferSize until it crosses writeBufferSize and
    * backgroundFlushCommits ships the batch; the periodic flusher
    * closes an idle buffer): per client, mutations in (ts, id) order
    * segment into flush batches — a gap over `timerGapUs` starts a
    * new timer epoch, and within an epoch the running byte total cuts
    * a size-flush every `bufferBytes` (the walRollPlan cumulative-div
    * re-expression of roll-at-boundary: batch k holds the bytes in
    * [k·B, (k+1)·B)). Each batch reports what closed it: `size` (a
    * later batch exists in the same epoch), `timer` (epoch ended but
    * the client wrote again), `end` (close()'s final flush).
    *
    * Scale shape: two window passes partitioned by client (then
    * client+epoch) — per-client history is the natural write-path
    * partitioning, exactly the reference's per-connection buffer; no
    * global sort anywhere.
    *
    * @param muts (client, mut_id, ts, bytes). */
  def bufferedMutatorFlush(muts: DataFrame, bufferBytes: Long,
                           timerGapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bufferBytes >= 1 && timerGapUs >= 1,
      "bufferBytes and timerGapUs must be positive")
    val w = Window.partitionBy("client").orderBy(col("ts"), col("mut_id"))
    val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val epochs = muts
      .withColumn("_us", unix_micros(col("ts")))
      .withColumn("_gap", col("_us") - lag(col("_us"), 1).over(w))
      .withColumn("_brk",
        when(col("_gap").isNull || col("_gap") > timerGapUs, 1L).otherwise(0L))
      .withColumn("epoch", sum("_brk").over(cum))
    val w2 = Window.partitionBy("client", "epoch")
      .orderBy(col("ts"), col("mut_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    epochs
      .withColumn("_cum", sum("bytes").over(w2))
      .withColumn("batch", expr(s"(_cum - bytes) div $bufferBytes"))
      .groupBy("client", "epoch", "batch")
      .agg(count(lit(1)).as("n_mutations"), sum("bytes").as("bytes"),
        min("ts").as("first_ts"), max("ts").as("last_ts"))
      .withColumn("_maxb",
        max("batch").over(Window.partitionBy("client", "epoch")))
      .withColumn("_maxe", max("epoch").over(Window.partitionBy("client")))
      .withColumn("closed_by",
        when(col("batch") < col("_maxb"), "size")
          .when(col("epoch") < col("_maxe"), "timer")
          .otherwise("end"))
      .select("client", "epoch", "batch", "n_mutations", "bytes",
        "first_ts", "last_ts", "closed_by")
  }

  /** The bounded-cell prefix scaffold (histogram_equi_depth's two-pass
    * trick made reusable): tag `df`'s rows with a ≤`cells`-cell range
    * bucket over `valCol`, and compute each cell's cumsum-BEFORE of
    * `weight` over the bounded cell table — the only unpartitioned
    * window in the shape runs over ≤`cells` rows, never a
    * data-cardinality child. Consumers join `prefix` back on `_cell`
    * and refine in-cell if they need exact per-row prefixes. ONE copy
    * of the cell formula/monotonicity for eval_auc, curriculum_order
    * and friends.
    *
    * @return (celled rows with `_cell`, prefix table (_cell, _before)) */
  def cellPrefix(df: DataFrame, valCol: String, cells: Int,
                 weight: Column): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val bounds = df.agg(min(valCol).as("_lo"), max(valCol).as("_hi"))
    val celled = df.crossJoin(broadcast(bounds))
      // THE shared total-order formula (totalOrderBucket — declared
      // 'ONE copy every oracle mirrors verbatim'); the inline
      // re-spelling this replaced could drift from the helper.
      // histogram_equi_depth's inline copy of the formula must match.
      .withColumn("_cell",
        totalOrderBucket(col(valCol), col("_lo"), col("_hi"), cells))
      .drop("_lo", "_hi")
    val wCell = Window.orderBy("_cell")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prefix = celled.groupBy("_cell").agg(sum(weight).as("_w"))
      .withColumn("_before", sum("_w").over(wCell) - col("_w"))
      .select("_cell", "_before")
    (celled, prefix)
  }

  /** Per-group exact (median, MAD) on the discrete-quantile machinery
    * — ONE copy of the robust-stats chain, shared by `agg_mad` (the
    * stats report) and `anomaly_mad` (the flags built on them): the
    * two must agree on every quantile convention or the flags stop
    * matching the published stats. Two groupQuantiles passes + two
    * broadcast joins of group-cardinality relations. */
  def medianMad(e: DataFrame, groupCol: String, valCol: String,
                tieCol: String): DataFrame = {
    val med = groupQuantiles(e, groupCol, valCol, tieCol, Seq(50))
      .select(col(groupCol), col("p50").as("median"))
    val dev = e.join(broadcast(med), groupCol)
      .withColumn("_dev", abs(col(valCol) - col("median")))
    groupQuantiles(dev, groupCol, "_dev", tieCol, Seq(50))
      .select(col(groupCol), col("p50").as("mad"))
      .join(broadcast(med), groupCol)
      .select(col(groupCol), col("median"), col("mad"))
  }

  /** ProcedureStore WAL replay fold (hbase-procedure ProcedureExecutor
    * .load + RootProcedureState): latest entry per procedure wins (seq
    * is unique, so the struct max is total — replay is ORDER-FREE by
    * construction, which the property spec shuffles to prove), then
    * the root rollup: a chain completes only when every member
    * succeeded, ANY rolled-back member poisons it to ROLLBACK, else
    * it's still WAITING. Two key shuffles, both linear.
    *
    * @param wal    (proc_id, seq, state) store entries
    * @param rootOf root procedure id as an expression over `proc_id` */
  def procedureReplay(wal: DataFrame, rootOf: Column): DataFrame =
    wal.groupBy("proc_id")
      .agg(max(struct(col("seq"), col("state"))).as("_e"))
      .select(col("proc_id"), col("_e.seq").as("last_seq"),
        col("_e.state").as("state"))
      .withColumn("root_id", rootOf)
      .groupBy("root_id")
      .agg(count(lit(1)).as("n_procs"),
        sum(when(col("state") === "SUCCESS", 1L).otherwise(0L)).as("n_success"),
        sum(when(col("state") === "ROLLEDBACK", 1L).otherwise(0L))
          .as("n_rolledback"),
        max("last_seq").as("max_seq"))
      .withColumn("root_state",
        when(col("n_rolledback") > 0, "ROLLBACK")
          .when(col("n_success") === col("n_procs"), "SUCCESS")
          .otherwise("WAITING"))
}
