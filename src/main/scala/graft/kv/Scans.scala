package graft.kv

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Spark-native Get/Scan (hbase-client/.../client/{Get,Scan}.java,
  * HTable.java). An HBase scan is a key-range read with projection,
  * time-range and version limits; on Spark that is a filtered,
  * pruned parquet scan — Catalyst pushes the rowkey range and the
  * column projection into the file reader (PushedFilters/ReadSchema),
  * which is the moral equivalent of region pruning + family selection.
  */
object Scans {

  /** Scan.setStartRow/setStopRow + addColumn projection.
    * [start, stop) exclusive-stop. Sort-free: an HBase scanner returns
    * key order because the storage is sorted — with Layout.writeSorted
    * parquet the same holds per file; a global presentation sort
    * belongs to the consumer (the verify harness adds one), not here.
    * Region-pruned to the files whose key ranges meet [start, stop) and
    * page-index-pruned within them; a collect over at most 2 MB of
    * such files, in at most 4 partitions, runs in-thread with no Spark
    * job ([[graft.core.Fetch]]). */
  def range(df: DataFrame, keyCol: String, start: Long, stop: Long,
            projection: Seq[String]): DataFrame =
    df.where(col(keyCol) >= start && col(keyCol) < stop)
      .select(projection.map(col): _*)

  /** Scan.setSmall(true) (hbase-client/.../client/Scan.java:152,
    * HBASE-9488): a scan known to be tiny runs
    * openScanner+next+closeScanner in ONE RPC with pread instead of
    * streaming seek+read — the contract is "bounded result, minimal
    * round trips, no scanner state". The Spark rendering: a pushed
    * `key >= start` range with a row LIMIT that must plan as
    * TakeOrderedAndProject — per-partition top-n + an n-row merge at
    * the driver, never a global sort or an iterative scanner
    * (plan-asserted in the spec). At 100 TB region pruning plays the
    * pread role: only the files at or past the start key are opened,
    * and the page index prunes within them. When those files total at
    * most 2 MB in at most 4 partitions, the per-partition top-n and the
    * merge both run in-thread on the driver, with no Spark job
    * ([[graft.core.Fetch]]). */
  def small(df: DataFrame, keyCol: String, start: Long, limit: Int,
            projection: Seq[String]): DataFrame = {
    require(limit >= 1 && limit <= 10000,
      s"a small scan is BOUNDED — limit $limit out of (0, 10000]")
    df.where(col(keyCol) >= start)
      .orderBy(col(keyCol))
      .limit(limit)
      .select(projection.map(col): _*)
  }

  /** Scan.setReversed(true) + limit — top-N by key descending. */
  def reversed(df: DataFrame, keyCol: String, limit: Int,
               projection: Seq[String]): DataFrame =
    df.select(projection.map(col): _*).orderBy(col(keyCol).desc).limit(limit)

  /** REST/Thrift scanner paging (hbase-rest ScannerResource.java:47,
    * hbase-thrift ThriftServerRunner.scannerGetList:1411) — a scanner
    * handle is a CURSOR: each fetch returns the next `pageSize` rows
    * strictly after it. Every page is an independent range scan
    * `key > cursor ORDER BY key LIMIT n`: the page plans as
    * TakeOrderedAndProject (per-partition top-n + n-row merge, never a
    * global sort), and the cursor is the previous page's max key held
    * DRIVER-side as a literal — exactly the resume-row an HBase client
    * keeps between scanner RPCs. The literal matters at scale: the r8
    * form carried the cursor as a lazy broadcast scalar, which kept
    * the `key > cursor` predicate out of the parquet scan
    * (PushedFilters stayed empty — the r9 scan-audit re-verification,
    * audits/SCANAUDIT_r9.md, caught it), so every page re-read the WHOLE table; as a literal
    * the predicate pushes and each page min/max-prunes to the row
    * groups past the cursor. The price is one tiny driver job per
    * page during construction — a cursor is sequential by nature.
    *
    * EAGER by design: those nPages−1 cursor jobs run when the
    * DataFrame is BUILT, not when it is acted on — a plan-only caller
    * (explain, plan audits, specs that never collect) still executes
    * them, and the cursors snapshot the table as of construction time
    * (a row inserted behind an already-advanced cursor is not seen,
    * which is also the HBase scanner-handle contract). Callers that
    * need a lazy plan should build the pages themselves from known
    * boundary keys.
    *
    * `keyCol` must be UNIQUE per row (an HBase rowkey is): the resume
    * predicate is strictly `key > cursor`, so rows SHARING the
    * page-boundary key would be skipped by the next page — duplicate
    * keys need a composite unique cursor instead. It must also appear
    * in `projection` (the cursor is derived from the projected page). */
  def pagedScan(df: DataFrame, keyCol: String, pageSize: Int, nPages: Int,
                projection: Seq[String]): DataFrame = {
    require(pageSize >= 1 && nPages >= 1,
      s"need pageSize ($pageSize) >= 1 and nPages ($nPages) >= 1")
    require(projection.contains(keyCol),
      s"projection must carry the cursor key '$keyCol' (got $projection)")
    var cursor: Option[Any] = None
    val pages = (0 until nPages).map { i =>
      val base = cursor.fold(df)(c => df.where(col(keyCol) > lit(c)))
      val page = base.orderBy(keyCol).limit(pageSize)
        .select(projection.map(col) :+ lit(i.toLong).as("page_idx"): _*)
      // an empty page leaves the cursor where it was — every later
      // page is empty too (nothing sits above the cursor). The LAST
      // page's cursor is never read: skip its driver job.
      if (i < nPages - 1)
        Option(page.agg(max(col(keyCol))).head().get(0)).foreach(v =>
          cursor = Some(v))
      page
    }
    pages.reduce(_ unionByName _)
  }

  /** Get — single-row point read. With rowkey-sorted parquet this is a
    * region-pruned scan (one file, by the footers' key ranges) that
    * decodes one page (page-index pruning); when that file is within
    * 2 MB, its collect runs in-thread with no Spark job
    * ([[graft.core.Fetch]]). */
  def get(df: DataFrame, keyCol: String, key: Long,
          projection: Seq[String]): DataFrame =
    df.where(col(keyCol) === key).select(projection.map(col): _*)

  /** The most keys a [[multiGet]] sends as one pushed IN-list. */
  val InListMax = 1000

  /** HTable.get(List[Get]) — batched point reads. An IN-list stays a
    * pushed-down predicate up to [[InListMax]] keys; past that the
    * predicate stops being scan-prunable (and the task binary bloats
    * with literals), so the batch switches to [[multiGetBulk]]. The
    * IN-list form opens only the region files that can hold a key,
    * prunes pages by the page index, and collects in-thread with no
    * Spark job while those files total at most 2 MB in at most 4
    * partitions ([[graft.core.Fetch]]). */
  def multiGet(df: DataFrame, keyCol: String, keys: Seq[Long],
               projection: Seq[String]): DataFrame =
    if (keys.size <= InListMax)
      df.where(col(keyCol).isInCollection(keys))
        .select(projection.map(col): _*)
    else {
      val spark = df.sparkSession
      import spark.implicits._
      multiGetBulk(df, keyCol, keys.toDF(keyCol), projection)
    }

  /** Large-batch Gets (a 100k-key Get list is a routine HBase access
    * pattern): broadcast hash SEMI-join of the key set against the
    * table. The key batch — tiny next to the table — is the broadcast
    * side; the table streams through one scan pass with NO shuffle of
    * the big side (plan-asserted in the spec). At cluster scale this is
    * exactly the multi-get fan-out a region client does, minus the RPC. */
  def multiGetBulk(df: DataFrame, keyCol: String, keys: DataFrame,
                   projection: Seq[String]): DataFrame =
    df.join(broadcast(keys.select(col(keyCol)).distinct()), Seq(keyCol), "leftsemi")
      .select(projection.map(col): _*)

  /** Table.existsAll / Get.setCheckExistenceOnly (hbase-client/.../
    * client/Table.java existsAll, HTable.exists — the server answers
    * presence WITHOUT shipping cell values; the whole point is that
    * no value bytes cross the wire): one row per probed key with an
    * `exists` flag, absent keys reported FALSE rather than dropped
    * (an existence probe that silently drops misses can't tell a
    * miss from a lost probe). The table side projects ONLY the key
    * column — column pruning reaches the scan (plan-asserted), the
    * Spark analog of not shipping values — and streams ONE unshuffled
    * pass against the broadcast probe set; only the surviving hit
    * keys (≤ the probe count, small by premise) are distinct'd and
    * joined back onto the probes for the miss rows. */
  def multiExists(df: DataFrame, keyCol: String, keys: DataFrame): DataFrame = {
    val probes = keys.select(col(keyCol)).distinct()
    val hits = df.select(col(keyCol))
      .join(broadcast(probes), Seq(keyCol), "leftsemi")
      .distinct()
    probes
      .join(broadcast(hits.withColumn("_hit", lit(true))), Seq(keyCol), "left")
      // key_exists, not `exists` — reserved in half the SQL engines
      // an oracle might run on
      .select(col(keyCol), coalesce(col("_hit"), lit(false)).as("key_exists"))
  }

  /** The HFile-bloom-filter read path (reference: StoreFile bloom
    * filters let a Get skip files that cannot contain the key) for key
    * batches too large to broadcast as a hash table: a
    * BloomFilterAggregate over the key set becomes a scalar subquery,
    * and `might_contain(bloom, xxhash64(key))` prunes the table scan
    * BEFORE the join's exchange — only bloom-passing rows (matches +
    * the fpp tail) ever shuffle. The exact semi-join that follows
    * removes false positives, so the result is exact; the join is
    * forced to sort-merge because the premise is a key set past
    * broadcast size. Same mechanism as Spark's InjectRuntimeFilter,
    * made explicit and unconditional. */
  def multiGetBloomSmj(df: DataFrame, keyCol: String, keys: DataFrame,
                       projection: Seq[String],
                       expectedKeys: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val keySet = keys.select(col(keyCol)).distinct()
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(ColumnBridge.resolvableExpression(col(keyCol)))),
        Literal(expectedKeys)).toAggregateExpression())
    val bloom = keySet.agg(bloomAgg.as("_bloom"))
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      ColumnBridge.scalarSubquery(bloom),
      new XxHash64(Seq(ColumnBridge.resolvableExpression(col(keyCol))))))
    df.where(mightContain)
      .join(keySet.hint("merge"), Seq(keyCol), "leftsemi")
      .select(projection.map(col): _*)
  }

  /** Scan.setLoadColumnFamiliesOnDemand (hbase-client/.../client/
    * Scan.java:744, HBASE-5416 "essential column families"): when the
    * scan's filter reads only some families, those ESSENTIAL families
    * scan first and the remaining (fat) families load lazily — only
    * for rows the filter passed — so non-essential store files are
    * never seeked for filtered-out rows.
    *
    * Columnar rendering: phase 1 scans ONLY key + essential columns
    * (a pruned ReadSchema, plan-asserted in the spec — the fat
    * columns never appear in the first pass) and yields passing keys;
    * phase 2 fetches ALL families for exactly those keys via a key
    * semi-join (merge-hinted: passing keys are data-sized, never a
    * broadcast premise). Result ≡ the single-pass filter PROVIDED
    * `keyCol` is a non-null row key unique per row — the HBase rowkey
    * contract this models. With duplicate keys the semi-join would
    * resurrect non-passing rows sharing a key with a passing one, and
    * a NULL key never matches its own semi-join probe; neither shape
    * is a rowkey, so the precondition is the caller's schema, not a
    * runtime scan.
    *
    * When to prefer which at 100 TB: a columnar store already decodes
    * only the predicate columns for non-matching row groups, so the
    * single-pass filter usually wins there; the two-phase shape pays
    * when the fat families live in separate row-oriented stores (the
    * reference's HFiles-per-family layout), or when passing keys feed
    * several downstream fetches. The phase-1 scan shuffles only keys;
    * the fat side shuffles once, post-prune. */
  def lazyCf(df: DataFrame, keyCol: String, essential: Seq[String],
             pred: Column): DataFrame = {
    val passing = df
      .select((keyCol +: essential.filterNot(_ == keyCol)).map(col): _*)
      .where(pred)
      .select(col(keyCol))
    df.join(passing.hint("merge"), Seq(keyCol), "leftsemi")
  }

  /** ONE copy of the [lo, hi) timestamp-range predicate shared by
    * [[timeRange]], [[raw]] and [[familyTimeRange]] (r13 review: three
    * hand-synced inline copies — the perFamilyKeep drift class). */
  private[graft] def tsRange(lo: String, hi: String): Column =
    col("ts") >= lit(lo).cast("timestamp") &&
      col("ts") < lit(hi).cast("timestamp")

  /** Scan.setTimeRange(min, max) over versioned cells — [min, max). */
  def timeRange(vcells: DataFrame, minTs: String, maxTs: String): DataFrame =
    vcells.where(tsRange(minTs, maxTs))

  /** Scan.setBatch(n) (Scan.java:479) — chunk each row's cells into
    * batches of ≤ n cells, in (family, qualifier) order: the reference
    * scanner's partial-row protocol for rows too wide for one RPC
    * response. Relationally the "scanner position" is just a batch
    * index: cell k of a row lands in batch k div n at offset k mod n —
    * a windowed row_number (one hash shuffle on rowkey) plus codegen'd
    * arithmetic; a consumer groups on (rowkey, batch_idx) to iterate
    * row chunks exactly as an HBase client iterates partial Results.
    * `orderCols` is the within-row scan order — VERSIONED callers
    * append ts desc + a unique tiebreak (the storeLimit/
    * columnPaginationPredicate contract), or two versions of one
    * (family, qualifier) land in partition-order-dependent chunks
    * (r12 kv review). */
  def batchCells(cells: DataFrame, batch: Int,
                 orderCols: Seq[Column] =
                   Seq(col("family"), col("qualifier"))): DataFrame = {
    require(batch >= 1, s"batch size ($batch) must be at least 1")
    val w = Window.partitionBy("rowkey").orderBy(orderCols: _*)
    val k = row_number().over(w) - 1
    cells.withColumn("batch_idx", floor(k / batch).cast("bigint"))
      .withColumn("pos_in_batch", pmod(k, lit(batch)).cast("bigint"))
  }

  /** Scan.setMaxResultsPerColumnFamily / setRowOffsetPerColumnFamily
    * (Scan.java storeLimit / storeOffset; enforced per STORE — per
    * (row, family) — by StoreScanner's countPerRow check): skip the
    * first `offset` CELLS of each (rowkey, family) in scan order,
    * return at most `limit` more. Cell-counted, unlike
    * ColumnPaginationFilter's per-row COLUMN count — the two APIs
    * coexist in the reference and differ on versioned views and on
    * multi-family rows (this one paginates within each family
    * independently). `orderCols` is the within-family scan order —
    * versioned callers append ts desc + a unique tiebreak, the
    * columnPaginationPredicate contract. One window on
    * (rowkey, family); window-shaped, so a caller composing further
    * predicates materializes first. */
  def storeLimit(cells: DataFrame, limit: Int, offset: Int,
                 orderCols: Seq[Column] = Seq(col("qualifier"))): DataFrame = {
    require(limit >= 1 && offset >= 0,
      s"need limit ($limit) >= 1, offset ($offset) >= 0")
    val w = Window.partitionBy("rowkey", "family").orderBy(orderCols: _*)
    // offset + limit in LONG — the DSL Int-sum wrap guard
    cells.withColumn("_rn", row_number().over(w))
      .where(col("_rn") > offset && col("_rn") <= offset.toLong + limit.toLong)
      .drop("_rn")
  }

  /** ONE copy of the per-family-disjunct + unlisted-leg predicate
    * shape shared by [[familyTimeRange]] and
    * [[Mutations.ttlExpirePerFamily]]: each listed family keeps cells
    * satisfying ITS leg; an UNLISTED family passes untouched — and
    * that includes a NULL family, where every listed disjunct is NULL,
    * via the coalesced isInCollection leg. The three-valued-logic
    * reasoning lives HERE once (r12 kv review: the two call sites were
    * hand-synced copies carrying the identical NULL-family comment —
    * the next NULL-semantics fix must land once). */
  private[kv] def perFamilyKeep(legs: Map[String, Column]): Column =
    legs.map { case (f, leg) => col("family") === f && leg }.reduce(_ || _) ||
      coalesce(!col("family").isInCollection(legs.keys.toSeq), lit(true))

  /** Get.setColumnFamilyTimeRange (Get.java:217) — per-family [min,max)
    * version ranges, overriding the scan-wide range family by family:
    * a listed family keeps only versions inside ITS range; unlisted
    * families (NULL included — [[perFamilyKeep]]) pass untouched. A
    * pure disjunctive predicate — pushes to the scan like any row
    * filter, no shuffle. */
  def familyTimeRange(vcells: DataFrame,
                      ranges: Map[String, (String, String)]): DataFrame = {
    require(ranges.nonEmpty, "familyTimeRange needs at least one family range")
    vcells.where(perFamilyKeep(ranges.map { case (f, (lo, hi)) =>
      f -> tsRange(lo, hi)
    }))
  }

  /** HTable.getRowOrBefore (HTable.java, the closest-row-before read
    * the META table's region lookup is built on): the greatest row at
    * or below `key`. orderBy-desc + limit(1) plans as
    * TakeOrderedAndProject — per-partition top-1 then a 1-row merge,
    * never a global sort. */
  def closestRowBefore(df: DataFrame, keyCol: String, key: Long,
                       projection: Seq[String]): DataFrame =
    reversed(df.where(col(keyCol) <= key), keyCol, 1, projection)

  /** Scan.setRaw(true) (Scan.java:910) — a raw scan returns every cell
    * INCLUDING delete markers, with no tombstone masking and no version
    * trimming: the physical store content, which is exactly the edit
    * log slice. Relationally that means the masking aggregate of
    * [[graft.analytics.Tools.walReplay]] is simply not applied — the
    * time-range predicate pushes to the scan and nothing shuffles. */
  def raw(edits: DataFrame, tsLo: String, tsHi: String): DataFrame =
    edits.where(tsRange(tsLo, tsHi))

  /** KEEP_DELETED_CELLS point-in-time read
    * (HColumnDescriptor.setKeepDeletedCells, honored by
    * ScanQueryMatcher): an as-of-`asOf` read per (rowkey, family,
    * qualifier). Families WITH the property still hold their deleted
    * cells, so only deletes at ts ≤ `asOf` mask (a later delete hasn't
    * happened yet from the read point's perspective). Families WITHOUT
    * it model the post-major-compaction store: a deleted cell is
    * physically gone, so ANY delete masks — even one newer than the
    * read point. Masking follows HBase delete semantics (a delete
    * covers every version at ts ≤ its ts); like walReplay this is ONE
    * hash aggregate — two conditional struct/scalar maxes, map-side
    * partial, no window, no second pass.
    *
    * @param edits (rowkey, family, qualifier, ts, value, tieBreaker,
    *              op) with op ∈ {put, delete}. */
  def pointInTimeRead(edits: DataFrame, asOf: String,
                      keepDeletedFamilies: Set[String],
                      tieBreaker: String = "event_id"): DataFrame = {
    val asOfTs = lit(asOf).cast("timestamp")
    val keep = col("family").isInCollection(keepDeletedFamilies.toSeq)
    edits
      .groupBy("rowkey", "family", "qualifier")
      .agg(
        max(when(col("op") === "put" && col("ts") <= asOfTs,
          struct(col("ts"), col(tieBreaker), col("value")))).as("_put"),
        max(when(col("op") === "delete" && (col("ts") <= asOfTs || !keep),
          col("ts"))).as("_del_ts"))
      .where(col("_put").isNotNull &&
        (col("_del_ts").isNull || col("_put.ts") > col("_del_ts")))
      .select(col("rowkey"), col("family"), col("qualifier"),
        col("_put.ts").as("ts"), col(s"_put.$tieBreaker").as(tieBreaker),
        col("_put.value").as("value"))
  }

  /** Scan.setMaxVersions(k) — latest k versions per (rowkey, qualifier).
    * Window row_number on the natural HBase sort (coordinates asc, ts
    * desc); one hash shuffle on the group key, map-side nothing to
    * pre-aggregate but the window is codegen'd. Ties broken by a unique
    * id so results are deterministic. */
  def maxVersions(vcells: DataFrame, k: Int, tieBreaker: String = "event_id"): DataFrame = {
    val w = Window.partitionBy("rowkey", "family", "qualifier")
      .orderBy(col("ts").desc, col(tieBreaker).desc)
    vcells.withColumn("_v", row_number().over(w)).where(col("_v") <= k).drop("_v")
  }

  /** TIMELINE-consistency read (hbase-client/.../client/Consistency
    * .java, Result.isStale): when a region's primary replica is down,
    * the client accepts the answer of a secondary that trails the
    * primary by the replication lag — possibly stale, and flagged so.
    * `primaryDown` marks the rowkeys whose primary is unavailable
    * (here a deterministic predicate; in the reference, a timed-out
    * RPC). Those keys read the REPLICA state — versions no newer than
    * max(ts) − lag, i.e. what replication had shipped by the staleness
    * horizon — with `stale = true`; healthy keys read the primary's
    * latest version with `stale = false`. A replica-served key whose
    * every version postdates the horizon returns nothing (the replica
    * genuinely has no row yet — the anomaly TIMELINE consistency
    * trades for availability).
    *
    * Scale shape: the horizon is a 1-row broadcast aggregate; the
    * visibility filter is a map-side predicate; the only shuffle is
    * the per-(row, family, qualifier) latest-version window every
    * versioned read already pays. */
  def timelineRead(vcells: DataFrame, primaryDown: Column, lag: String): DataFrame = {
    val horizon = vcells.agg((max(col("ts")) - graft.core.Intervals.literal(lag)).as("_hz"))
    val visible = vcells.crossJoin(broadcast(horizon))
      .where(!primaryDown || col("ts") <= col("_hz"))
      .withColumn("stale", primaryDown)
      .drop("_hz")
    maxVersions(visible, 1)
  }
}
