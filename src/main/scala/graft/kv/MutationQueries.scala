package graft.kv

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.{Oracle, Query}

/** SURVEY §2C — mutations (Put/Delete/Increment/Append/CAS/TTL) as
  * oracle-verified queries. Each mutation is a copy-on-write transform;
  * the query materializes the post-mutation snapshot (or counter table)
  * so DuckDB can recompute it relationally.
  */
object MutationQueries {

  private def ordersKV(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")

  /** events as append-able cells: value = props (a string — append is
    * concat of stored bytes in HBase, so a string column is the faithful
    * carrier; doubles would drag engine-specific float formatting in). */
  private def propsCells(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events").select(
      col("user_id").as("rowkey"), col("event_type").as("qualifier"),
      col("ts"), col("event_id"), col("props").as("value"))

  val queries: Seq[Query] = Seq(
    Query("put_upsert", (s, d) => {
      val base = ordersKV(s, d)
      val puts = base.where(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", round(col("o_totalprice") * 2, 2))
      Mutations.put(base, puts, "o_orderkey").orderBy("o_orderkey")
    },
      Oracle("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey % 100 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'U' AS o_orderstatus, round(o_totalprice * 2, 2) AS o_totalprice
        |FROM orders WHERE o_orderkey % 100 = 0
        |ORDER BY o_orderkey""".stripMargin)),
    Query("delete_rows", (s, d) => {
      val base = ordersKV(s, d)
      val dels = base.where(col("o_orderkey") % 7 === 0).select("o_orderkey")
      Mutations.deleteRows(base, dels, "o_orderkey").orderBy("o_orderkey")
    },
      Oracle("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey""".stripMargin)),
    Query("increment_counters", (s, d) =>
      Mutations.incrementCounters(Tables.load(s, d, "events"),
        Seq("user_id", "event_type"), "value").orderBy("user_id", "event_type"),
      Oracle("""SELECT user_id, event_type, count(*) AS incr_count, round(sum(value), 4) AS incr_sum
        |FROM events GROUP BY user_id, event_type ORDER BY user_id, event_type""".stripMargin)),
    Query("append_cells", (s, d) =>
      Mutations.appendCells(propsCells(s, d)).orderBy("rowkey", "qualifier"),
      Oracle("""SELECT user_id AS rowkey, event_type AS qualifier,
        |       string_agg(props, ',' ORDER BY ts, event_id) AS appended
        |FROM events GROUP BY user_id, event_type ORDER BY rowkey, qualifier""".stripMargin)),
    Query("check_and_put", (s, d) => {
      val base = Tables.load(s, d, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val puts = base.where(col("c_custkey") % 10 === 0)
        .withColumn("c_mktsegment", lit("CASPUT"))
      Mutations.checkAndPut(base, puts, "c_custkey", col("c_acctbal") > 0)
        .orderBy("c_custkey")
    },
      Oracle("""SELECT c_custkey,
        |       CASE WHEN c_custkey % 10 = 0 AND c_acctbal > 0 THEN 'CASPUT'
        |            ELSE c_mktsegment END AS c_mktsegment,
        |       c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    // checkAndPut with a CompareOp guard (Table.java:274 —
    // checkAndPut(row, family, qualifier, compareOp, value, put), the
    // 6-op CAS surface beyond the equality form): three successive
    // CAS waves, each guard evaluated against the CURRENT stored
    // state, so stage 3's NOT_EQUAL guard reads segments stage 1
    // wrote — the optimistic-concurrency ledger shape. GREATER on the
    // balance promotes rich %4 customers to HIBAL; LESS 0 flags
    // overdrawn ones; NOT_EQUAL('HIBAL') then bumps %6 balances only
    // where the first wave did NOT already promote (a %12 customer
    // with a >5000 balance must keep its unbumped balance).
    // CAS waves are STORE ROUND TRIPS: each guard reads the state the
    // previous wave COMMITTED, so chaining the waves lazily in one
    // plan re-derives every earlier wave per reference — the r10
    // scan audit measured 54 customer scans for a 3-wave lazy chain
    // (exponential in chain length). Like the store itself, waves 1-2
    // commit copy-on-write (ensure-once ingest, the
    // secondary_index/snapshot discipline); the registered query is
    // wave 3's CAS against the committed state — O(1) scans per wave
    // however long the ledger, which is the 100 TB shape.
    Query("check_and_put_compare", (s, d) => {
      import graft.filters.{CompareOp, Comparators}
      val dir = graft.core.Indexes.ensure(s, d, "cas_compare_ledger") { target =>
        val base = Tables.load(s, d, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        val s1 = Mutations.checkAndPut(base,
          base.where(col("c_custkey") % 4 === 0)
            .withColumn("c_mktsegment", lit("HIBAL")),
          "c_custkey",
          Comparators.long(5000L)(col("c_acctbal"), CompareOp.GREATER))
        graft.core.Layout.writeSorted(s1, "c_custkey", target + "/w1", 4)
        val w1 = graft.core.Layout.read(s, target + "/w1")
        val s2 = Mutations.checkAndPut(w1,
          w1.where(col("c_custkey") % 4 === 0)
            .withColumn("c_mktsegment", lit("NEGBAL")),
          "c_custkey",
          Comparators.long(0L)(col("c_acctbal"), CompareOp.LESS))
        graft.core.Layout.writeSorted(s2, "c_custkey", target + "/w2", 4)
      }
      val w2 = graft.core.Layout.read(s, dir + "/w2")
      Mutations.checkAndPut(w2,
          w2.where(col("c_custkey") % 6 === 0)
            .withColumn("c_acctbal", round(col("c_acctbal") + 100, 4)),
          "c_custkey",
          Comparators.binary("HIBAL")(col("c_mktsegment"), CompareOp.NOT_EQUAL))
        .orderBy("c_custkey")
    },
      // the three CAS waves as nested CASEs — each stage's guard reads
      // the PREVIOUS stage's state
      Oracle("""WITH s1 AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 4 = 0 AND c_acctbal > 5000 THEN 'HIBAL'
        |         ELSE c_mktsegment END AS c_mktsegment,
        |    c_acctbal FROM customer),
        |s2 AS (SELECT c_custkey,
        |    CASE WHEN c_custkey % 4 = 0 AND c_acctbal < 0 THEN 'NEGBAL'
        |         ELSE c_mktsegment END AS c_mktsegment,
        |    c_acctbal FROM s1),
        |s3 AS (SELECT c_custkey, c_mktsegment,
        |    CASE WHEN c_custkey % 6 = 0 AND c_mktsegment <> 'HIBAL'
        |         THEN round(c_acctbal + 100, 4) ELSE c_acctbal END AS c_acctbal
        |  FROM s2)
        |SELECT c_custkey, c_mktsegment, c_acctbal FROM s3
        |ORDER BY c_custkey""".stripMargin)),
    // checkAndPut(value = null): CAS insert-if-absent — the store
    // holds the non-multiple-of-3 customers, the client retries every
    // even customer; only the even multiples of 3 (absent) insert,
    // existing even rows stay untouched despite the CASNEW payload
    Query("check_and_put_absent", (s, d) => {
      val cust = Tables.load(s, d, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val base = cust.where(col("c_custkey") % 3 =!= 0)
      val puts = cust.where(col("c_custkey") % 2 === 0)
        .withColumn("c_mktsegment", lit("CASNEW"))
      Mutations.checkAndPutAbsent(base, puts, "c_custkey")
        .orderBy("c_custkey")
    },
      Oracle("""SELECT c_custkey,
        |       CASE WHEN c_custkey % 3 = 0 THEN 'CASNEW'
        |            ELSE c_mktsegment END AS c_mktsegment,
        |       c_acctbal
        |FROM customer
        |WHERE c_custkey % 3 <> 0 OR c_custkey % 2 = 0
        |ORDER BY c_custkey""".stripMargin)),
    Query("ttl_expiry", (s, d) =>
      Mutations.ttlExpire(Tables.eventCells(s, d), "10 DAYS")
        .select("rowkey", "qualifier", "ts", "value", "event_id").orderBy("event_id"),
      Oracle("WITH " + Tables.eventCellsSql + "\n" +
       """SELECT rowkey, qualifier, ts, value, event_id FROM vcells
         |WHERE ts >= (SELECT max(ts) - INTERVAL 10 DAY FROM events)
         |ORDER BY event_id""".stripMargin)),
    Query("ttl_min_versions", (s, d) =>
      Mutations.ttlExpireMinVersions(Tables.eventCells(s, d), "20 DAYS", minVersions = 1)
        .select("rowkey", "qualifier", "ts", "value", "event_id").orderBy("event_id"),
      Oracle("WITH " + Tables.eventCellsSql + "\n" +
       """SELECT rowkey, qualifier, ts, value, event_id FROM (
         |  SELECT rowkey, qualifier, ts, value, event_id,
         |         row_number() OVER (PARTITION BY rowkey, family, qualifier
         |                            ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM vcells)
         |WHERE ts >= (SELECT max(ts) - INTERVAL 20 DAY FROM events) OR rn <= 1
         |ORDER BY event_id""".stripMargin)),
    // TTL as the FAMILY property it is in the reference: each family
    // retains on its own clock (web 10 days, act 20)
    Query("ttl_per_family", (s, d) =>
      Mutations.ttlExpirePerFamily(Tables.eventCellsTwoFamilies(s, d),
          Map("web" -> "10 DAYS", "act" -> "20 DAYS"))
        .select("rowkey", "family", "qualifier", "ts", "value", "event_id")
        .orderBy("event_id"),
      Oracle("WITH " + Tables.eventCellsTwoFamiliesSql + "\n" +
       """SELECT rowkey, family, qualifier, ts, value, event_id FROM vcells2
         |WHERE (family = 'web' AND ts >= (SELECT max(ts) - INTERVAL 10 DAY FROM events))
         |   OR (family = 'act' AND ts >= (SELECT max(ts) - INTERVAL 20 DAY FROM events))
         |ORDER BY event_id""".stripMargin)),
    // Per-cell TTL tags beside the 10-day family clock: every 3rd cell
    // carries a 2/4/..14-day TTL (from event_id, so the corpus holds
    // BOTH shapes that matter — cell TTLs shorter than the family
    // clock, which expire cells the family would keep, and longer
    // ones, which the family clock caps per HStore.java:1903)
    Query("ttl_cell", (s, d) =>
      Mutations.ttlExpireCell(
          Tables.eventCells(s, d).withColumn("cell_ttl_ms",
            when(col("event_id") % 3 === 0,
              ((col("event_id") % 7) + 1) * 2 * 86400000L)),
          "10 DAYS")
        .select("rowkey", "qualifier", "ts", "cell_ttl_ms", "value", "event_id")
        .orderBy("event_id"),
      Oracle("WITH " + Tables.eventCellsSql + """,
         |tc AS (
         |  SELECT rowkey, qualifier, ts,
         |         CASE WHEN event_id % 3 = 0
         |              THEN ((event_id % 7) + 1) * 2 * 86400000 END AS cell_ttl_ms,
         |         value, event_id
         |  FROM vcells)
         |SELECT rowkey, qualifier, ts, cell_ttl_ms, value, event_id FROM tc
         |WHERE ts >= (SELECT max(ts) - INTERVAL 10 DAY FROM events)
         |  AND (cell_ttl_ms IS NULL
         |       OR epoch_ms(ts) + cell_ttl_ms >= epoch_ms((SELECT max(ts) FROM events)))
         |ORDER BY event_id""".stripMargin)),
    Query("delete_qualifier", (s, d) =>
      Mutations.deleteQualifier(
          Tables.load(s, d, "customer").select("c_custkey", "c_name", "c_mktsegment"),
          col("c_custkey") % 5 === 0, "c_mktsegment")
        .orderBy("c_custkey"),
      Oracle("""SELECT c_custkey, c_name,
        |       CASE WHEN c_custkey % 5 = 0 THEN NULL ELSE c_mktsegment END AS c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Query("check_and_delete", (s, d) => {
      val base = Tables.load(s, d, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val dels = base.where(col("c_custkey") % 10 === 0).select("c_custkey")
      Mutations.checkAndDelete(base, dels, "c_custkey", col("c_acctbal") < 0)
        .orderBy("c_custkey")
    },
      Oracle("""SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |WHERE NOT (c_custkey % 10 = 0 AND c_acctbal < 0)
        |ORDER BY c_custkey""".stripMargin)),
    // checkAndDelete with a CompareOp guard (Table.java:274 — the
    // delete sibling of check_and_put_compare's compareOp CAS): purge
    // every 7th account only while its stored balance is at most 1000
    // (LESS_OR_EQUAL through the comparator surface, not equality) —
    // higher-balance rows survive their own delete request
    Query("check_and_delete_compare", (s, d) => {
      import graft.filters.{CompareOp, Comparators}
      val base = Tables.load(s, d, "customer")
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val dels = base.where(col("c_custkey") % 7 === 0).select("c_custkey")
      Mutations.checkAndDelete(base, dels, "c_custkey",
          Comparators.long(1000L)(col("c_acctbal"), CompareOp.LESS_OR_EQUAL))
        .orderBy("c_custkey")
    },
      Oracle("""SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |WHERE NOT (c_custkey % 7 = 0 AND c_acctbal <= 1000)
        |ORDER BY c_custkey""".stripMargin)),
    // RowMutations (hbase-client/.../client/RowMutations.java:42):
    // one atomic batch of puts AND deletes — keys %10 get a put, keys
    // %20 ALSO a delete, and deletes win over the batch's own puts
    // (the row dies whatever else the batch holds for it)
    Query("mutate_row", (s, d) => {
      val base = ordersKV(s, d)
      val puts = base.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderstatus", lit("M"))
        .withColumn("o_totalprice", round(col("o_totalprice") + 1, 2))
      val dels = base.where(col("o_orderkey") % 20 === 0).select("o_orderkey")
      Mutations.mutateRow(base, puts, dels, "o_orderkey").orderBy("o_orderkey")
    },
      Oracle("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 10 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'M' AS o_orderstatus,
        |       round(o_totalprice + 1, 2) AS o_totalprice
        |FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 20 <> 0
        |ORDER BY o_orderkey""".stripMargin)),
    // checkAndMutate(RowMutations) (HTable.java:1343): keys %10 carry
    // an atomic put+delete batch (%20 also a delete), but the batch
    // applies ONLY where the stored row's price clears 1000 — guarded
    // rows keep their put AND their delete; unguarded rows stay
    // byte-identical even when the batch targeted them
    Query("check_and_mutate_row", (s, d) => {
      val base = ordersKV(s, d)
      val puts = base.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderstatus", lit("C"))
        .withColumn("o_totalprice", round(col("o_totalprice") + 1, 2))
      val dels = base.where(col("o_orderkey") % 20 === 0).select("o_orderkey")
      Mutations.checkAndMutateRow(base, puts, dels, "o_orderkey",
          col("o_totalprice") > 1000)
        .orderBy("o_orderkey")
    },
      Oracle("""SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 10 = 0 AND o_totalprice > 1000
        |            THEN 'C' ELSE o_orderstatus END AS o_orderstatus,
        |       CASE WHEN o_orderkey % 10 = 0 AND o_totalprice > 1000
        |            THEN round(o_totalprice + 1, 2)
        |            ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE NOT (o_orderkey % 20 = 0 AND o_totalprice > 1000)
        |ORDER BY o_orderkey""".stripMargin)),
    // MultiRowMutationEndpoint: every 3rd key gets a put and every 9th
    // ALSO a delete, batched in 24-key blocks over a 256-key-wide
    // pre-split region layout — blocks that straddle a 256 boundary
    // (e.g. keys 240..263) are rejected whole, so their rows stay
    // untouched while aligned blocks mutate atomically
    Query("multi_row_mutation", (s, d) => {
      val base = ordersKV(s, d)
      val batch = expr("o_orderkey div 24").as("batch")
      val puts = base.where(col("o_orderkey") % 3 === 0)
        .withColumn("o_orderstatus", lit("B"))
        .withColumn("o_totalprice", round(col("o_totalprice") + 2, 2))
        .withColumn("batch", batch)
      val dels = base.where(col("o_orderkey") % 9 === 0)
        .select(col("o_orderkey"), batch)
      Mutations.multiRowMutation(base, puts, dels, "o_orderkey", "batch",
          regionWidth = 256)
        .orderBy("o_orderkey")
    },
      Oracle("""WITH ok AS (
        |  SELECT o_orderkey // 24 AS batch
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  GROUP BY 1
        |  HAVING min(o_orderkey // 256) = max(o_orderkey // 256))
        |SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 3 = 0
        |             AND o_orderkey // 24 IN (SELECT batch FROM ok)
        |            THEN 'B' ELSE o_orderstatus END AS o_orderstatus,
        |       CASE WHEN o_orderkey % 3 = 0
        |             AND o_orderkey // 24 IN (SELECT batch FROM ok)
        |            THEN round(o_totalprice + 2, 2)
        |            ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE NOT (o_orderkey % 9 = 0
        |           AND o_orderkey // 24 IN (SELECT batch FROM ok))
        |ORDER BY o_orderkey""".stripMargin)),
    // HTable.batch() partial failure — one result slot per op, the
    // NON-atomic dual of multi_row_mutation: puts on %7 keys (every
    // 35th naming a bogus family), deletes on %11 keys, region
    // [512, 1024) read-only. Bad-family and read-only ops fail ALONE
    // (the RetriesExhaustedWithDetailsException per-op detail); their
    // batch-mates still land
    Query("batch_partial_failure", (s, d) => {
      val base = ordersKV(s, d)
      val puts = base.where(col("o_orderkey") % 7 === 0)
        .select((col("o_orderkey") * 2).as("op_idx"),
          lit("put").as("op_type"),
          when(col("o_orderkey") % 35 === 0, "bogus")
            .otherwise("info").as("family"),
          col("o_orderkey"))
      val dels = base.where(col("o_orderkey") % 11 === 0)
        .select((col("o_orderkey") * 2 + 1).as("op_idx"),
          lit("delete").as("op_type"),
          lit("info").as("family"),
          col("o_orderkey"))
      Mutations.batchOutcomes(puts.unionByName(dels), Seq("id", "info"),
          expr("o_orderkey div 512") === 1)
        .orderBy("op_idx")
    },
      Oracle("""WITH ops AS (
        |  SELECT o_orderkey * 2 AS op_idx, 'put' AS op_type,
        |         CASE WHEN o_orderkey % 35 = 0 THEN 'bogus' ELSE 'info' END AS family,
        |         o_orderkey
        |  FROM orders WHERE o_orderkey % 7 = 0
        |  UNION ALL
        |  SELECT o_orderkey * 2 + 1, 'delete', 'info', o_orderkey
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |cls AS (SELECT *,
        |  CASE WHEN family NOT IN ('id', 'info') THEN 'NoSuchColumnFamilyException'
        |       WHEN o_orderkey // 512 = 1 THEN 'DoNotRetryIOException: region is read only'
        |       ELSE 'OK' END AS outcome
        |  FROM ops)
        |SELECT op_idx, op_type, family, o_orderkey, outcome,
        |       outcome = 'OK' AS applied
        |FROM cls ORDER BY op_idx""".stripMargin)),
    // Constraint coprocessor write path: keys %10 carry a put tripling
    // the price; the enabled chain (status domain + 400k price cap)
    // rejects every put whose new price busts the cap — those rows
    // stay byte-identical, accepted puts land atomically
    Query("constraint_put", (s, d) => {
      val base = ordersKV(s, d)
      val puts = base.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderstatus", lit("P"))
        .withColumn("o_totalprice", round(col("o_totalprice") * 3, 2))
      Mutations.constraintPut(base, puts, "o_orderkey", Seq(
          "status_domain" -> col("o_orderstatus").isin("O", "F", "P"),
          "price_cap" -> (col("o_totalprice") <= 400000)))
        .orderBy("o_orderkey")
    },
      Oracle("""SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 10 = 0 AND round(o_totalprice * 3, 2) <= 400000
        |            THEN 'P' ELSE o_orderstatus END AS o_orderstatus,
        |       CASE WHEN o_orderkey % 10 = 0 AND round(o_totalprice * 3, 2) <= 400000
        |            THEN round(o_totalprice * 3, 2)
        |            ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    // version-exact deletes on the versioned cell view: drop the LATEST
    // version of every column of every 7th user (deleteColumn with ts =
    // that version's timestamp), then a family-scoped up-to-ts delete
    // for every 13th user (deleteFamily(ts))
    Query("delete_version", (s, d) => {
      val v = Tables.eventCells(s, d)
      val dels = v.where(pmod(col("rowkey"), lit(7)) === 0)
        .groupBy("rowkey", "family", "qualifier").agg(max(col("ts")).as("ts"))
      Mutations.deleteFamilyBefore(
          Mutations.deleteVersion(v, dels),
          pmod(col("rowkey"), lit(13)) === 0, "ev",
          lit("2024-01-03 00:00:00").cast("timestamp"))
        .select("rowkey", "qualifier", "ts", "value", "event_id").orderBy("event_id")
    },
      Oracle("WITH " + Tables.eventCellsSql + s""",
         |dels AS (SELECT rowkey, family, qualifier, max(ts) AS ts FROM vcells
         |         WHERE rowkey % 7 = 0 GROUP BY 1, 2, 3)
         |SELECT rowkey, qualifier, ts, value, event_id FROM vcells v
         |WHERE NOT EXISTS (SELECT 1 FROM dels d
         |                  WHERE d.rowkey = v.rowkey AND d.family = v.family
         |                    AND d.qualifier = v.qualifier AND d.ts = v.ts)
         |  AND NOT coalesce(v.rowkey % 13 = 0 AND v.family = 'ev'
         |                   AND v.ts <= TIMESTAMP '2024-01-03 00:00:00', false)
         |ORDER BY event_id""".stripMargin)),
  )

}
