package graft.filters

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.{Oracle, Query}

/** SURVEY §2B — every HBase filter wired as a verified query with a
  * DuckDB oracle. Cell-level filters run against the standard customer
  * cell view (Tables.customerCells); versioned filters against the
  * events cell view (Tables.eventCells); rowkey filters against the
  * sorted `orders` scan.
  */
object FilterQueries {
  import CompareOp._

  private def cc(s: SparkSession, d: String): DataFrame = Tables.customerCells(s, d)
  private def vc(s: SparkSession, d: String): DataFrame = Tables.eventCells(s, d)
  private def cellsOut(df: DataFrame): DataFrame =
    df.select("rowkey", "family", "qualifier", "value")
      .orderBy("rowkey", "family", "qualifier", "value")
  private def vcellsOut(df: DataFrame): DataFrame =
    df.select("rowkey", "qualifier", "ts", "value", "event_id").orderBy("event_id")

  /** DuckDB CTE prefix for the customer cell view. */
  private val C = "WITH " + Tables.customerCellsSql + "\n"
  private val V = "WITH " + Tables.eventCellsSql + "\n"
  private val cellsOrder = "ORDER BY rowkey, family, qualifier, value"

  val queries: Seq[Query] = Seq(
    Query("filter_row", (s, d) =>
      cellsOut(cc(s, d).where(
        Filters.rowFilter(col("rowkey"), LESS_OR_EQUAL, Comparators.binary("199")))),
      Oracle(C + s"SELECT rowkey, family, qualifier, value FROM cells WHERE rowkey <= '199' $cellsOrder")),
    Query("filter_prefix", (s, d) =>
      cellsOut(cc(s, d).where(Filters.prefixFilter(col("rowkey"), "12"))),
      Oracle(C + s"SELECT rowkey, family, qualifier, value FROM cells WHERE rowkey LIKE '12%' $cellsOrder")),
    Query("filter_value", (s, d) =>
      cellsOut(cc(s, d).where(Filters.valueFilter(EQUAL, Comparators.substr("building")))),
      Oracle(C + s"SELECT rowkey, family, qualifier, value FROM cells WHERE lower(value) LIKE '%building%' $cellsOrder")),
    Query("filter_single_col_value", (s, d) =>
      cellsOut(Filters.singleColumnValue(cc(s, d), "info", "c_mktsegment",
        EQUAL, Comparators.binary("BUILDING"), filterIfMissing = true)),
      Oracle(C + s"""SELECT rowkey, family, qualifier, value FROM cells
              |WHERE rowkey IN (SELECT rowkey FROM cells
              |                 WHERE family='info' AND qualifier='c_mktsegment' AND value='BUILDING')
              |$cellsOrder""".stripMargin)),
    Query("filter_single_col_value_exclude", (s, d) =>
      cellsOut(Filters.singleColumnValue(cc(s, d), "info", "c_mktsegment",
        EQUAL, Comparators.binary("BUILDING"), filterIfMissing = true,
        excludeChecked = true)),
      Oracle(C + s"""SELECT rowkey, family, qualifier, value FROM cells
              |WHERE rowkey IN (SELECT rowkey FROM cells
              |                 WHERE family='info' AND qualifier='c_mktsegment' AND value='BUILDING')
              |  AND NOT (family='info' AND qualifier='c_mktsegment')
              |$cellsOrder""".stripMargin)),
    Query("filter_col_count", (s, d) =>
      cellsOut(Filters.columnCount(cc(s, d), 2)),
      Oracle(C + s"""SELECT rowkey, family, qualifier, value FROM (
              |  SELECT rowkey, family, qualifier, value,
              |         row_number() OVER (PARTITION BY rowkey ORDER BY family, qualifier) AS rn
              |  FROM cells) WHERE rn <= 2 $cellsOrder""".stripMargin)),
    Query("filter_qualifier", (s, d) =>
      cellsOut(cc(s, d).where(
        Filters.qualifierFilter(GREATER_OR_EQUAL, Comparators.binary("c_n")))),
      Oracle(C + s"SELECT rowkey, family, qualifier, value FROM cells WHERE qualifier >= 'c_n' $cellsOrder")),
    Query("filter_family", (s, d) =>
      cellsOut(cc(s, d).where(Filters.familyFilter(EQUAL, Comparators.binary("info")))),
      Oracle(C + s"SELECT rowkey, family, qualifier, value FROM cells WHERE family = 'info' $cellsOrder")),
    Query("filter_col_prefix", (s, d) =>
      cellsOut(cc(s, d).where(Filters.columnPrefix("c_na", "c_m"))),
      Oracle(C + s"""SELECT rowkey, family, qualifier, value FROM cells
              |WHERE qualifier LIKE 'c_na%' OR qualifier LIKE 'c_m%' $cellsOrder""".stripMargin)),
    Query("filter_col_range", (s, d) =>
      cellsOut(cc(s, d).where(Filters.columnRange("c_m", minInclusive = true,
        "c_nat", maxInclusive = false))),
      Oracle(C + s"""SELECT rowkey, family, qualifier, value FROM cells
              |WHERE qualifier >= 'c_m' AND qualifier < 'c_nat' $cellsOrder""".stripMargin)),
    Query("filter_col_pagination", (s, d) =>
      cellsOut(Filters.columnPagination(cc(s, d), limit = 1, offset = 1)),
      Oracle(C + s"""SELECT rowkey, family, qualifier, value FROM (
              |  SELECT rowkey, family, qualifier, value,
              |         row_number() OVER (PARTITION BY rowkey ORDER BY family, qualifier) AS rn
              |  FROM cells) WHERE rn > 1 AND rn <= 2 $cellsOrder""".stripMargin)),
    Query("filter_ts", (s, d) => {
      val versions = Tables.load(s, d, "events")
        .where(col("event_id") < 5).select(col("ts"))
      vcellsOut(vc(s, d).join(versions, Seq("ts"), "leftsemi"))
    },
      Oracle(V + """SELECT rowkey, qualifier, ts, value, event_id FROM vcells
             |WHERE ts IN (SELECT ts FROM events WHERE event_id < 5) ORDER BY event_id""".stripMargin)),
    Query("filter_page", (s, d) =>
      Filters.pageFilter(Tables.load(s, d, "customer"), Seq("c_custkey"), 150)
        .select("c_custkey", "c_name", "c_mktsegment"),
      Oracle("SELECT c_custkey, c_name, c_mktsegment FROM customer ORDER BY c_custkey LIMIT 150")),
    Query("filter_inclusive_stop", (s, d) =>
      Tables.load(s, d, "orders")
        .where(Filters.inclusiveStop(col("o_orderkey"), 300L))
        .select("o_orderkey", "o_custkey", "o_totalprice").orderBy("o_orderkey"),
      Oracle("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin)),
    Query("filter_fuzzy_row", (s, d) =>
      cellsOut(cc(s, d).where(Filters.fuzzyRowFilter(col("rowkey"), "1?3"))),
      Oracle(C + s"""SELECT rowkey, family, qualifier, value FROM cells
              |WHERE rowkey LIKE '1_3%' OR (length(rowkey) <= 2 AND rowkey LIKE '1%')
              |$cellsOrder""".stripMargin)),
    Query("filter_multi_row_range", (s, d) =>
      Tables.load(s, d, "orders")
        .where(Filters.multiRowRange(col("o_orderkey"),
          Seq((100L, 200L), (500L, 600L), (1500L, 1600L))))
        .select("o_orderkey", "o_orderstatus", "o_totalprice").orderBy("o_orderkey"),
      Oracle("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE (o_orderkey >= 100 AND o_orderkey < 200)
        |   OR (o_orderkey >= 500 AND o_orderkey < 600)
        |   OR (o_orderkey >= 1500 AND o_orderkey < 1600) ORDER BY o_orderkey""".stripMargin)),
    Query("filter_first_key_only", (s, d) =>
      Filters.firstKeyOnly(cc(s, d)).orderBy("rowkey"),
      Oracle(C + """SELECT rowkey, family, qualifier FROM (
             |  SELECT rowkey, family, qualifier,
             |         row_number() OVER (PARTITION BY rowkey ORDER BY family, qualifier) AS rn
             |  FROM cells) WHERE rn = 1 ORDER BY rowkey""".stripMargin)),
    // KeyOnlyFilter(true) — lenAsVal (KeyOnlyFilter.java:60-67 stores
    // the 4-byte int value LENGTH in place of the value): cell
    // coordinates plus value width, never the value bytes — the
    // "how wide are my values" audit scan. The plain blanking form is
    // exercised through the DSL in filter_parse_registry.
    Query("filter_key_only", (s, d) =>
      cc(s, d).select(col("rowkey"), col("family"), col("qualifier"),
          length(col("value")).cast("bigint").as("value_len"))
        .orderBy("rowkey", "family", "qualifier"),
      Oracle(C + """SELECT rowkey, family, qualifier, CAST(len(value) AS BIGINT) AS value_len
             |FROM cells ORDER BY rowkey, family, qualifier""".stripMargin)),
    // FirstKeyValueMatchingQualifiersFilter over the versioned view:
    // each user's cells stream in (qualifier, ts desc) scan order until
    // the first purchase/signup cell, inclusive; users with neither
    // emit everything (the reference's RowCounter-early-out caveat)
    Query("filter_first_key_matching_qualifiers", (s, d) =>
      vcellsOut(vc(s, d).withColumn("_keep",
          Filters.firstKeyValueMatchingQualifiers(Seq("purchase", "signup"),
            Seq(col("family"), col("qualifier"), col("ts").desc, col("event_id").desc)))
        .where(col("_keep")).drop("_keep")),
      Oracle(V + """SELECT rowkey, qualifier, ts, value, event_id FROM (
             |  SELECT *, coalesce(sum(CASE WHEN qualifier IN ('purchase', 'signup')
             |                             THEN 1 ELSE 0 END)
             |    OVER (PARTITION BY rowkey
             |          ORDER BY family, qualifier, ts DESC, event_id DESC
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
             |  FROM vcells)
             |WHERE prior = 0 ORDER BY event_id""".stripMargin)),
    Query("filter_random", (s, d) =>
      Tables.load(s, d, "orders")
        .where(Filters.randomRowFilter(col("o_orderkey"), 0.25))
        .select("o_orderkey", "o_totalprice").orderBy("o_orderkey"),
      Oracle("""SELECT o_orderkey, o_totalprice FROM orders
        |WHERE ((o_orderkey % 2147483648) * 2654435761) % 4294967296 < 1073741824
        |ORDER BY o_orderkey""".stripMargin)),
    Query("filter_skip", (s, d) =>
      cellsOut(Filters.skipFilter(cc(s, d),
        Comparators.binary("AUTOMOBILE")(col("value"), NOT_EQUAL))),
      Oracle(C + s"""SELECT rowkey, family, qualifier, value FROM cells
              |WHERE rowkey NOT IN (SELECT rowkey FROM cells WHERE value = 'AUTOMOBILE')
              |$cellsOrder""".stripMargin)),
    Query("filter_while_match", (s, d) =>
      Filters.whileMatch(Tables.load(s, d, "orders"), "o_orderkey",
          !(col("o_orderpriority") === "1-URGENT" && col("o_totalprice") > 490000))
        .select("o_orderkey", "o_orderpriority", "o_totalprice").orderBy("o_orderkey"),
      Oracle("""SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
        |WHERE o_orderkey < (SELECT coalesce(min(o_orderkey), 9223372036854775807) FROM orders
        |                    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 490000)
        |ORDER BY o_orderkey""".stripMargin)),
    Query("filter_dependent_col", (s, d) =>
      vcellsOut(Filters.dependentColumn(vc(s, d), "ev", "click")),
      Oracle(V + """SELECT rowkey, qualifier, ts, value, event_id FROM vcells v
             |WHERE EXISTS (SELECT 1 FROM vcells r
             |              WHERE r.rowkey = v.rowkey AND r.qualifier = 'click' AND r.ts = v.ts)
             |ORDER BY event_id""".stripMargin)),
    Query("filter_list", (s, d) => {
      import Filters._
      val fl = MustPassOne(
        MustPassAll(Leaf(prefixFilter(col("rowkey"), "1")),
                    Leaf(valueFilter(EQUAL, Comparators.substr("a")))),
        MustPassAll(Leaf(prefixFilter(col("rowkey"), "2")),
                    Leaf(qualifierFilter(GREATER_OR_EQUAL, Comparators.binary("c_n")))))
      cellsOut(cc(s, d).where(fl.toColumn))
    },
      Oracle(C + s"""SELECT rowkey, family, qualifier, value FROM cells
              |WHERE (rowkey LIKE '1%' AND lower(value) LIKE '%a%')
              |   OR (rowkey LIKE '2%' AND qualifier >= 'c_n') $cellsOrder""".stripMargin)),
    Query("filter_parse", (s, d) =>
      cellsOut(cc(s, d).where(ParseFilter.parse(
        "PrefixFilter('1') AND (ValueFilter(=, 'substring:build') OR QualifierFilter(>=, 'binary:c_nat'))"))),
      Oracle(C + s"""SELECT rowkey, family, qualifier, value FROM cells
              |WHERE rowkey LIKE '1%' AND (lower(value) LIKE '%build%' OR qualifier >= 'c_nat')
              |$cellsOrder""".stripMargin)),
    // stateful DSL half 1: SKIP (row-window) + ColumnPaginationFilter
    // (cell pagination window) — both row-local, so plain AND
    // composition matches the reference FilterList in either order
    Query("filter_parse_stateful", (s, d) =>
      cellsOut(ParseFilter.filter(cc(s, d),
        "SKIP ValueFilter(!=, 'binary:AUTOMOBILE') AND ColumnPaginationFilter(2, 0)")),
      Oracle(C + s"""SELECT rowkey, family, qualifier, value FROM (
              |  SELECT rowkey, family, qualifier, value,
              |         row_number() OVER (PARTITION BY rowkey ORDER BY family, qualifier) AS rn
              |  FROM cells
              |  WHERE rowkey NOT IN (SELECT rowkey FROM cells WHERE value = 'AUTOMOBILE'))
              |WHERE rn <= 2 $cellsOrder""".stripMargin)),
    // stateful DSL half 2: WHILE (scan prefix via broadcast min-fail)
    // + PageFilter (first-n rows via broadcast semi-join)
    Query("filter_parse_while", (s, d) =>
      cellsOut(ParseFilter.filter(cc(s, d),
        "WHILE RowFilter(!=, 'binary:500') AND PageFilter(100)")),
      Oracle("WITH " + Tables.customerCellsSql + s""",
              |pass AS (
              |  SELECT * FROM cells
              |  WHERE (SELECT count(*) FROM cells WHERE rowkey = '500') = 0 OR rowkey < '500'),
              |topkeys AS (SELECT DISTINCT rowkey FROM pass ORDER BY rowkey LIMIT 100)
              |SELECT rowkey, family, qualifier, value FROM pass
              |WHERE rowkey IN (SELECT rowkey FROM topkeys) $cellsOrder""".stripMargin)),
    Query("filter_comparators", (s, d) =>
      cellsOut(cc(s, d).where(
        Comparators.regex("^1.*9$")(col("rowkey"), EQUAL) ||
        Comparators.binaryPrefix("BU")(col("value"), EQUAL) ||
        Comparators.substr("mach")(col("value"), EQUAL))),
      Oracle(C + s"""SELECT rowkey, family, qualifier, value FROM cells
              |WHERE regexp_matches(rowkey, '^1.*9$$')
              |   OR substring(value, 1, 2) = 'BU'
              |   OR lower(value) LIKE '%mach%' $cellsOrder""".stripMargin)),
    // BulkDeleteEndpoint ROW type driven by a DSL filter string:
    // delete every row any of whose cells matches, return the
    // post-delete snapshot — "delete by query" without shipping
    // matched rows to a client
    Query("bulk_delete_filtered", (s, d) =>
      cellsOut(graft.kv.Mutations.bulkDeleteRows(cc(s, d),
        ParseFilter.parse(
          "ValueFilter(=, 'substring:build') OR PrefixFilter('19')"))),
      Oracle(C + s"""SELECT rowkey, family, qualifier, value FROM cells
              |WHERE rowkey NOT IN (
              |  SELECT rowkey FROM cells
              |  WHERE lower(value) LIKE '%build%' OR rowkey LIKE '19%')
              |$cellsOrder""".stripMargin)),
    // the round-5 registry tail composed through one DSL string: row
    // ranges → SCVF-exclude row gate → per-row cell cap → key-only
    // value blanking; window predicates evaluate over the full cell
    // set (reference FilterList order-independence for row-local
    // members), and KeyOnlyFilter blanks values after selection
    Query("filter_parse_registry", (s, d) =>
      cellsOut(ParseFilter.filter(cc(s, d),
        "KeyOnlyFilter() AND MultiRowRangeFilter('1', '2', '5', '6') AND " +
          "SingleColumnValueExcludeFilter('info', 'c_mktsegment', =, 'binary:BUILDING') AND " +
          "ColumnCountGetFilter(2)")),
      Oracle(C + s"""SELECT rowkey, family, qualifier, '' AS value FROM (
              |  SELECT rowkey, family, qualifier, value,
              |         row_number() OVER (PARTITION BY rowkey ORDER BY family, qualifier) AS rn,
              |         max(CASE WHEN family = 'info' AND qualifier = 'c_mktsegment'
              |                       AND value = 'BUILDING' THEN 1 ELSE 0 END)
              |           OVER (PARTITION BY rowkey) AS hit,
              |         max(CASE WHEN family = 'info' AND qualifier = 'c_mktsegment'
              |                  THEN 1 ELSE 0 END)
              |           OVER (PARTITION BY rowkey) AS seen
              |  FROM cells)
              |WHERE ((rowkey >= '1' AND rowkey < '2') OR (rowkey >= '5' AND rowkey < '6'))
              |  AND (hit = 1 OR seen = 0)
              |  AND NOT (family = 'info' AND qualifier = 'c_mktsegment')
              |  AND rn <= 2 ORDER BY rowkey, family, qualifier""".stripMargin)),
  )

}
