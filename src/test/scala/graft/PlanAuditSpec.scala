package graft

import org.apache.spark.sql.functions._
import graft.core.{Salt, Tables}

/** Explain-audit: the plans the 100 TB story depends on, asserted so a
  * regression (lost pushdown, surprise sort, cartesian product) fails
  * CI rather than surfacing as a cluster incident. */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString()

  /** The streamed-side subtree of a broadcast join: plans print the
    * streamed child before the BroadcastExchange subtree, so the text
    * before the first BroadcastExchange is the streamed side. ONE copy
    * of that formatting assumption (if a Spark upgrade changes plan
    * toString, fix it here). */
  private def streamedSide(p: String): String = p.split("BroadcastExchange", 2)(0)

  /** Non-reused shuffle Exchanges matching `kind` ("" = any); never
    * counts BroadcastExchange. */
  private def exchanges(p: String, kind: String = ""): Int =
    ("(?<!Reused)(?<!Broadcast)Exchange" +
      (if (kind.isEmpty) "" else " " + kind)).r.findAllIn(p).size

  test("scan_range: rowkey range + projection reach the parquet scan") {
    val p = plan("scan_range")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderkey), GreaterThanOrEqual(o_orderkey,1000), LessThan(o_orderkey,2000)"), p)
    assert(!p.contains("o_orderdate"), "projection not pruned")
  }

  test("multi_get: IN-list is a pushed predicate, no join") {
    val p = plan("multi_get")
    assert(p.contains("PushedFilters: [In(o_orderkey"), p)
    assert(!p.contains("Join"), p)
  }

  test("filter_col_pagination: column walk is ONE rowkey hash exchange") {
    // the r9 column-faithful predicate stacks lag + running-sum over
    // the SAME (partition, order) — Spark pipelines the dependency as
    // two Window nodes over one sort, but a refactor that keys them
    // differently would surface as a second hash exchange here (the
    // only other exchange is the query's own final orderBy range
    // partitioning)
    val p = plan("filter_col_pagination")
    assert(exchanges(p, "hashpartitioning") == 1,
      s"expected the single rowkey hash exchange:\n$p")
  }

  test("multi_exists: key-only table scan, no value bytes, misses reported false") {
    import spark.implicits._
    // Get.setCheckExistenceOnly's point is that NO value bytes move:
    // the orders scan must read ONLY the key column, stream unshuffled
    // against the broadcast probe set, and absent keys surface as
    // false rows rather than disappearing
    val df = SparkEntry.queries("multi_exists")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString()
    val lines = p.linesIterator.toVector
    val scanIdx = lines.indexWhere(l =>
      l.contains("FileScan") && l.contains("orders.parquet"))
    assert(scanIdx >= 0 &&
      lines(scanIdx).contains("ReadSchema: struct<o_orderkey:bigint>"),
      s"orders scan reads more than the key:\n$p")
    // the table must STREAM into its semi-join: no shuffle exchange
    // between the LeftSemi join above the scan and the scan itself
    // (the only shuffles allowed are over probe/hit-scale relations —
    // the distincts and the final orderBy)
    val semiIdx = lines.lastIndexWhere(
      l => l.contains("LeftSemi"), scanIdx)
    assert(semiIdx >= 0, s"orders scan not under a semi-join:\n$p")
    assert(!lines.slice(semiIdx + 1, scanIdx).exists(
        l => "(?<!Reused)(?<!Broadcast)Exchange".r.findFirstIn(l).isDefined),
      s"table side shuffled before its semi-join:\n$p")
    val got = df.as[(Long, Boolean)].collect()
    assert(got.length == 40 && got.exists(_._2) && got.exists(!_._2),
      s"expected hits AND misses: ${got.count(_._2)} hits")
  }

  test("scan_lazy_cf: essential pass never reads the fat family, result = single-pass filter") {
    // Scan.setLoadColumnFamiliesOnDemand: the filter's essential
    // family (lang, n_chars) scans FIRST with a pruned ReadSchema —
    // the fat text family must be absent from that scan — and the
    // full-row fetch happens only for passing keys
    val df = SparkEntry.queries("scan_lazy_cf")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString()
    val lines = p.linesIterator.toVector
    val docScans = lines.filter(l =>
      l.contains("FileScan") && l.contains("documents.parquet"))
    assert(docScans.size == 2, s"expected essential + fetch scans:\n$p")
    // exactly one of the two scans is the pruned essential pass: its
    // ReadSchema carries the predicate columns but NOT text/source
    val essential = docScans.filter(l => {
      val rs = l.substring(l.indexOf("ReadSchema:"))
      rs.contains("lang") && rs.contains("n_chars") &&
        !rs.contains("text") && !rs.contains("source")
    })
    assert(essential.size == 1, s"essential scan not pruned:\n$p")
    // the filter must be pushed into the essential pass, not applied
    // post-fetch
    assert(essential.head.contains("EqualTo(lang,en)") &&
      essential.head.contains("GreaterThan(n_chars,400)"),
      s"essential predicate not pushed:\n$p")
    // result identity with the single-pass filter (the oracle's form)
    val want = Tables.load(spark, sfDir, "documents")
      .where(col("lang") === "en" && col("n_chars") > 400).count()
    assert(df.count() == want && want > 0, s"rows ${df.count()} != $want")
  }

  test("multi_get_bulk: key set broadcast, big side scanned once with no shuffle") {
    import spark.implicits._
    val keys = (0 until 2000).map(i => 3L * i + 1).toDF("o_orderkey")
    val df = graft.kv.Scans.multiGetBulk(Tables.load(spark, sfDir, "orders"),
      "o_orderkey", keys, Seq("o_orderkey", "o_custkey"))
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    // the streamed (table) side must reach the join straight from the
    // scan — the only shuffle allowed anywhere is the key-side
    // distinct UNDER the broadcast (2000 rows)
    assert(exchanges(streamedSide(p)) == 0, s"big side shuffled:\n$p")
  }

  test("asof join is single-shuffle: one hash Exchange, no range join") {
    import spark.implicits._
    val probes = Seq((1L, 5L, 10L)).toDF("pid", "k", "t")
    val quotes = Seq((2L, 5L, 8L)).toDF("qid", "k", "t")
    val p = graft.core.AsofJoin.asof(probes, quotes, "k", "t", Seq("qid"))
      .queryExecution.executedPlan.toString()
    // the whole point: the naive per-key range join must not appear,
    // and the union+window form costs exactly ONE shuffle (on the key)
    assert(!p.contains("Join"), s"range-join formulation leaked in:\n$p")
    assert(exchanges(p) == 1, s"expected exactly 1 shuffle:\n$p")
  }

  test("secondary_index: base rows fetched via broadcast semi of the index hits") {
    val p = plan("secondary_index")
    assert(p.contains("BroadcastHashJoin"), p)
    // the index side must range-prune on the indexed column
    assert(p.contains("PushedFilters: [IsNotNull(o_custkey), GreaterThanOrEqual(o_custkey,100)"), p)
  }

  test("scan_reversed compiles to TakeOrderedAndProject (top-N, not global sort)") {
    val p = plan("scan_reversed")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("scan_small: one-RPC contract — pushed start key + TakeOrderedAndProject") {
    val p = plan("scan_small")
    // the bounded read: per-partition top-n + n-row merge, no global
    // sort, no scanner iteration
    assert(p.contains("TakeOrderedAndProject"), p)
    // and the start key reaches the parquet scan (the pread role:
    // min/max pruning skips every row group below the key)
    assert(p.contains("GreaterThanOrEqual(o_orderkey,5000)"), p)
    // one RPC ≈ one stage: no shuffle exchange anywhere in the plan
    assert(!p.contains("Exchange"), p)
  }

  test("agg_grouped: single hash aggregate with map-side partials") {
    val p = plan("agg_grouped")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("whileMatch: threshold side is broadcast, not shuffled") {
    val p = plan("filter_while_match")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
  }

  test("weighted median plan has no unpartitioned window over the data") {
    val df = graft.agg.Aggregates.weightedMedian(
      Tables.load(spark, sfDir, "lineitem"), "l_extendedprice", "l_quantity")
    val p = df.queryExecution.executedPlan.toString()
    // every window must carry a partition spec (the final in-bucket
    // window partitions by _b; nothing windows the whole table)
    val windowSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(windowSpecs.nonEmpty)
    windowSpecs.foreach(l => assert(l.contains("_b"), s"unpartitioned window: $l"))
  }

  test("salted aggregation matches direct aggregation") {
    import spark.implicits._
    val df = Tables.load(spark, sfDir, "lineitem")
    val direct = df.groupBy("l_returnflag")
      .agg(sum("l_quantity").as("sum_v"), count(lit(1)).as("n"))
      .orderBy("l_returnflag").as[(String, Double, Long)].collect()
    val salted = Salt.saltedAggregate(df, Seq("l_returnflag"), salts = 8,
        partials = Seq(sum("l_quantity").as("s"), count(lit(1)).as("c")),
        merges = Seq(sum("s").as("sum_v"), sum("c").as("n")))
      .orderBy("l_returnflag").as[(String, Double, Long)].collect()
    assert(salted.map(_._1).sameElements(direct.map(_._1)))
    salted.zip(direct).foreach { case ((_, s1, n1), (_, s2, n2)) =>
      assert(n1 == n2 && math.abs(s1 - s2) < 1e-6)
    }
  }

  test("custom Expressions registered as SQL functions") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       fuzzy_match('abc99', 'a?c') AS f,
        |       simhash64(array(named_struct('h', 5L, 'cnt', 2L))) AS s,
        |       minhash_sig(array(7L, 11L), 4) AS m""".stripMargin).collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getBoolean(1))
    assert(r.getLong(2) != 0L)
    assert(r.getSeq[Long](3).length == 4)
  }

  test("topk_struct: bounded-state aggregate returns the k best, descending") {
    GraftFunctions.register(spark)
    val rows = spark.sql(
      """SELECT topk_struct(named_struct('s', s, 'id', id), 2) AS t
        |FROM VALUES (1.0D, 1L), (3.0D, 2L), (2.0D, 3L), (3.0D, 0L) AS v(s, id)""".stripMargin)
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
    // ties broken by the second struct field (id desc in natural order)
    assert(rows.map(r => (r.getDouble(0), r.getLong(1))) == Seq((3.0, 2L), (3.0, 0L)))
  }

  test("topk_struct as a running window aggregate (eval must not drain state)") {
    GraftFunctions.register(spark)
    val rows = spark.sql(
      """SELECT topk_struct(named_struct('s', s, 'id', id), 2)
        |         OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t
        |FROM VALUES (1.0D, 1L), (3.0D, 2L), (2.0D, 3L) AS v(s, id)
        |ORDER BY id""".stripMargin).collect()
    def tk(i: Int): Seq[(Double, Long)] =
      rows(i).getSeq[org.apache.spark.sql.Row](0).map(r => (r.getDouble(0), r.getLong(1)))
    assert(tk(0) == Seq((1.0, 1L)))
    assert(tk(1) == Seq((3.0, 2L), (1.0, 1L)))
    assert(tk(2) == Seq((3.0, 2L), (2.0, 3L)))
  }

  test("ann topK via aggregate matches a window-computed reference") {
    import spark.implicits._
    val scored = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.95), (1L, 13L, 0.8),
      (2L, 10L, 0.1), (2L, 11L, 0.2)
    ).toDF("q_id", "nn_id", "_score")
    val got = graft.sim.Ann.topK(scored, "q_id", 2)
      .select("q_id", "nn_id", "rank").as[(Long, Long, Int)].collect().toSet
    // q1: 0.95→12, then the 0.8 tie broken by smaller nn_id (11)... but
    // 0.9→10 outranks both 0.8s; q2: 0.2→11, 0.1→10
    assert(got == Set((1L, 12L, 1), (1L, 10L, 2), (2L, 11L, 1), (2L, 10L, 2)))
  }

  test("hbase_filter: the DSL grammar callable from plain SQL (shell/REST facade)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(("101", "f", "aa", "5"), ("202", "f", "bb", "6"), ("111", "f", "aa", "7"))
      .toDF("rowkey", "family", "qualifier", "value").createOrReplaceTempView("tcells")
    val got = spark.sql(
      "SELECT rowkey FROM tcells WHERE hbase_filter('PrefixFilter(''1'') AND QualifierFilter(=, ''binary:aa'')')")
      .as[String].collect().toSet
    assert(got == Set("101", "111"))
    // window-shaped members use the materialize-then-filter SQL pattern
    val skipGot = spark.sql(
      """SELECT rowkey FROM (
        |  SELECT *, hbase_filter('SKIP ValueFilter(!=, ''binary:5'')') AS f FROM tcells)
        |WHERE f""".stripMargin).as[String].collect().toSet
    assert(skipGot == Set("202", "111"))
    // stateful strings must refuse with the ParseFilter.filter pointer
    val e = intercept[Exception](
      spark.sql("SELECT * FROM tcells WHERE hbase_filter('PageFilter(2)')").collect())
    assert(e.getMessage.contains("ParseFilter.filter") ||
      e.getCause != null && e.getCause.getMessage.contains("ParseFilter.filter"))
    // the round-5 registry tail through the SQL facade: plain predicates
    // straight in WHERE, window-shaped ones via materialize-then-filter
    val mrr = spark.sql(
      "SELECT rowkey FROM tcells WHERE hbase_filter('MultiRowRangeFilter(''1'', ''2'')')")
      .as[String].collect().toSet
    assert(mrr == Set("101", "111"))
    val fko = spark.sql(
      """SELECT rowkey, qualifier FROM (
        |  SELECT *, hbase_filter('FirstKeyOnlyFilter()') AS f FROM tcells)
        |WHERE f""".stripMargin).as[(String, String)].collect().toSet
    assert(fko == Set(("101", "aa"), ("202", "bb"), ("111", "aa")))
  }

  test("ParseFilter stateful grammar: SKIP, WHILE, PageFilter, ColumnPaginationFilter") {
    import spark.implicits._
    import graft.filters.ParseFilter
    val cells = Seq(
      ("1", "f", "a", "x"), ("1", "f", "b", "y"), ("1", "f", "c", "z"),
      ("2", "f", "a", "BAD"), ("2", "f", "b", "y"),
      ("3", "f", "a", "x"), ("4", "f", "a", "x")
    ).toDF("rowkey", "family", "qualifier", "value")
    def rks(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("rowkey").distinct().as[String].collect().toSet
    // SKIP: any failing cell drops the WHOLE row (row 2 has a BAD cell)
    assert(rks(ParseFilter.filter(cells, "SKIP ValueFilter(!=, 'binary:BAD')"))
      == Set("1", "3", "4"))
    // WHILE: scan stops at the first failing row; prior rows pass whole
    assert(rks(ParseFilter.filter(cells, "WHILE RowFilter(!=, 'binary:3')"))
      == Set("1", "2"))
    // PageFilter: first n rows of the scan
    assert(rks(ParseFilter.filter(cells, "PageFilter(2)")) == Set("1", "2"))
    // ColumnPaginationFilter(limit=1, offset=1): the second cell per row
    assert(ParseFilter.filter(cells, "ColumnPaginationFilter(1, 1)")
      .select("rowkey", "qualifier").as[(String, String)].collect().toSet
      == Set(("1", "b"), ("2", "b")))
    // stateful filters compose as top-level AND-terms
    assert(rks(ParseFilter.filter(cells,
      "WHILE RowFilter(!=, 'binary:4') AND PageFilter(2)")) == Set("1", "2"))
    // a Column cannot carry scanner state: parse() must refuse
    intercept[IllegalArgumentException](ParseFilter.parse("PageFilter(2)"))
    intercept[IllegalArgumentException](
      ParseFilter.filter(cells, "PageFilter(2) OR PrefixFilter('1')"))
  }

  test("multi_get_bloom: bloom prunes the TABLE scan below the sort-merge join") {
    val p = plan("multi_get_bloom")
    assert(p.contains("SortMergeJoin") && p.contains("LeftSemi"), p)
    // the might_contain predicate must sit INSIDE the join's subtree
    // (printed after the SortMergeJoin line) and specifically over the
    // parquet table scan — pruning rows ahead of the exchange is the
    // entire point. Checking which scan sits first below the predicate
    // distinguishes the table side from the key set's LocalTableScan
    // (a whole-text search would pass with the filter on either side).
    val lines = p.linesIterator.toList
    val smj = lines.indexWhere(_.contains("SortMergeJoin"))
    val mc = lines.indexWhere(_.contains("might_contain"))
    assert(mc > smj && smj >= 0, s"bloom filter missing below join:\n$p")
    // the Filter's structural children print at indent+3; the bloom
    // build subquery's subtree carries a ':' at that column — skip it
    // and find the scan the predicate actually guards
    val childCol = lines(mc).indexOf("+- ") + 3
    val scanBelow = lines.drop(mc + 1).find(l =>
      l.contains("Scan") && l.length > childCol && l.charAt(childCol) != ':')
    assert(scanBelow.exists(_.contains("parquet")),
      s"might_contain not over the parquet (table) side, nearest scan: $scanBelow\n$p")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      s"bloom not built as a scalar subquery:\n$p")
  }

  test("text_winnowing: the window min is partitioned by doc, never global") {
    val opt = SparkEntry.queries("text_winnowing")(spark, sfDir)
      .queryExecution.optimizedPlan.toString()
    val specs = opt.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty, s"expected windows in:\n$opt")
    specs.foreach(l => assert(l.contains("windowspecdefinition(doc_id"),
      s"unpartitioned window in winnowing:\n$l"))
  }

  test("stream_topk / vocab_build: top-k rides the heap aggregate, no window sort") {
    for (name <- Seq("stream_topk", "vocab_build")) {
      val p = plan(name)
      assert(p.contains("topk_struct"), s"$name lost the TopKStruct heap:\n$p")
    }
    // stream_topk must carry NO window at all (the ranking IS the heap);
    // vocab_build's only window is the k-row coverage cumsum
    assert(!plan("stream_topk").contains("windowspecdefinition"),
      "stream_topk regressed to a window ranking")
  }

  test("range_join_binned: interval join rides the bin equi-join, never a nested loop") {
    val p = plan("range_join_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"interval join regressed to all-pairs:\n$p")
    assert(p.contains("_bin"), s"bin equi-key missing from the join:\n$p")
  }

  test("skew_diagnose: top-N is TakeOrderedAndProject, count is map-side partial") {
    val p = plan("skew_diagnose")
    assert(p.contains("TakeOrderedAndProject"), s"top-N lost:\n$p")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"per-key count lost its map-side partial:\n$p")
  }

  test("mm_phash: pairs ride the band equi-join; payloads never shuffle") {
    val p = plan("mm_phash")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"phash pairing regressed to all-pairs:\n$p")
    // the only grouping is (band, key) postings — payload bytes stay
    // in their scan; the shuffle carries doc ids and 2x64-bit hashes
    assert(p.contains("band"), s"band bucket key missing:\n$p")
  }

  test("sample_importance: the 8192-bucket model broadcasts, text never re-joins") {
    val p = plan("sample_importance")
    assert(p.contains("BroadcastExchange"), s"model side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ann_pq: codebooks broadcast to the ADC scan, no unintended all-pairs") {
    val p = plan("ann_pq")
    assert(p.contains("BroadcastExchange"), s"books not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // every nested-loop node must be an INTENDED broadcast cross (the
    // 1-row codebook / 10-row ADC-table sides); a non-Cross or
    // non-broadcast-build BNLJ would mean a real join degenerated
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach(l =>
      assert(l.contains("BuildRight, Cross"),
        s"unintended nested loop:\n$l"))
  }

  test("agg_running_total: the cumsum window is customer-partitioned, never global") {
    val opt = SparkEntry.queries("agg_running_total")(spark, sfDir)
      .queryExecution.optimizedPlan.toString()
    val specs = opt.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty, s"no window in:\n$opt")
    specs.foreach(l => assert(l.contains("windowspecdefinition(o_custkey"),
      s"unpartitioned running total:\n$l"))
  }

  test("histogram_equi_depth: no unpartitioned window over a data-cardinality child") {
    val opt = SparkEntry.queries("histogram_equi_depth")(spark, sfDir)
      .queryExecution.optimizedPlan.toString()
    val specs = opt.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty, s"no window in:\n$opt")
    // every window either partitions by the coarse cell (the exact
    // in-cell cumsum) or orders the ≤4096-row cell table itself — both
    // print the cell as the windowspec's first column; a window whose
    // first column is the raw value would be the scale-killer shape
    specs.foreach(l => assert(l.contains("windowspecdefinition(_cell"),
      s"window not anchored on the bounded cell: $l"))
  }

  test("timeline_read: one latest-version window on rowkey, horizon broadcast, no real join") {
    val p = plan("timeline_read")
    assert(p.contains("windowspecdefinition(rowkey"), s"window not rowkey-partitioned:\n$p")
    assert(exchanges(p, "hashpartitioning") == 1,
      s"expected exactly the window's hash shuffle:\n$p")
    // the staleness horizon rides a 1-row broadcast cross, never a shuffle join
    assert(!p.contains("SortMergeJoin"), p)
    p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin")).foreach(l =>
      assert(l.contains("BuildRight, Cross"), s"unintended nested loop:\n$l"))
  }

  test("log_cleaner: the edit stream never shuffles raw — one day-grain partial aggregate") {
    val p = plan("log_cleaner")
    // segments shuffle as map-side-combined day partials (1 hash
    // exchange); the TTL cutoff and min watermark are 1-row crosses
    assert(exchanges(p, "hashpartitioning") == 1,
      s"expected exactly 1 hash shuffle (day partials):\n$p")
    assert(p.contains("partial_count") || p.contains("partial_min") ||
      "HashAggregate.*partial".r.findFirstIn(p).isDefined,
      s"no map-side partial aggregation:\n$p")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("split_leakage_safe: assignment is scan-side, scan pruned to the two needed columns") {
    val p = plan("split_leakage_safe")
    assert(!p.contains("Join"), s"the split must be a pure projection:\n$p")
    // 2 = the countDistinct expansion's (split, source) pre-aggregate
    // + the (split) rollup — both shuffle AGGREGATED rows with
    // map-side partials; the doc stream itself never shuffles
    assert(exchanges(p, "hashpartitioning") == 2,
      s"expected the two rollup shuffles only:\n$p")
    assert(p.contains("partial_count"), s"no map-side partials:\n$p")
    assert(!p.contains("doc_id") && !p.contains("text#") && !p.contains("lang"),
      s"scan not pruned to (source, n_chars):\n$p")
  }

  test("encoding_prefix_savings: the delta window is region-partitioned, never global") {
    val opt = SparkEntry.queries("encoding_prefix_savings")(spark, sfDir)
      .queryExecution.optimizedPlan.toString()
    val specs = opt.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty, s"no window in:\n$opt")
    specs.foreach(l => assert(l.contains("windowspecdefinition(region"),
      s"unpartitioned delta window: $l"))
  }

  test("encoding_diff_savings: the delta window is region-partitioned, never global") {
    val opt = SparkEntry.queries("encoding_diff_savings")(spark, sfDir)
      .queryExecution.optimizedPlan.toString()
    val specs = opt.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty, s"no window in:\n$opt")
    specs.foreach(l => assert(l.contains("windowspecdefinition(region"),
      s"unpartitioned delta window: $l"))
  }

  test("eval_auc: the U-statistic cumsum is cell-anchored, never a global data window") {
    val opt = SparkEntry.queries("eval_auc")(spark, sfDir)
      .queryExecution.optimizedPlan.toString()
    val specs = opt.linesIterator.filter(_.contains("windowspecdefinition")).toList
    assert(specs.nonEmpty, s"no window in:\n$opt")
    specs.foreach(l => assert(l.contains("windowspecdefinition(_cell"),
      s"window not anchored on the bounded cell: $l"))
  }

  test("scan_cursor: every page is a TakeOrderedAndProject, no global sort exchange") {
    val p = plan("scan_cursor")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 3,
      s"pages must plan as per-partition top-n + n-row merge:\n$p")
    assert(exchanges(p, "rangepartitioning") == 0,
      s"a page triggered a global sort exchange:\n$p")
  }

  test("ann_range_search: query side broadcast, corpus never hash-shuffles") {
    val p = plan("ann_range_search")
    assert(p.contains("BroadcastExchange"), s"query side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the corpus streams once through the threshold filter; the only
    // allowed exchange is the final presentation sort
    assert(exchanges(p, "hashpartitioning") == 0,
      s"corpus hash-shuffles in range search:\n$p")
  }

  test("dedup_incremental: corpus scan bloom-pruned before its exchange, text never shuffles") {
    val p = plan("dedup_incremental")
    // the corpus side must be filtered by might_contain (bloom over the
    // shard digest set as a scalar subquery) and project only digests —
    // the document text must not survive past the corpus scan's project
    assert(p.contains("might_contain"), s"no bloom prune on the corpus scan:\n$p")
    assert(p.contains("Subquery") || p.contains("scalar-subquery"),
      s"bloom not built as a scalar subquery:\n$p")
    // every Exchange's first projected column list must not carry text:
    // only digests and doc_ids shuffle
    val lines = p.linesIterator.toList
    lines.zipWithIndex.filter(_._1.contains("Exchange hashpartitioning")).foreach {
      case (l, _) => assert(!l.contains("text"), s"text column shuffles: $l")
    }
    assert(!p.contains("CartesianProduct"), p)
  }

  test("secondary_index: index build is ensure-once, the serving query lookup-only") {
    var builds = 0
    val d1 = graft.core.Indexes.ensure(spark, sfDir, "_spec_probe")(_ => builds += 1)
    val d2 = graft.core.Indexes.ensure(spark, sfDir, "_spec_probe")(_ => builds += 1)
    assert(builds == 1 && d1 == d2, "registry re-ran an ensure-once build")
    // the registered query: first call may build the orders index; a
    // second call must serve from it untouched (no rewrite = identical
    // file listing + mtimes)
    SparkEntry.queries("secondary_index")(spark, sfDir).count()
    val idxDir = graft.core.Indexes.ensure(spark, sfDir, "orders_custkey")(
      _ => fail("index rebuilt on lookup"))
    import scala.jdk.CollectionConverters._
    def listing: Map[String, Long] = {
      val s = java.nio.file.Files.list(java.nio.file.Paths.get(idxDir))
      try s.iterator().asScala
        .map(f => f.toString -> java.nio.file.Files.getLastModifiedTime(f).toMillis)
        .toMap
      finally s.close()
    }
    val before = listing
    SparkEntry.queries("secondary_index")(spark, sfDir).count()
    assert(listing == before, "serving query rewrote the index table")
  }

  test("scan_batch: one rowkey window, no join, no extra shuffle") {
    val df = graft.kv.Scans.batchCells(Tables.customerCells(spark, sfDir), 2)
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    val nExchanges = "(?<!Reused)Exchange".r.findAllIn(p).size
    assert(nExchanges == 1, s"expected exactly 1 shuffle (the window partition), got $nExchanges:\n$p")
  }

  test("scan_family_time_range: a pure filter — no shuffle, no join, no window") {
    val df = graft.kv.Scans.familyTimeRange(Tables.eventCellsTwoFamilies(spark, sfDir),
      Map("web" -> ("2024-01-10 00:00:00", "2024-01-20 00:00:00")))
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Window"),
      s"per-family time range must stay a scan-side predicate:\n$p")
  }

  test("export_snapshot verification: digests merge map-side (partial aggregates)") {
    val p = plan("export_snapshot")
    // each side's bucket digest is a hash aggregate with partials, and
    // the comparison is a join on the bucket id — never a row-level
    // comparison of the two tables
    assert("partial_sum".r.findAllIn(p).size >= 2, s"digests not map-side partial:\n$p")
    assert(p.contains("FullOuter") || p.contains("SortMergeJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("decontaminate: benchmark shingles broadcast, no cartesian product") {
    val p = SparkEntry.queries("decontaminate")(spark, sfDir)
      .queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sample_stratified and embedding_quantize are shuffle-free projections") {
    val ps = graft.pipeline.DataPrep.sampleStratified(
      Tables.load(spark, sfDir, "documents"), "doc_id", "lang", Map("en" -> 0.5))
      .queryExecution.executedPlan.toString()
    assert(!ps.contains("Exchange"), s"sampler shuffled:\n$ps")
    val pq = graft.sim.Quantize.int8Report(Tables.load(spark, sfDir, "embeddings"))
      .queryExecution.executedPlan.toString()
    assert(!pq.contains("Exchange"), s"quantizer shuffled:\n$pq")
  }

  test("pack_sequences: the packing window is partitioned, never global") {
    val df = graft.pipeline.DataPrep.packSequences(
      Tables.load(spark, sfDir, "documents"))
    val opt = df.queryExecution.optimizedPlan.toString()
    assert(opt.contains("windowspecdefinition(bucket"), s"window not partitioned by bucket:\n$opt")
  }

  test("wal_replay is one hash aggregate: single exchange, no window, no join") {
    val edits = Tables.eventCells(spark, sfDir)
      .withColumn("op", when(col("event_id") % 7 === 0, "delete").otherwise("put"))
    val p = graft.analytics.Tools
      .walReplay(edits, "2024-01-05 00:00:00", "2024-01-25 00:00:00")
      .queryExecution.executedPlan.toString()
    assert(!p.contains("Join") && !p.contains("Window"), p)
    val nExchanges = "(?<!Reused)Exchange".r.findAllIn(p).size
    assert(nExchanges == 1, s"expected exactly 1 shuffle, got $nExchanges:\n$p")
  }

  test("verify_replication: full-outer SMJ into a map-side-partial scalar aggregate") {
    val p = SparkEntry.queries("verify_replication")(spark, sfDir)
      .queryExecution.executedPlan.toString()
    assert(p.contains("SortMergeJoin") && p.contains("FullOuter"), p)
    // partial then final aggregate — the counters merge map-side
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("ParseFilter TimestampsFilter selects exact cell versions") {
    import spark.implicits._
    import graft.filters.ParseFilter
    val vc = Seq(
      (1L, "ev", "click", "2024-01-01 00:00:00", "v1"),
      (1L, "ev", "click", "2024-01-02 00:00:00", "v2"),
      (2L, "ev", "view", "2024-01-01 00:00:00", "v3")
    ).toDF("rowkey", "family", "qualifier", "ts", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = ParseFilter.filter(vc, "TimestampsFilter('2024-01-01 00:00:00')")
      .select("value").as[String].collect().toSet
    assert(got == Set("v1", "v3"))
  }

  test("ParseFilter registry tail: every remaining reference filter name parses and runs") {
    import spark.implicits._
    import graft.filters.ParseFilter
    val cells = Seq(
      ("1", "f", "a", "x", "2024-01-01 00:00:00"),
      ("1", "f", "b", "y", "2024-01-02 00:00:00"),
      ("1", "g", "c", "z", "2024-01-01 00:00:00"),
      ("2", "f", "a", "BAD", "2024-01-03 00:00:00"),
      ("2", "f", "b", "y", "2024-01-03 00:00:00"),
      ("3", "f", "b", "y", "2024-01-04 00:00:00"),
      ("9", "f", "a", "x", "2024-01-05 00:00:00")
    ).toDF("rowkey", "family", "qualifier", "value", "ts")
      .withColumn("ts", col("ts").cast("timestamp"))
    def run(s: String): Set[(String, String, String)] =
      ParseFilter.filter(cells, s).select("rowkey", "qualifier", "value")
        .as[(String, String, String)].collect().toSet

    // SingleColumnValueExcludeFilter: row gate on f:a='x' (row 2 fails,
    // row 3 lacks the column and passes through), tested cell removed —
    // row 9's only cell IS the tested one, so it vanishes entirely
    assert(run("SingleColumnValueExcludeFilter('f', 'a', =, 'binary:x')")
      .map(t => (t._1, t._2)) == Set(("1", "b"), ("1", "c"), ("3", "b")))
    // SCVF 6-arg form: filterIfMissing=true drops row 3 (lacks f:a);
    // latestVersionOnly accepted for grammar compatibility
    assert(run("SingleColumnValueFilter('f', 'a', =, 'binary:x', true, true)")
      .map(_._1) == Set("1", "9"))
    // the Exclude sibling inherits the same arity (reference SCVEF
    // reuses SCVF's createFilterFromArguments)
    assert(run("SingleColumnValueExcludeFilter('f', 'a', =, 'binary:x', true, true)")
      .map(t => (t._1, t._2)) == Set(("1", "b"), ("1", "c")))
    // booleans are strict: a typo throws instead of silently meaning false
    intercept[IllegalArgumentException](graft.filters.ParseFilter.parse(
      "SingleColumnValueFilter('f', 'a', =, 'binary:x', ture, true)"))
    // DependentColumnFilter: cells sharing the ts of the f:a reference cell
    assert(run("DependentColumnFilter('f', 'a')").map(t => (t._1, t._2))
      == Set(("1", "a"), ("1", "c"), ("2", "a"), ("2", "b"), ("9", "a")))
    // 3-arg: dropDependentColumn removes the reference cell itself
    assert(run("DependentColumnFilter('f', 'a', true)").map(t => (t._1, t._2))
      == Set(("1", "c"), ("2", "b")))
    // 5-arg: only reference cells passing the comparator contribute
    // their ts (row 2's f:a is 'BAD', row 9's passes but is dropped)
    assert(run("DependentColumnFilter('f', 'a', true, =, 'binary:x')")
      .map(t => (t._1, t._2)) == Set(("1", "c")))
    // MultiRowRangeFilter: [1,2) ∪ [9,z) — rows 1 and 9
    assert(run("MultiRowRangeFilter('1', '2', '9', 'z')").map(_._1) == Set("1", "9"))
    // ColumnCountGetFilter(1): first cell per row in (family, qualifier) order
    assert(run("ColumnCountGetFilter(1)").map(t => (t._1, t._2))
      == Set(("1", "a"), ("2", "a"), ("3", "b"), ("9", "a")))
    // FirstKeyOnlyFilter ≡ ColumnCountGetFilter(1)
    assert(run("FirstKeyOnlyFilter()") == run("ColumnCountGetFilter(1)"))
    // KeyOnlyFilter: coordinates intact, values zero-length
    val ko = run("KeyOnlyFilter() AND PrefixFilter('1')")
    assert(ko.map(t => (t._1, t._2)) == Set(("1", "a"), ("1", "b"), ("1", "c")))
    assert(ko.forall(_._3 == ""))
    // ...but it cannot compile to a bare Column
    intercept[IllegalArgumentException](ParseFilter.parse("KeyOnlyFilter()"))
    // RandomRowFilter: deterministic, row-atomic (all-or-nothing per key),
    // and monotone in chance
    val r0 = run("RandomRowFilter(0.0)"); val r1 = run("RandomRowFilter(1.0)")
    assert(r0.isEmpty && r1 == run("PrefixFilter('')"))
    val half = run("RandomRowFilter(0.5)")
    assert(half == run("RandomRowFilter(0.5)"), "sampler not deterministic")
    val keptKeys = half.map(_._1)
    assert(keptKeys.forall(k => cells.where(col("rowkey") === k).count() ==
      half.count(_._1 == k)), "sampler split a row's cells")
  }

  test("ParseFilter extended grammar: ranges, multi-prefix, fuzzy, long comparator") {
    import spark.implicits._
    val cells = Seq(
      ("101", "f", "aa", "5"), ("101", "f", "bb", "6"),
      ("202", "f", "cc", "7"), ("1x3", "f", "dd", "8")
    ).toDF("rowkey", "family", "qualifier", "value")
    def run(s: String): Set[String] =
      cells.where(graft.filters.ParseFilter.parse(s))
        .select("rowkey").distinct().as[String].collect().toSet
    assert(run("MultipleColumnPrefixFilter('aa', 'cc')") == Set("101", "202"))
    assert(run("ColumnRangeFilter('bb', true, 'cc', false)") == Set("101"))
    assert(run("FuzzyRowFilter('1?3')") == Set("1x3"))
    assert(run("ValueFilter(>=, 'long:7')") == Set("202", "1x3"))
  }

  test("scan_raw and cell_visibility: pure scan-side predicates — no shuffle, no join") {
    val raw = graft.kv.Scans.raw(
      Tables.eventCells(spark, sfDir).withColumn("op", lit("put")),
      "2024-01-05 00:00:00", "2024-01-25 00:00:00")
    val vis = graft.kv.Visibility.applyAuths(
      Tables.eventCells(spark, sfDir).withColumn("vis", lit("a&b|c")),
      "vis", Seq("a", "b"))
    for (df <- Seq(raw, vis)) {
      val p = df.queryExecution.executedPlan.toString()
      assert(!p.contains("Exchange") && !p.contains("Join") && !p.contains("Window"),
        s"must ride the scan:\n$p")
    }
  }

  test("sample_mixture: thresholds broadcast back, corpus side never shuffles") {
    val df = graft.pipeline.DataPrep.sampleMixture(
      Tables.load(spark, sfDir, "documents"), "doc_id", "source",
      Map("src0" -> 50, "src1" -> 50))
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"), s"threshold join not broadcast:\n$p")
    // only shuffles allowed: the tiny per-source count aggregate (and
    // its feasible-total reduction) under the broadcast subtree
    val streamedSide = p.split("BroadcastExchange", 2)(0)
    assert(!streamedSide.contains("Exchange"), s"corpus side shuffled:\n$p")
  }

  test("dedup_substring: digest-keyed joins only, no cartesian, no text shuffle") {
    val df = graft.dedup.Dedup.crossDocSubstrings(
      Tables.load(spark, sfDir, "documents"))
    val p = df.queryExecution.executedPlan.toString()
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // every exchange partitions on the md5 digest or doc_id — the raw
    // text column never appears in a shuffle's output schema
    assert(!"Exchange hashpartitioning\\([^)]*text".r.findFirstIn(p).isDefined,
      s"text in a shuffle key:\n$p")
  }

  test("salted_scan: the per-salt fan-out is a pushed scan predicate, no shuffle") {
    val p = plan("salted_scan")
    // the disjunctive fan-out must actually reach the data source — a
    // bare 'PushedFilters' check passes even for 'PushedFilters: []'
    assert(p.contains("PushedFilters: [Or(") &&
      p.contains("GreaterThanOrEqual(salted_key"),
      s"salt fan-out not pushed to the scan:\n$p")
    // the whole plan is scan + filter + presentation sort — a salted
    // scan that regressed to a salt-table join would print one here
    assert(!p.contains("Join"), s"salted scan must not join:\n$p")
  }

  test("get_closest_before plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("get_closest_before")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("quota_throttle: limits broadcast, one count aggregate with partials") {
    val p = plan("quota_throttle")
    assert(p.contains("BroadcastHashJoin"), s"quota table not broadcast:\n$p")
    assert(p.contains("partial_count"),
      s"window counts not map-side partial:\n$p")
  }

  test("acl_enforce: grants broadcast, data side streams from the scan unshuffled") {
    val p = plan("acl_enforce")
    // the NULL-wildcard hierarchy is non-equi, so the right plan is a
    // broadcast left-semi NLJ over the handful of grant rows
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, LeftSemi"), p)
    // the streamed (cell) side must reach the join straight from the
    // scan — the only Exchange anywhere above it is the final
    // orderBy's range partitioning
    assert(exchanges(streamedSide(p), "hashpartitioning") == 0,
      s"data side shuffled:\n$p")
  }

  test("namespace_quota: metadata-only counts, map-side partials, quota-preserving join") {
    val p = plan("namespace_quota")
    // per-table counts must read NO columns (parquet count pushdown —
    // the audit costs row-group metadata regardless of data scale)
    assert(p.contains("ReadSchema: struct<>"), s"count reads columns:\n$p")
    assert(p.contains("partial_count"), s"counts not map-side partial:\n$p")
    // quota rows are the preserved side: a governed namespace with no
    // tables must survive into the output
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftOuter"), p)
  }

  test("filter_first_key_matching_qualifiers: one rowkey-partitioned running-count window") {
    val p = plan("filter_first_key_matching_qualifiers")
    // the running count must be a rowkey-partitioned ROWS frame in
    // version order — an unpartitioned window here would serialize the
    // whole table through one task
    assert(p.contains("windowspecdefinition(rowkey"), s"window not rowkey-partitioned:\n$p")
    assert(p.contains("ts#") && p.contains("DESC"), s"version order missing:\n$p")
    assert(p.contains("unboundedpreceding$(), -1"), s"preceding-rows frame missing:\n$p")
    assert(exchanges(p, "hashpartitioning") == 1,
      s"expected exactly 1 hash shuffle:\n$p")
  }

  test("scanDirect: split planning excludes non-overlapping region files") {
    import spark.implicits._
    import graft.core.Snapshots
    val base = TempDirs.create("graft_snap_direct").toString
    val df = (0L until 800L).map(k => (k, s"v$k")).toDF("rowkey", "v")
    Snapshots.write(df, "rowkey", base, 1)
    val full = Snapshots.read(spark, base, 1)
    val scan = Snapshots.scanDirect(spark, base, 1, "rowkey", 100L, 300L)
    // the point of the manifest: non-overlapping region files are
    // ABSENT from the read, not filtered after it
    assert(scan.inputFiles.length < full.inputFiles.length,
      s"no file pruning: ${scan.inputFiles.length}/${full.inputFiles.length}")
    assert(scan.select("rowkey").as[Long].collect().toSet == (100L until 300L).toSet)
    // boundary regions still push the residual range into parquet
    val p = scan.queryExecution.executedPlan.toString()
    assert(p.contains("PushedFilters: [IsNotNull(rowkey), GreaterThanOrEqual(rowkey,100), LessThan(rowkey,300)"), p)
    // a fully out-of-range scan is empty but keeps the snapshot schema
    val none = Snapshots.scanDirect(spark, base, 1, "rowkey", 5000L, 6000L)
    assert(none.isEmpty && none.columns.sameElements(full.columns))
  }

  test("multiSnapshotScan: files come from BOTH v-dirs, each pruned to its overlap") {
    import spark.implicits._
    import graft.core.Snapshots
    val base = TempDirs.create("graft_snap_multi").toString
    val df = (0L until 800L).map(k => (k, s"v$k")).toDF("rowkey", "v")
    Snapshots.write(df, "rowkey", base, 1)
    Snapshots.write(df.where($"rowkey" % 2 === 1), "rowkey", base, 2)
    val scan = Snapshots.multiSnapshotScan(spark,
      Seq(("a", base, 1), ("b", base, 2)), "rowkey", 100L, 300L)
    val files = scan.inputFiles
    assert(files.exists(_.contains("/v=1/")) && files.exists(_.contains("/v=2/")),
      s"expected files from both snapshot dirs:\n${files.mkString("\n")}")
    val total = Snapshots.read(spark, base, 1).inputFiles.length +
      Snapshots.read(spark, base, 2).inputFiles.length
    assert(files.length < total, s"no split pruning: ${files.length}/$total")
    val got = scan.select($"snapshot", $"rowkey").as[(String, Long)].collect().toSet
    val want = (100L until 300L).map(("a", _)).toSet ++
      (100L until 300L).filter(_ % 2 == 1).map(("b", _)).toSet
    assert(got == want)
  }

  test("region_splitter bench path: sketch percentile, no full-table value buffer") {
    val p = SparkEntry.benchQueries("region_splitter")(spark, sfDir)
      .queryExecution.executedPlan.toString()
    // exact percentile buffers EVERY key into one aggregation buffer —
    // a single-executor OOM at 100 TB. The bench plan must run the
    // fixed-state sketch instead (oracle path keeps the exact form).
    assert(p.contains("approx_percentile"), s"sketch missing:\n$p")
    assert(!"(?<!approx_)percentile\\(".r.findFirstIn(p).isDefined,
      s"exact percentile leaked into the bench plan:\n$p")
    // and its partials must merge map-side, like every scalar aggregate
    assert(p.contains("partial_approx_percentile") ||
      p.contains("partial_min"), s"no map-side partials:\n$p")
  }

  test("region_locate / replication_lag: tiny catalog broadcast, stream never sort-merges") {
    for (name <- Seq("region_locate", "replication_lag")) {
      val p = plan(name)
      // the interval/watermark join is non-equi BY DESIGN: the build
      // side is master metadata (a handful of rows), so the right plan
      // is a broadcast nested loop — and never a sort-merge or a
      // cartesian over the billion-row stream side
      assert(p.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$name:\n$p")
    }
    // region_locate's only hash shuffle is the per-region rollup
    val pl = plan("region_locate")
    assert(exchanges(pl, "hashpartitioning") == 1, s"extra shuffle:\n$pl")
  }

  test("dedup_url: canonicalization rides the scan — one shuffle, on canonical urls") {
    val p = plan("dedup_url")
    assert(!p.contains("Join"), p)
    assert(exchanges(p, "hashpartitioning") == 1, s"extra shuffle:\n$p")
  }

  test("dedup_semantic: pairing is a cluster equi-join, never a cartesian") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct"), s"all-pairs leak:\n$p")
    // the within-cell pair join keys on the cluster id — an equi hash
    // or sort-merge join, both fine; what must NOT happen is the
    // embedding table crossing itself
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi join found:\n$p")
  }

  test("quality_classifier: no window, distinct stays bounded-state, one coverage join") {
    val p = plan("quality_classifier")
    // the every-doc coverage join (r12 text review: a zero-token doc
    // must get keep = false, not vanish) is the ONE join allowed — a
    // thin doc_id left join, not a data-side window
    assert(!p.contains("Window"), p)
    assert("SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin".r
      .findAllIn(p).size <= 1, s"more than the coverage join:\n$p")
    // the (doc, tok) pre-shuffle is Spark's bounded-state
    // count(DISTINCT) expansion — the right trade vs a collect_set
    // whose per-row state grows with doc size; the coverage join adds
    // at most one thin exchange on doc_id
    assert(exchanges(p, "hashpartitioning") <= 3, s"unexpected shuffles:\n$p")
  }

  test("cell_acl: both ACL checks are broadcast NLJs, the scan sides never hash-shuffle") {
    val p = plan("cell_acl")
    // hierarchy cover = left-semi, cell-only grants = left-anti —
    // disjoint by construction, so the union carries NO dedup exchange
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, LeftSemi"), p)
    assert(p.contains("BroadcastNestedLoopJoin BuildRight, LeftAnti"), p)
    assert(!p.contains("HashAggregate(keys=[rowkey"), s"dedup crept in:\n$p")
    // only the final orderBy may range-shuffle; no hash exchange at all
    assert(exchanges(p, "hashpartitioning") == 0, s"data side shuffled:\n$p")
  }

  test("mine_hard_negatives: query side broadcasts, top-k is the bounded heap, no window") {
    val p = plan("mine_hard_negatives")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TopKStruct") || p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window"), s"corpus-wide rank window leaked in:\n$p")
  }

  test("buffered_mutator_flush: every window is client-partitioned, none global") {
    val p = plan("buffered_mutator_flush")
    assert(!p.contains("WindowExec: No Partition"), p)
    // all Window nodes must carry a partition spec (client / client+epoch)
    val windows = p.split("\n").filter(_.contains("Window "))
    assert(windows.forall(w => w.contains("client")), windows.mkString("\n"))
  }

  test("wal_inspect: row IN-list and sequence bound are pushed scan predicates") {
    // the WALPrettyPrinter debugging view must answer from row-group
    // probes — both narrowing predicates reach the parquet scan
    val p = plan("wal_inspect")
    assert(p.contains("In(user_id"), p)
    assert(p.contains("GreaterThanOrEqual(event_id,50"), p)
    assert(!p.contains("props"), "projection not pruned to the read columns")
  }

  test("wal_inspect_region: the region predicate prunes to one partition directory") {
    // WALPrettyPrinter -r over the bulk layout must open ONE region's
    // file, not scan the archive — the partition column is the handle
    val p = plan("wal_inspect_region")
    assert(p.matches("(?s).*PartitionFilters: \\[[^\\]]*region[^\\]]*\\].*"),
      p.take(800))
  }

  test("canary_write: the read-back never rescans the data corpus") {
    // live = cells ∪ probe puts filtered to family = '_canary_'; the
    // cells side's family is a literal-branch CASE, so the filter must
    // constant-fold the whole data branch away — the read-back and
    // leftover checks cost probe-cardinality work, not a corpus scan.
    // ONE corpus scan remains in the plan by design (the per-region
    // load count; the bounds scalar is collected before planning).
    val p = plan("canary_write")
    val scans = p.split("\n").count(_.contains("Scan parquet"))
    assert(scans <= 1, s"read-back rescans the corpus ($scans scans):\n$p")
  }

  test("ann_pq: the float re-score joins the corpus to BROADCAST candidates") {
    // cand is queries×max(32,4k) rows off an aggregate — without the
    // explicit broadcast, Catalyst's corpus-derived size estimate
    // degrades the re-score to a full corpus shuffle by nn_id
    val p = plan("ann_pq")
    val joins = p.split("\n").filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(!joins.exists(_.contains("nn_id")),
      s"re-score shuffled the corpus by nn_id:\n${joins.mkString("\n")}")
  }

  test("every unpartitioned window reads a bounded metadata relation") {
    // WindowExec warns on every unpartitioned window because it is a
    // single-partition sort — fatal over corpus-sized input, correct
    // by design over bounded metadata (top-K coverage tables, ≤4096
    // grouping cells, catalog rows). This walk EXECUTES each such
    // window's input and asserts the bound, so the warning class is
    // structurally closed: a future query putting a global window over
    // corpus-scaled rows fails here, not on a cluster.
    import org.apache.spark.sql.catalyst.plans.logical.Window
    import org.apache.spark.sql.graftbridge.PlanBridge
    val bound = 8192L
    val offenders = scala.collection.mutable.ListBuffer[String]()
    var audited = 0
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val plan = fn(spark, sfDir).queryExecution.optimizedPlan
      (plan +: plan.subqueriesAll).foreach(_.foreach {
        case w: Window if w.partitionSpec.isEmpty =>
          audited += 1
          val n = PlanBridge.ofRows(spark, w.child).count()
          if (n > bound)
            offenders += s"$name: unpartitioned window over $n input rows"
        case _ => ()
      })
    }
    // the class is real: the audit must actually have found the known
    // bounded global windows, not silently matched nothing
    assert(audited > 0, "no unpartitioned windows found — matcher broken?")
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("Bench.materialize defeats the count()-pruning blind spot; count() exhibits it") {
    // the r12 re-baseline's contract, now a spec (r12 verdict item 5):
    // a LEFT join against a unique-keyed aggregate is PRUNED under
    // count() (Catalyst correctly eliminates it — the r1–r11 bench
    // action measured ~0.02 s task time for four backfill-shaped
    // queries because of exactly this), and must EXECUTE under the
    // noop-sink action the bench times. Both actions' actual executed
    // plans are captured from the QueryExecutionListener — the plan
    // the engine ran, not the plan the DataFrame would print.
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val captured = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        captured.add((funcName, qe.executedPlan.toString()))
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val base = spark.range(0, 2000).toDF("k")
      val uniq = spark.range(0, 2000).toDF("k")
        .withColumn("v", col("k") * 7)
        .groupBy("k").agg(max("v").as("v")) // provably unique-keyed
      val backfill = base.join(uniq, Seq("k"), "left")
      def joins(p: String): Int = p.split("\n").count(l =>
        l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") ||
          l.contains("ShuffledHashJoin"))
      backfill.count()
      graft.Bench.materialize(backfill)
      // the execution listener bus is asynchronous — wait for both
      // action plans to arrive before reading them
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (captured.size() < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      val plans = captured.toArray(Array.empty[(String, String)])
      assert(plans.length >= 2, s"captured ${plans.length} action plans")
      val countPlan = plans.find(_._1 == "count").map(_._2)
        .getOrElse(fail("no count() plan captured"))
      val noopPlan = plans.find(p => p._1 != "count").map(_._2)
        .getOrElse(fail("no noop-write plan captured"))
      // the blind spot is REAL: count() eliminated the join...
      assert(joins(countPlan) == 0,
        s"count() kept the join — the pruning premise changed:\n$countPlan")
      // ...and the bench action executes it (AQE prints the join in
      // both the Final and Initial plan sections — ≥1 is the claim)
      assert(joins(noopPlan) >= 1,
        s"materialize did not execute the join:\n$noopPlan")
    } finally spark.listenerManager.unregister(listener)
  }
}
