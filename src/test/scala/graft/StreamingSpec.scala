package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.streaming.StreamOps

class StreamingSpec extends SparkSpec {

  test("sessionize: events within the gap merge, a gap past 1h breaks the session") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val ev = Seq(
      (1L, "2024-01-01 00:00:00", 1.0),
      (1L, "2024-01-01 00:30:00", 2.0), // 30 m gap — same session
      (1L, "2024-01-01 02:00:00", 3.0), // 90 m gap — new session
      (2L, "2024-01-01 00:00:00", 4.0)
    ).toDF("user_id", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast("timestamp"))
    val got = graft.streaming.StreamOps.sessionize(ev)
      .orderBy("user_id", "session_start")
      .select("user_id", "n_events", "sum_v")
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 3.0), (1L, 1L, 3.0), (2L, 1L, 4.0)), s"got $got")
  }

  test("streaming sessionization: closed sessions match batch sessions exactly") {
    val events = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "value")
    val dir = TempDirs.create("graft_sess_src").toString
    // stage the replay files in EVENT-TIME order (range partition on ts,
    // files listed in path order) so nothing arrives behind the
    // watermark — append mode DROPS late rows, and a random replay
    // order would make the comparison nondeterministic
    // 16 files ⇒ ~2-day watermark granularity: the watermark used at
    // trigger k derives from trigger k-1's max, so emission coverage
    // trails by a batch or two of event-time span
    events.repartitionByRange(16, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(dir)
    // the file source replays in MODIFICATION-TIME order (path only
    // breaks ties) — parallel write tasks finish in arbitrary order, so
    // a straggler can put a late-range file ahead of an earlier one and
    // its sessions get watermark-dropped; pin mod-times to path order
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(((System.currentTimeMillis() / 60000) * 60000) + i * 1000) }
    val streamed = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val sess = StreamOps.streamingSessionize(streamed)
    assert(sess.queryExecution.analyzed.toString().contains("EventTimeWatermark"))
    val q = sess.writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    def byKey(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.get(1).toString) -> ((r.getLong(2), r.getDouble(3)))).toMap
    val got = byKey(spark.table("sessions")
      .select("user_id", "session_start", "n_events", "sum_v").collect())
    val want = byKey(StreamOps.sessionize(events)
      .select("user_id", "session_start", "n_events", "sum_v").collect())
    // append emits a session once the watermark passes its close; only
    // sessions in the final watermark tail (last ~2h of a 30-day
    // stream) may still be open and unemitted. Counts must be exact;
    // the sum tolerates FP summation-order noise (incremental
    // micro-batch merge vs the batch fold).
    got.foreach { case (k, (n, s)) =>
      assert(want.contains(k), s"streamed session $k not in batch")
      val (wn, ws) = want(k)
      assert(n == wn, s"session $k: n_events $n != $wn")
      assert(math.abs(s - ws) < 1e-6 * math.max(1.0, math.abs(ws)),
        s"session $k: sum_v $s != $ws")
    }
    assert(got.size >= want.size * 3 / 4,
      s"closed-session coverage too low: ${got.size}/${want.size}")
  }

  test("streaming windowed counters converge to the batch answer") {
    val events = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val dir = TempDirs.create("graft_stream_src").toString
    // stage the stream as parquet files; the file source replays them
    // incrementally (maxFilesPerTrigger=1 → several micro-batches)
    events.repartition(4).write.mode("overwrite").parquet(dir)

    val streamed = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
    val counters = StreamOps.streamingCounters(streamed)
    // bounded state: the event-time watermark must be in the plan
    // (on a batch plan the node is eliminated, so assert it here)
    assert(counters.queryExecution.analyzed.toString().contains("EventTimeWatermark"))
    val q = counters
      .writeStream.format("memory").queryName("counters")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("counters")
      .orderBy("window_start", "event_type")
      .select("window_start", "event_type", "n_events", "sum_v")
      .collect()
    val want = StreamOps.windowedCounters(events)
      .orderBy("window_start", "event_type").collect()
    assert(got.length == want.length && got.sameElements(want),
      s"streaming (${got.length} rows) != batch (${want.length} rows)")
  }

  test("stream-stream conversion join converges to batch; state is watermark-bounded") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val dir = TempDirs.create("graft_ssjoin_src").toString
    // event-time-ordered replay (the sessionize discipline): append
    // mode drops rows behind the watermark
    ev.repartitionByRange(16, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(((System.currentTimeMillis() / 60000) * 60000) + i * 1000) }
    val streamed = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "2").parquet(dir)
    val joined = StreamOps.conversionJoin(
      streamed.where(col("event_type") === "signup"),
      streamed.where(col("event_type") === "purchase"))
    assert(joined.queryExecution.analyzed.toString().contains("EventTimeWatermark"),
      "stream-stream join lost its watermarks - state would grow forever")
    val q = joined.writeStream.format("memory").queryName("conv")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.get(1).toString, Option(r.get(2)).map(_.toString))
    val got = spark.table("conv").collect().map(key).toSet
    val want = StreamOps.conversionJoin(
        ev.where(col("event_type") === "signup"),
        ev.where(col("event_type") === "purchase"))
      .collect().map(key).toSet
    // every emitted row must be a batch row (no phantom matches); the
    // watermark tail may hold back the last window's emissions
    val phantom = got -- want
    assert(phantom.isEmpty, s"streamed rows not in batch: ${phantom.take(3)}")
    assert(got.size >= want.size * 3 / 4,
      s"conversion coverage too low: ${got.size}/${want.size}")
    // both inner matches AND expired non-converting signups must emit
    assert(got.exists(_._3.isDefined) && got.exists(_._3.isEmpty),
      "left-outer semantics lost in streaming")
  }

  test("streaming enrichment converges to the batch rollup, unmatched facts kept as unknown") {
    import org.apache.spark.sql.functions.col
    val events = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    // drop user 7's dim row: the left join must keep its facts
    val dims = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment").as("segment"))
      .where(col("user_id") =!= 7)
    val dir = TempDirs.create("graft_enrich_src").toString
    events.repartition(4).write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.enrichedCounters(streamed, dims)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("enriched")
      .orderBy("segment", "event_type").collect()
    val want = StreamOps.enrichedCounters(events, dims)
      .orderBy("segment", "event_type").collect()
    assert(got.length == want.length && got.sameElements(want),
      s"streaming (${got.length} rows) != batch (${want.length} rows)")
    // user_id 0 has no customer row: the left join must keep it
    assert(spark.table("enriched").where(col("segment") === "unknown").count() > 0,
      "unmatched facts vanished - enrichment became an inner join")
  }

  test("foreachBatch maintains a copy-on-write counter table equal to the batch answer") {
    val events = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "event_type", "value")
    val srcDir = TempDirs.create("graft_table_src").toString
    events.repartition(4).write.mode("overwrite").parquet(srcDir)
    val counterDir = TempDirs.create("graft_counter_tbl").toString + "/t"
    val streamed = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = StreamOps.maintainCounterTable(streamed, counterDir).start()
    try q.processAllAvailable() finally q.stop()
    // reader-side contract: the latest COMPLETE v=N snapshot (versions
    // are immutable; a version mid-write is not visible)
    val got = StreamOps.readCounterTable(spark, counterDir)
      .orderBy("event_type").collect()
    val want = events.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_v"))
      .orderBy("event_type").collect()
    assert(got.length == want.length && got.sameElements(want),
      s"maintained table (${got.mkString(",")}) != batch (${want.mkString(",")})")
  }

  test("maintainGuard: replay of a committed version skips the rewrite; fresh checkpoint over an older table refuses") {
    import java.nio.file.Files
    val dir = TempDirs.create("graft_guard_tbl").toString + "/t"
    // plant a complete v=3 snapshot
    import spark.implicits._
    graft.core.Snapshots.write(Seq(("a", 1L)).toDF("k", "n"), "k", dir, 3)
    // replay of batch 3: the body must NOT run (an in-place rewrite
    // would delete the directory under a concurrent reader)
    var ran = false
    StreamOps.maintainGuard(spark, dir, 3L) { _ => ran = true }
    assert(!ran, "committed version was rewritten on replay")
    // a LATER batch writes normally
    StreamOps.maintainGuard(spark, dir, 4L) { _ => ran = true }
    assert(ran)
    // fresh checkpoint (batch 0) against the v=3 table: refuse loudly
    // instead of silently rebuilding v=0 from one batch
    val e = intercept[IllegalArgumentException] {
      StreamOps.maintainGuard(spark, dir, 0L) { _ => fail("must not write") }
    }
    assert(e.getMessage.contains("previous stream"), e.getMessage)
    // no table yet: batch 0 writes
    val fresh = TempDirs.create("graft_guard_fresh").toString + "/t"
    var wrote = false
    StreamOps.maintainGuard(spark, fresh, 0L) { _ => wrote = true }
    assert(wrote)
  }

  test("maintainGuard: query-id marker closes the max==batchId fresh-checkpoint hole") {
    import java.nio.file.Files
    val dir = TempDirs.create("graft_guard_qid").toString + "/t"
    val key = "sql.streaming.queryId"
    try {
      // stream q1 commits ONLY v=0, branding the table
      spark.sparkContext.setLocalProperty(key, "q1")
      import spark.implicits._
      StreamOps.maintainGuard(spark, dir, 0L) { _ =>
        graft.core.Snapshots.write(Seq(("a", 1L)).toDF("k", "n"), "k", dir, 0)
      }
      // a FRESH checkpoint (q2) also starts at batch 0: version
      // arithmetic alone would call this a replay and silently skip
      // the new stream's rows — the identity marker refuses loudly
      spark.sparkContext.setLocalProperty(key, "q2")
      val e = intercept[IllegalArgumentException] {
        StreamOps.maintainGuard(spark, dir, 0L) { _ => fail("must not write") }
      }
      assert(e.getMessage.contains("belongs to streaming query q1"), e.getMessage)
      // the ORIGINAL stream's replay of batch 0 still skips cleanly
      spark.sparkContext.setLocalProperty(key, "q1")
      var ran = false
      StreamOps.maintainGuard(spark, dir, 0L) { _ => ran = true }
      assert(!ran)
      // and its next batch writes normally
      StreamOps.maintainGuard(spark, dir, 1L) { _ =>
        graft.core.Snapshots.write(Seq(("a", 2L)).toDF("k", "n"), "k", dir, 1) }
      assert(StreamOps.readMaintained(spark, dir)
        .as[(String, Long)].collect().sameElements(Array(("a", 2L))))
    } finally spark.sparkContext.setLocalProperty(key, null)
  }

  test("maintained tables: stray version-like dirs ignored, GC keeps the newest") {
    import java.nio.file.Files
    import spark.implicits._
    val dir = TempDirs.create("graft_guard_gc").toString + "/t"
    (0 to 3).foreach(v => graft.core.Snapshots.write(
      Seq(("a", v.toLong)).toDF("k", "n"), "k", dir, v))
    // a manual backup copy with its own _SUCCESS is NOT a version —
    // the old prefix parse threw NumberFormatException forever
    val bak = new java.io.File(dir, "v=3.bak"); bak.mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, "v=3", "_SUCCESS"),
      java.nio.file.Paths.get(dir, "v=3.bak", "_SUCCESS"))
    assert(StreamOps.readMaintained(spark, dir)
      .as[(String, Long)].collect().sameElements(Array(("a", 3L))))
    // partial (crashed-write) dirs: v=1 loses its _SUCCESS — older
    // than the kept range it must be reclaimed; v=9 (no _SUCCESS,
    // newer than every complete version) may be a write in progress
    // and must survive
    assert(new java.io.File(dir, "v=1/_SUCCESS").delete())
    val inflight = new java.io.File(dir, "v=9"); inflight.mkdirs()
    // GC drops all but the newest 2 complete versions (2, 3) AND the
    // crashed v=1 partial; the in-flight v=9 stays
    assert(StreamOps.gcMaintained(spark, dir, keepLast = 2) == Seq(0, 1))
    assert(!new java.io.File(dir, "v=0").exists())
    assert(!new java.io.File(dir, "v=1").exists())
    assert(inflight.exists())
    assert(StreamOps.readMaintained(spark, dir)
      .as[(String, Long)].collect().sameElements(Array(("a", 3L))))
  }

  test("streaming dedup drops duplicate payloads across micro-batches, bounded state") {
    val events = Tables.load(spark, sfDir, "events").select("event_id", "ts", "props")
    val dir = TempDirs.create("graft_dedup_src").toString
    events.repartition(4).write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    // 90-day horizon exceeds the testdata's ts span, so no first-seen
    // record can arrive behind the watermark — every duplicate is in
    // horizon and must be dropped exactly
    val dd = StreamOps.streamingDedup(streamed, "props", "ts", "90 days")
    assert(dd.queryExecution.analyzed.toString().contains("EventTimeWatermark"),
      "watermark (state eviction) missing from the plan")
    val q = dd.writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("stream_dedup")
    val wantDistinct = events.select(count_distinct(col("props"))).head().getLong(0)
    assert(got.count() == wantDistinct,
      s"streamed dedup kept ${got.count()} rows, batch-distinct is $wantDistinct")
    assert(got.groupBy("props").count().where(col("count") > 1).isEmpty,
      "a payload digest passed the dedup twice")
  }

  test("streaming WAL replication converges to the batch replay under out-of-order shipment") {
    import spark.implicits._
    // the same WAL-edit seeding as the wal_replay query: every 7th
    // edit is a delete tombstone
    val edits = Tables.eventCells(spark, sfDir)
      .withColumn("op", when(col("event_id") % 7 === 0, "delete").otherwise("put"))
      .select("rowkey", "qualifier", "ts", "value", "event_id", "op")
    val dir = TempDirs.create("graft_repl_src").toString
    // plain repartition = random file order: edits ship OUT of commit
    // order across micro-batches, exactly what HBase replication permits
    edits.repartition(4).write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream.schema(edits.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.replicateWal(streamed)
      .writeStream.format("memory").queryName("replica_updates")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    // latest update per cell = lexicographic max of the monotone
    // (del_us, put_us) state clock
    val replica = spark.table("replica_updates")
      .groupBy("rowkey", "qualifier")
      .agg(max(struct(col("del_us"), col("put_us"), col("live"),
        col("ts"), col("event_id"), col("value"))).as("m"))
      .select(col("rowkey"), col("qualifier"), col("m.live").as("live"),
        col("m.ts").as("ts"), col("m.event_id").as("event_id"),
        col("m.value").as("value"))
    val want = graft.analytics.Tools
      .walReplay(edits, "2000-01-01 00:00:00", "2100-01-01 00:00:00")
      .select("rowkey", "qualifier", "ts", "event_id", "value")
      .as[(Long, String, java.sql.Timestamp, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    val live = replica.where(col("live"))
      .select("rowkey", "qualifier", "ts", "event_id", "value")
      .as[(Long, String, java.sql.Timestamp, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    // live replica cells == batch replay, version for version
    assert(live.keySet == want.keySet,
      s"replica live set diverges: +${(live.keySet -- want.keySet).take(3)} " +
        s"-${(want.keySet -- live.keySet).take(3)}")
    live.foreach { case (k, v) => assert(want(k) == v, s"cell $k: $v != ${want(k)}") }
    // masked cells surface as deletion markers, never silently vanish
    val dead = replica.where(!col("live")).count()
    val touched = edits.select("rowkey", "qualifier").distinct().count()
    assert(live.size + dead == touched,
      s"replica covered ${live.size} + $dead of $touched touched cells")
  }

  test("streaming dedup: NULL text is MISSING content — every extraction-failed record passes") {
    import spark.implicits._
    // md5(NULL) is NULL and dropDuplicatesWithinWatermark treats NULL
    // fingerprints as EQUAL: unguarded, doc 3 silently swallowed doc 4
    // (r12 streaming review — the batch Dedup.exact NULL-key fix's
    // streaming sibling)
    val rows = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "same"),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 00:01:00"), "same"),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 00:02:00"),
        null.asInstanceOf[String]),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 00:03:00"),
        null.asInstanceOf[String])).toDF("event_id", "ts", "props")
    val dir = TempDirs.create("graft_dedup_null").toString
    rows.coalesce(1).write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream.schema(rows.schema).parquet(dir)
    val q = StreamOps.streamingDedup(streamed, "props", "ts", "90 days")
      .writeStream.format("memory").queryName("dedup_null")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup_null").select("event_id")
      .as[Long].collect().toSet
    assert(got.intersect(Set(1L, 2L)).size == 1,
      s"shared payload must keep exactly one: $got")
    assert(got.contains(3L) && got.contains(4L), s"null-text docs lost: $got")
  }

  test("replicateWal: payload-less tombstones fold, garbage-op cells pin no state") {
    import spark.implicits._
    // a tombstone naturally ships NO payload — the primitive-Double
    // encoder crash-looped the stream on it; an out-of-vocabulary op
    // for a never-seen cell emitted a deletion marker for a cell that
    // never existed and pinned sentinel state forever (r12 review)
    val edits = Seq(
      (1L, "q", java.sql.Timestamp.valueOf("2024-01-01 00:00:01"),
        java.lang.Double.valueOf(5.0), 1L, "put"),
      (1L, "q", java.sql.Timestamp.valueOf("2024-01-01 00:00:02"),
        null.asInstanceOf[java.lang.Double], 2L, "delete"),
      (2L, "q", java.sql.Timestamp.valueOf("2024-01-01 00:00:03"),
        java.lang.Double.valueOf(1.0), 3L, "deleteColumn"),
      (3L, "q", java.sql.Timestamp.valueOf("2024-01-01 00:00:04"),
        null.asInstanceOf[java.lang.Double], 4L, "put"))
      .toDF("rowkey", "qualifier", "ts", "value", "event_id", "op")
    val dir = TempDirs.create("graft_repl_null").toString
    edits.coalesce(1).write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream.schema(edits.schema).parquet(dir)
    val q = StreamOps.replicateWal(streamed)
      .writeStream.format("memory").queryName("replica_null")
      .outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("replica_null")
      .select("rowkey", "live", "value").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1),
        if (r.isNullAt(2)) null else r.get(2)))).toMap
    assert(got.keySet == Set(1L, 3L),
      s"garbage-op cell must emit nothing: ${got.keySet}")
    assert(got(1L)._1 == false, s"tombstoned cell reported live: ${got(1L)}")
    assert(got(3L) == ((true, null)),
      s"NULL-payload put must survive with NULL value: ${got(3L)}")
  }

  test("flatMapGroupsWithState running counters converge to batch totals") {
    val events = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val dir = TempDirs.create("graft_state_src").toString
    events.repartition(4).write.mode("overwrite").parquet(dir)

    val streamed = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.runningCounters(streamed)
      .writeStream.format("memory").queryName("running_counters")
      .outputMode("update")
      .start()
    try q.processAllAvailable() finally q.stop()

    // the LAST update per key must equal the batch aggregate — proving
    // the state carried increments across micro-batches
    val finalRows = spark.table("running_counters")
      .groupBy("event_type")
      .agg(max(struct(col("n"), col("sum"))).as("m"))
      .select(col("event_type"), col("m.n").as("n"), col("m.sum").as("sum"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val want = events.groupBy("event_type")
      .agg(count("*").as("n"), sum("value").as("sum"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(finalRows.keySet == want.keySet)
    want.foreach { case (k, (n, s)) =>
      val (gn, gs) = finalRows(k)
      assert(gn == n, s"$k count $gn != $n")
      assert(math.abs(gs - s) < 1e-6 * math.abs(s).max(1.0), s"$k sum $gs != $s")
    }
  }

  test("streaming quota EVICTS expired windows: state stays bounded under ordered replay") {
    val events = Tables.load(spark, sfDir, "events").select("user_id", "ts")
    val nWindows = events
      .select(col("user_id"), date_trunc("DAY", col("ts")).as("w"))
      .distinct().count()
    val dir = TempDirs.create("graft_quota_evict_src").toString
    // event-time-ordered replay (the sessionize spec's technique) so the
    // watermark actually advances past old windows and fires timeouts
    events.repartitionByRange(16, col("ts")).sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(((System.currentTimeMillis() / 60000) * 60000) + i * 1000) }
    val streamed = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.streamingQuota(streamed, _ => 3L, retentionDays = 1)
      .writeStream.format("memory").queryName("quota_evict")
      .outputMode("update").start()
    try {
      q.processAllAvailable()
      // a month of windows streamed; retention 1 day means only the
      // watermark tail may hold live state — most windows were evicted.
      // (No eviction would leave numRowsTotal == nWindows.)
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows < nWindows / 2,
        s"state not evicted: $stateRows rows for $nWindows (user, window) keys")
      assert(stateRows > 0, "state metric empty — eviction assertion vacuous")
    } finally q.stop()
  }

  test("streaming top-k converges to the batch per-window ranking") {
    val events = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "event_type")
    val dir = TempDirs.create("graft_topk_src").toString
    events.repartition(4).write.mode("overwrite").parquet(dir)

    val streamed = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    // wide retention: files arrive in arbitrary order (see quota test)
    val q = StreamOps.streamingTopK(streamed, k = 3, retentionDays = 365)
      .writeStream.format("memory").queryName("stream_topk_t")
      .outputMode("update")
      .start()
    try q.processAllAvailable() finally q.stop()

    // the LAST batch of updates per window (the ones carrying the
    // window's final counts) must equal the batch windowedTopK report
    val updates = spark.table("stream_topk_t")
    val lastCounts = updates.groupBy("window_start", "event_type")
      .agg(max(col("n_events")).as("n_events"))
    val want = StreamOps.windowedTopK(events, 3)
      .select("window_start", "rank", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    // reconstruct the final ranking from the converged counts with the
    // same tie order, then compare to the batch heap's output
    import org.apache.spark.sql.expressions.Window
    val got = lastCounts
      .withColumn("rank", row_number().over(Window.partitionBy("window_start")
        .orderBy(col("n_events").desc, col("event_type").desc)).cast("bigint"))
      .where(col("rank") <= 3)
      .select("window_start", "rank", "event_type", "n_events")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    assert(got == want, s"streaming top-k diverged: ${got.size} vs ${want.size} rows")
  }

  test("streaming quota converges to the batch throttle report across micro-batches") {
    val limit = 3L
    val events = Tables.load(spark, sfDir, "events").select("user_id", "ts")
    val dir = TempDirs.create("graft_quota_src").toString
    events.repartition(4).write.mode("overwrite").parquet(dir)

    val streamed = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    // retention wider than the data's one-month span: the files stream
    // in arbitrary order, so a production-tight watermark would drop
    // "late" old windows and the convergence compare would be vacuous
    val q = StreamOps.streamingQuota(streamed, _ => limit, retentionDays = 365)
      .writeStream.format("memory").queryName("stream_quota")
      .outputMode("update")
      .start()
    try q.processAllAvailable() finally q.stop()

    // LAST update per (user, window) = the batch per-window report
    val got = spark.table("stream_quota")
      .groupBy("user_id", "window")
      .agg(max(col("n_reqs")).as("n_reqs"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)) -> r.getLong(2)).toMap
    val want = events
      .groupBy(col("user_id"), date_trunc("DAY", col("ts")).as("window"))
      .agg(count("*").as("n"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)) -> r.getLong(2)).toMap
    assert(got == want, s"running counts diverged: ${got.size} vs ${want.size} keys")
    // the emitted throttle decision matches the count it rode with
    val bad = spark.table("stream_quota")
      .where(col("over_quota") =!= (col("n_reqs") > limit) ||
        col("n_throttled") =!= greatest(lit(0L), col("n_reqs") - limit))
      .count()
    assert(bad == 0, s"$bad updates with inconsistent throttle fields")
  }

  test("streaming SCD2 maintenance converges to the batch build under shuffled batches") {
    val cells = Tables.eventCells(spark, sfDir)
      .select("rowkey", "qualifier", "ts", "value", "event_id")
    val srcDir = TempDirs.create("graft_scd2_src").toString
    // repartition(5) gives 5 files = 5 micro-batches in arbitrary
    // order: versions of one key land across batches out of ts order,
    // exercising the splice-and-clip re-window
    cells.repartition(5).write.mode("overwrite").parquet(srcDir)
    val dimDir = TempDirs.create("graft_scd2_tbl").toString + "/t"
    val streamed = spark.readStream.schema(cells.schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
    val q = StreamOps.maintainScd2Table(streamed, dimDir,
      Seq("rowkey", "qualifier"), "ts", "event_id").start()
    try q.processAllAvailable() finally q.stop()
    val cols = Seq("rowkey", "qualifier", "ts", "value", "event_id",
      "valid_from", "valid_to", "is_current")
    val got = StreamOps.readMaintained(spark, dimDir)
      .select(cols.head, cols.tail: _*).orderBy(cols.map(col): _*).collect()
    val want = graft.analytics.Tools.scd2Build(
        cells, Seq("rowkey", "qualifier"), "ts", "event_id")
      .select(cols.head, cols.tail: _*).orderBy(cols.map(col): _*).collect()
    assert(got.length == want.length, s"${got.length} vs ${want.length}")
    assert(got.sameElements(want), "maintained SCD2 table diverged from the batch build")
    // dimension invariant: exactly one current version per live key
    val multiCurrent = StreamOps.readMaintained(spark, dimDir)
      .where(col("is_current")).groupBy("rowkey", "qualifier")
      .count().where(col("count") > 1).count()
    assert(multiCurrent == 0)
  }

  test("streaming LSH candidates preserve batch-bucket connectivity under shuffled arrival") {
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val dir = TempDirs.create("graft_lsh_src").toString
    // plain repartition = shuffled arrival order across micro-batches
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = StreamOps.streamingLshCandidates(streamed)
      .writeStream.format("memory").queryName("lsh_cand")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val pairs = spark.table("lsh_cand").collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).distinct
    // batch buckets off the SAME banding
    val buckets = graft.dedup.Dedup.bandKeys(
        graft.dedup.Dedup.shingles(docs), 128, 32)
      .groupBy("band", "key").agg(collect_set("doc_id").as("ds"))
      .where(size(col("ds")) >= 2)
      .collect().map(_.getAs[Seq[Long]]("ds").toSet)
    // (a) no false edge: every streamed pair shares at least one bucket
    pairs.foreach { case (i, j) =>
      assert(buckets.exists(s => s(i) && s(j)), s"phantom pair ($i,$j)")
    }
    assert(pairs.nonEmpty == buckets.nonEmpty)
    // (b) connectivity: every batch bucket collapses to ONE component
    // of the streamed pair graph (arrival order moved the anchor, not
    // the component)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (i, j) =>
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    buckets.foreach { s =>
      assert(s.map(find).size == 1, s"bucket $s split across components")
    }
  }

  test("streaming LSH idleTimeout bounds state: cold buckets evict, pairs stay real") {
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val dir = TempDirs.create("graft_lsh_ttl_src").toString
    docs.repartition(4).write.mode("overwrite").parquet(dir)
    val streamed = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    // a 1 ms idle TTL expires every bucket between micro-batches — the
    // maximal-eviction corner of the contract. Metrics come from a
    // listener, not recentProgress: ProcessingTimeTimeout keeps firing
    // empty timeout batches, which rotate the data batches out of the
    // bounded recentProgress ring. AvailableNow (not
    // processAllAvailable) bounds the run; the empty-batch tail is
    // cut by stop() after termination or the deadline.
    val seen = scala.collection.mutable.ArrayBuffer[(Long, Long)]() // (total, removed)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(so => seen.synchronized {
          seen += ((so.numRowsTotal, so.numRowsRemoved)) })
    }
    spark.streams.addListener(listener)
    val q = StreamOps.streamingLshCandidates(streamed,
        idleTimeout = Some("1 millisecond"))
      .writeStream.format("memory").queryName("lsh_cand_ttl")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      // wait until eviction is OBSERVED (removed > 0 and state back to
      // 0), not for termination: the timeout-batch tail can outlive
      // the data by design
      val deadline = System.currentTimeMillis() + 90000
      while (System.currentTimeMillis() < deadline &&
             !seen.synchronized(seen.exists(_._2 > 0) && seen.lastOption.exists(_._1 == 0L))) {
        Thread.sleep(200)
      }
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    val snap = seen.synchronized(seen.toList)
    assert(snap.nonEmpty, "no stateful progress recorded")
    // eviction actually ran: state rows were removed across the run
    assert(snap.exists(_._2 > 0), "idleTimeout never evicted a bucket")
    // the state bound: live rows never exceed what ONE batch's buckets
    // need (every older bucket expired before the next batch ran) —
    // with NoTimeout this would be the cumulative bucket vocabulary
    val liveMax = snap.map(_._1).max
    val cumulativeBuckets = graft.dedup.Dedup.bandKeys(
        graft.dedup.Dedup.shingles(docs), 128, 32)
      .select("band", "key").distinct().count()
    assert(liveMax < cumulativeBuckets,
      s"state ($liveMax) did not stay below the cumulative bucket count ($cumulativeBuckets)")
    // expiry loses pairs across the gap but never invents them: every
    // emitted pair still shares a batch bucket
    val pairs = spark.table("lsh_cand_ttl").collect()
      .map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"))).distinct
    val buckets = graft.dedup.Dedup.bandKeys(
        graft.dedup.Dedup.shingles(docs), 128, 32)
      .groupBy("band", "key").agg(collect_set("doc_id").as("ds"))
      .where(size(col("ds")) >= 2)
      .collect().map(_.getAs[Seq[Long]]("ds").toSet)
    pairs.foreach { case (i, j) =>
      assert(buckets.exists(s => s(i) && s(j)), s"phantom pair ($i,$j)")
    }
  }
}
