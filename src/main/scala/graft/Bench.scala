package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import java.util.concurrent.atomic.AtomicLong

/** Per-round benchmark main. One warmup pass (JVM/codegen/IO caches),
  * then THREE timed passes over the full set with per-query GC time,
  * executor task-time, and shuffle read/write bytes — pass 1 is the
  * headline (`value`, comparable across rounds); pass 2 separates
  * lifecycle leaks from host noise (blocks accumulating across a pass
  * make pass 2 systematically slower, noise moves both the same way);
  * pass 3 is the anomaly TIE-BREAK: a pass-asymmetric cliff is noise
  * iff pass 3 rejoins the healthy value. The task/shuffle columns make
  * the committed artifact SELF-ADJUDICATING (the r10 verdict's ask):
  * wall-time up with task-time and shuffle bytes flat is host
  * contention; task-time or bytes up with wall is a real plan or
  * lifecycle regression. `gc_sec` localizes memory-pressure
  * regressions to the queries that paid them (local[*] runs driver
  * and executors in ONE JVM, so the MXBean reading covers both).
  * Failures are NOT swallowed: each failing query is reported in
  * "failed" and the process exits nonzero, so a regression can't hide
  * as a ~0-second success. */
object Bench {

  /** The bench ACTION: force full materialization of every output
    * column through the v2 `noop` sink. `.count()` (the r1–r11 action)
    * let Catalyst prune anything the count didn't need — the four
    * backfill-shaped queries ending in a LEFT join against a
    * unique-keyed aggregate (dedup_substring, text_perplexity,
    * text_repetition, dedup_cdc) benched at ~0.02 s task time because
    * the optimizer correctly eliminated the join under count().
    * The noop sink consumes every row of the final projection and
    * discards it, so the plan the user would pay for is the plan the
    * bench measures. Shared with ScaleSpike and Probe so spikes and
    * probes measure the same action as the round bench
    * (audits/bench_r12_noop_action.json). */
  def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Accumulates executor-side task metrics across the whole run;
    * the bench diffs snapshots between queries (after draining the
    * listener bus, so no query's tasks bleed into its neighbor's
    * window). AtomicLongs because task-end events post from the
    * listener thread while the main thread reads snapshots. */
  private final class TaskMetricsListener extends SparkListener {
    val taskMillis = new AtomicLong
    val shuffleReadBytes = new AtomicLong
    val shuffleWriteBytes = new AtomicLong
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        taskMillis.addAndGet(m.executorRunTime)
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def snapshot(): (Long, Long, Long) =
      (taskMillis.get, shuffleReadBytes.get, shuffleWriteBytes.get)
  }

  /** One query's record in one timed pass: wall seconds, GC seconds,
    * executor task seconds, shuffle read MB, shuffle write MB. */
  private final case class QRec(name: String, wall: Double, gc: Double,
                                task: Double, sreadMb: Double,
                                swriteMb: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_ONLY=a,b,c restricts the run (iteration aid; the
    // driver never sets it, so round benches always cover everything).
    // Unknown or empty names fail loudly (SparkEntry.select)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val qs = only.fold(SparkEntry.benchQueries.toSeq)(names =>
      SparkEntry.select(SparkEntry.benchQueries, names, "Bench: SPARK_GRAFT_ONLY"))
      .sortBy(_._1)
    // session shape and the SPARK_GRAFT_CONF experiment aid: Session.local
    val spark = Session.local(Session.cpus(32))
    val metrics = new TaskMetricsListener
    spark.sparkContext.addSparkListener(metrics)
    // warmup: full untimed pass (ignore failures here; the timed pass reports them)
    qs.foreach { case (_, fn) =>
      try materialize(fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    // the shared memos the warmup built are exactly the ones the
    // selected queries consume: memo_setup rebuilds those and no others,
    // so a filtered run of memo-free queries (kv-only, or pipeline arms
    // like dedup_exact) pays no shingle builds nobody reads
    val memoSetup = graft.pipeline.PipelineQueries.builtShared(spark, sfDir)
    if (memoSetup.nonEmpty)
      System.err.println(s"[bench] memo_setup builds: ${memoSetup.mkString(", ")}")

    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
    }
    // drain the async listener bus, then snapshot the task counters —
    // called OUTSIDE the wall-clock window (after nanoTime is read),
    // so bus-drain cost never lands in a query's wall seconds.
    // waitUntilEmpty throws TimeoutException after a hard 10 s; under
    // exactly the host-pressure anomalies these columns adjudicate,
    // that must DEGRADE the attribution (metrics lag one query), never
    // kill the run and lose the whole round's artifact
    def taskSnapshot(): (Long, Long, Long) = {
      try org.apache.spark.sql.graftbridge.ListenerBridge
        .waitUntilEmpty(spark.sparkContext)
      catch { case _: java.util.concurrent.TimeoutException =>
        System.err.println(
          "[bench] listener-bus drain timed out; task metrics may lag") }
      metrics.snapshot()
    }

    var failed = List.empty[String]
    // Per-query records for one timed pass. The shared
    // shingle/pair/cluster tables are re-paid INSIDE each timed window
    // — but charged to an explicit `memo_setup` entry (r9), not to
    // whichever consumer happens to run first: first-consumer
    // attribution made per-query numbers move when registration order
    // changed (the r8 ngram_novelty 2.4x "regression" was the shingle
    // memo landing on a different query). Inheriting the memos from
    // warmup would time cache probes, not operators, so the build cost
    // stays inside the pass — on its own line. The bucketed/v=N layout
    // guards stay warm by design: their timed queries still do the
    // join/read work the layout exists for.
    // Evacuate the previous pass's broadcast/shuffle garbage BETWEEN
    // passes, not mid-pass: ContextCleaner only releases blocks after a
    // driver GC enqueues their weak refs, so without an explicit
    // collection the whole backlog lands inside whichever later query
    // happens to trigger the next old-gen GC — on a memory-tight host
    // that reads as a pass-2 "regression" of whatever queries were
    // running (the r5 driver-box embedding inversion). And a fixed
    // 1-second pause is NOT enough: a full pass's backlog takes the
    // single cleaner thread many seconds of block-manager RPCs (the
    // r6 first-cut measured ~20s of contention leaking into the early
    // pass-2 queries), so drain to QUIESCENCE — GC, wait, and repeat
    // until the managed block count stops changing.
    def drainGarbage(): Unit = {
      import org.apache.spark.sql.graftbridge.CleanerBridge
      // Convergence = the managed block count stable across TWO
      // consecutive post-GC readings, with a 3-round floor: the count
      // is blind to shuffle-only cleanups and the first reading lands
      // before any GC has enqueued refs, so a single unchanged reading
      // proves nothing — the floor guarantees at least ~3s of cleaner
      // wall-time even when the broadcast/RDD count sits at 0
      // throughout, and the stable-twice rule rides out a >1s RPC
      // stall mid-queue. The 30-round cap is a hang guard; tripping it
      // only costs attribution (gc2 still localizes the residue).
      var stable = 0
      var prev = -1
      var rounds = 0
      while (stable < 2 && rounds < 30) {
        System.gc(); Thread.sleep(1000)
        val cur = CleanerBridge.managedBlockCount()
        stable = if (cur == prev && rounds >= 2) stable + 1 else 0
        prev = cur; rounds += 1
      }
      System.err.println(s"[bench] gc drain: $rounds rounds, $prev blocks live")
    }
    def timedPass(): Seq[QRec] = {
      graft.pipeline.PipelineQueries.resetShared()
      drainGarbage()
      // ONE drained snapshot per query boundary: the previous query's
      // end reading IS the next query's baseline (no tasks can finish
      // between two back-to-back snapshots, and each drain is a
      // 10 s-timeout exposure — half the calls, half the hazard)
      var last = taskSnapshot()
      def timed(name: String)(body: => Unit): QRec = {
        val (tk0, sr0, sw0) = last
        val g0 = gcMillis
        val t0 = System.nanoTime()
        body
        val wall = (System.nanoTime() - t0) / 1e9
        val gc = (gcMillis - g0) / 1e3
        last = taskSnapshot()
        val (tk1, sr1, sw1) = last
        QRec(name, wall, gc, (tk1 - tk0) / 1e3,
          (sr1 - sr0) / 1e6, (sw1 - sw0) / 1e6)
      }
      val setup = if (memoSetup.isEmpty) Nil else {
        // a failed prewarm is survivable (consumers rebuild their own
        // memos) but must be VISIBLE in the record: otherwise the
        // near-zero memo_setup line plus consumer-absorbed build costs
        // reads exactly like the first-consumer attribution drift this
        // line exists to eliminate. The sentinel NAME marks it (the
        // run still exits 0 — no query failed).
        var name = "memo_setup"
        val rec = timed("memo_setup") {
          try graft.pipeline.PipelineQueries.prewarmShared(spark, sfDir, memoSetup)
          catch { case e: Throwable => // consumers rebuild + report it
            System.err.println(s"[bench] memo_setup FAILED: ${e.getMessage}")
            name = "memo_setup_FAILED"
          }
        }
        Seq(rec.copy(name = name))
      }
      setup ++ qs.map { case (name, fn) =>
        timed(name) {
          try materialize(fn(spark, sfDir))
          catch { case e: Throwable =>
            if (!failed.contains(name)) failed ::= name
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          }
        }
      }
    }
    // Calibration canary (r13 verdict item 2): a PINNED 5-query probe
    // — one scan, one agg, one join, one scalar-heavy text query, one
    // window — timed immediately before and after the three passes,
    // min of 3 repeats each (the min shakes out one-time memo builds
    // and stray GC; the probe measures the HOST, not lifecycle).
    // Adjudication (BASELINE_PERF "r14 canary rule"): host_drift =
    // median over the 5 of (this record's canary / the compared
    // record's canary, same pre/post side); a flagged per-query ratio
    // is host noise, not regression, when ratio / host_drift ≤ 1.3.
    // canary_post / canary_pre medians expose intra-run drift the same
    // way (the r13 close2 "median 1.26, uniform" case). Runs only on
    // FULL benches — a filtered iteration run skips the ~20 s.
    val canaryNames = Seq("scan_range", "agg_grouped", "join_salted",
      "text_fingerprint", "agg_running_total")
    def canaryPass(): Seq[(String, Double)] =
      if (only.nonEmpty) Nil
      else canaryNames.map { n =>
        val fn = SparkEntry.benchQueries(n)
        val best = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          materialize(fn(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }.min
        (n, best)
      }
    val canaryPre = canaryPass()
    val pass1 = timedPass()
    val pass2 = timedPass()
    val pass3 = timedPass()
    val canaryPost = canaryPass()

    // Locale.ROOT: the f-interpolator uses the default locale, which can
    // emit decimal COMMAS (de_DE etc.) and break the JSON line
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def entries(rs: Seq[(String, Double)]): String = rs.map { case (k, v) =>
      "\"" + k + "\":" + num(v)
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = num(pass1.map(_.wall).sum)
    val total2 = num(pass2.map(_.wall).sum)
    val total3 = num(pass3.map(_.wall).sum)
    val totalGc = num(pass1.map(_.gc).sum)
    // The harness keeps only a ~2000-char tail of this process's output;
    // at 100+ queries the full per-query map no longer fits on one line.
    // Inline the slowest 40 (everything interesting), dump the complete
    // record (all passes + per-query gc/task/shuffle) next to the repo.
    val top = pass1.map(r => (r.name, r.wall)).sortBy(-_._2).take(40).sortBy(_._1)
    // the path anchors to an explicit env override or the JVM's working
    // directory, resolved absolute up front so the compact line's "full"
    // pointer names the file actually written (not a stale default)
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")).toAbsolutePath
    // Self-adjudication columns (the r10 verdict's ask): per pass N,
    //  - queries/pass2/pass3: wall seconds
    //  - gc/gc2/gc3: JVM GC seconds inside the query's window
    //  - task/task2/task3: executor task-time seconds (Σ over tasks)
    //  - sread/sread2/sread3 + swrite/...: shuffle bytes in MB
    // Adjudication reads: wall↑ with task+shuffle flat → host
    // contention; task↑ (or bytes↑) with wall → plan/lifecycle
    // regression; pass 3 is the tie-break sample for pass-asymmetric
    // anomalies. qcount counts QUERIES; memo_setup is a charged setup
    // line, not a query (it still contributes to the totals — the
    // pass paid it).
    def passMaps(tag: String, rs: Seq[QRec]): String =
      s""""${if (tag.isEmpty) "queries" else "pass" + tag}":${entries(rs.map(r => (r.name, r.wall)))},""" +
        s""""gc$tag":${entries(rs.map(r => (r.name, r.gc)))},""" +
        s""""task$tag":${entries(rs.map(r => (r.name, r.task)))},""" +
        s""""sread$tag":${entries(rs.map(r => (r.name, r.sreadMb)))},""" +
        s""""swrite$tag":${entries(rs.map(r => (r.name, r.swriteMb)))}"""
    // paths go through the shared JSON escaper (Verify.q): a quote or
    // backslash in an env-supplied path would otherwise corrupt the
    // round artifact and lose the record at json.load time
    val sfJson = Verify.q(sfDir)
    val canaryJson =
      s""""canary_pre":${entries(canaryPre)},"canary_post":${entries(canaryPost)}"""
    val fullRecord =
      s"""{"metric":"total","value":$total,"unit":"sec","qcount":${qs.size},""" +
        passMaps("", pass1) + "," + passMaps("2", pass2) + "," +
        passMaps("3", pass3) + "," + canaryJson + "," +
        s""""pass2_sec":$total2,"pass3_sec":$total3,"gc_sec":$totalGc,""" +
        s""""failed":$failedJson,"sf":$sfJson}"""
    // a FILTERED run writes no full record — its compact line must say
    // null, not point at a stale full file from an earlier round
    val fullRef = if (only.isEmpty) Verify.q(outPath.toString) else "null"
    val compactLine =
      s"""{"metric":"total","value":$total,"unit":"sec","qcount":${qs.size},""" +
        s""""queries":${entries(top)},"pass2_sec":$total2,"pass3_sec":$total3,""" +
        s""""gc_sec":$totalGc,$canaryJson,"failed":$failedJson,"full":$fullRef,"sf":$sfJson}"""
    // a filtered run must not clobber the round's full record
    if (only.isEmpty) {
      java.nio.file.Files.write(outPath, (fullRecord + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] full record written to $outPath")
    }
    println(compactLine)
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
