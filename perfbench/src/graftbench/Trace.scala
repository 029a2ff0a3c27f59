package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval on the run's nanoTime timeline. `op` is the index
  * of the root op or job it belongs to; the root itself has layer
  * "root". Attributes carry counts (stages, tasks, bytes). */
final case class Span(op: Int, layer: String, start: Long, end: Long,
                      attrs: Map[String, Double] = Map.empty)

/** Catalyst phases and parquet scan metrics of one action. */
private final case class QeRec(phases: Seq[(String, Long, Long)], scanRows: Long, scanFiles: Long)

/** What the traced run knows about one op or batch job once it ends. */
final case class OpRec(name: String, module: String, wallNs: Long,
                       self: Map[String, Long], counts: Map[String, Double])

/** Spans and counters taken from outside the program: around each call
  * into a graft module, from the Catalyst phase tracker of every action,
  * and from a listener that attributes Spark jobs to the op by job group.
  * Disabled, every method is a pass-through and nothing is registered. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private def msToNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  val spans = ArrayBuffer.empty[Span]
  val ops = ArrayBuffer.empty[OpRec]
  private var cur = -1
  private var curName = ""
  private var curModule = ""
  private val notes = mutable.Map.empty[String, Double]
  /** Spans are taken in the timed phase only; warmup may run ops on
    * several threads. */
  private var timed = false
  private def on = enabled && timed
  private var curStart = 0L
  private var curSpans = ArrayBuffer.empty[Span]
  private var codegen0 = 0L
  private var gc0 = 0L

  private final class JobRec(val id: Int, val group: String, val startMs: Long) {
    var endMs = 0L
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var readB = 0L
    var writeB = 0L
    var spillB = 0L
    val stages = mutable.Set.empty[Int]
    val taskIv = ArrayBuffer.empty[(Long, Long)]
  }

  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val finishedJobs = new ConcurrentLinkedQueue[JobRec]()
  private val qes = new ConcurrentLinkedQueue[QeRec]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val r = new JobRec(e.jobId, g, e.time)
      e.stageIds.foreach(s => stageJob.put(s, r))
      jobs.put(e.jobId, r)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val r = stageJob.get(e.stageId)
      if (r != null) r.synchronized {
        r.tasks += 1
        r.stages += e.stageId
        r.taskIv += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          r.runMs += m.executorRunTime
          r.cpuNs += m.executorCpuTime
          r.readB += m.shuffleReadMetrics.totalBytesRead
          r.writeB += m.shuffleWriteMetrics.bytesWritten
          r.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val r = jobs.remove(e.jobId)
      if (r != null) { r.endMs = e.time; finishedJobs.add(r) }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val (rows, files) = scanMetrics(qe)
      qes.add(QeRec(phases(qe), rows, files))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      qes.add(QeRec(phases(qe), 0L, 0L))
  }

  private def phases(qe: QueryExecution): Seq[(String, Long, Long)] =
    qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }

  /** Parquet scan rows and files from the executed plan's SQLMetrics.
    * Scans reached twice through a reused exchange count once. */
  private def scanMetrics(qe: QueryExecution): (Long, Long) = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case s: FileSourceScanExec => seen.add(s)
      case other => other.children.foreach(walk); other.subqueries.foreach(walk)
    }
    try walk(qe.executedPlan) catch { case _: Throwable => () }
    val scans = seen.asScala.toSeq
    def m(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
    (m("numOutputRows"), m("numFiles"))
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def codegenCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Enter the timed phase: forget what the listeners saw during warmup. */
  def startTimed(): Unit = {
    if (enabled) {
      org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      finishedJobs.clear()
      qes.clear()
    }
    timed = true
  }

  /** Start a root op; `name` is its kv class or batch job name. */
  def begin(idx: Int, name: String, module: String, startNs: Long): Unit = if (on) {
    cur = idx; curName = name; curModule = module; curStart = startNs
    curSpans = ArrayBuffer.empty[Span]
    notes.clear()
    spark.sparkContext.setJobGroup(s"op-$idx", name, interruptOnCancel = false)
    codegen0 = codegenCount
    gc0 = Env.gcMillis
  }

  /** Add a count to the current op (bytes committed, files written). */
  def note(k: String, v: Double): Unit = if (on) notes(k) = notes.getOrElse(k, 0.0) + v

  def span[T](layer: String)(body: => T): T =
    if (!on) body
    else {
      val s = System.nanoTime()
      try body finally curSpans += Span(cur, layer, s, System.nanoTime())
    }

  /** End the root op at `endNs`. The listener bus is drained here, after
    * the op's clock stopped, so the drain is never inside a timing. */
  def end(endNs: Long, resultRows: Long): Unit = if (on) {
    val codegen = codegenCount - codegen0
    val gc = Env.gcMillis - gc0
    spark.sparkContext.clearJobGroup()
    org.apache.spark.sql.graftbridge.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    val group = s"op-$cur"
    val myJobs = finishedJobs.asScala.filter(_.group == group).toSeq
    finishedJobs.removeIf(_.group == group)
    val myQes = Iterator.continually(qes.poll()).takeWhile(_ != null).toSeq
    for (q <- myQes; (ph, s, e) <- q.phases)
      curSpans += Span(cur, s"spark.$ph", msToNs(s), msToNs(e) max msToNs(s))
    var schedWaitMs = 0.0
    for (j <- myJobs) {
      val attrs = j.synchronized {
        val busy = union(j.taskIv.toSeq.map { case (a, b) => (a max j.startMs, b min j.endMs) })
        schedWaitMs += math.max(0L, j.endMs - j.startMs - busy)
        Map("stages" -> j.stages.size.toDouble, "tasks" -> j.tasks.toDouble,
          "run_ms" -> j.runMs.toDouble, "cpu_ms" -> j.cpuNs / 1e6,
          "shuffle_read_b" -> j.readB.toDouble, "shuffle_write_b" -> j.writeB.toDouble,
          "spill_b" -> j.spillB.toDouble)
      }
      curSpans += Span(cur, "spark.job", msToNs(j.startMs), msToNs(j.endMs), attrs)
    }
    val root = Span(cur, "root", curStart, endNs, Map("result_rows" -> resultRows.toDouble))
    spans += root
    spans ++= curSpans
    def sumAttr(k: String) = curSpans.filter(_.layer == "spark.job").map(_.attrs.getOrElse(k, 0.0)).sum
    val scanRows = myQes.map(_.scanRows).sum.toDouble
    val counts = Map(
      "spark.jobs" -> myJobs.size.toDouble,
      "spark.stages" -> sumAttr("stages"), "spark.tasks" -> sumAttr("tasks"),
      "exec.run_ms" -> sumAttr("run_ms"), "exec.cpu_ms" -> sumAttr("cpu_ms"),
      "shuffle.read_b" -> sumAttr("shuffle_read_b"), "shuffle.write_b" -> sumAttr("shuffle_write_b"),
      "spill_b" -> sumAttr("spill_b"), "spark.sched_wait_ms" -> schedWaitMs,
      "spark.codegen_compiles" -> codegen.toDouble, "jvm.gc_ms" -> gc.toDouble,
      "scan.rows_read" -> scanRows, "scan.files_read" -> myQes.map(_.scanFiles).sum.toDouble,
      "result_rows" -> resultRows.toDouble) ++ notes
    ops += OpRec(curName, curModule, endNs - curStart, Tracer.selfTimes(root, curSpans.toSeq), counts)
  }

  /** Length of the union of intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var hiSoFar = Long.MinValue
    for ((a, b) <- iv.filter { case (a, b) => b > a }.sortBy(_._1)) {
      val lo = a max hiSoFar
      if (b > lo) total += b - lo
      hiSoFar = hiSoFar max b
    }
    total
  }

  def close(): Unit = if (enabled) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}

object Tracer {
  /** Exclusive self time per layer. Each instant of the root interval is
    * charged to the deepest span covering it (latest start on a tie), or
    * to "remainder" when only the root covers it, so the self times of
    * one op always sum to its wall time. Depth is span containment:
    * a span's parent is the innermost span whose interval holds it. */
  def selfTimes(root: Span, children: Seq[Span]): Map[String, Long] = {
    val kids = children.map(s => s.copy(start = s.start max root.start, end = s.end min root.end))
      .filter(s => s.end > s.start).sortBy(s => (s.start, -s.end)).toIndexedSeq
    val depth = new Array[Int](kids.size)
    val stack = mutable.Stack.empty[Int]
    for (i <- kids.indices) {
      while (stack.nonEmpty && !(kids(stack.top).start <= kids(i).start && kids(i).end <= kids(stack.top).end))
        stack.pop()
      depth(i) = stack.size + 1
      stack.push(i)
    }
    val bounds = (Seq(root.start, root.end) ++ kids.flatMap(s => Seq(s.start, s.end))).distinct.sorted
    val out = mutable.Map.empty[String, Long].withDefaultValue(0L)
    for (Seq(a, b) <- bounds.sliding(2) if b > a) {
      var best = -1
      for (i <- kids.indices if kids(i).start <= a && kids(i).end >= b)
        if (best < 0 || depth(i) > depth(best) ||
          (depth(i) == depth(best) && kids(i).start > kids(best).start)) best = i
      out(if (best < 0) "remainder" else kids(best).layer) += b - a
    }
    out.toMap
  }
}
