package graftbench

import java.io.File
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed op or job. `key` groups the samples a pass is composed of:
  * the kv class of a read, the Mutations call of a kv write, the job name
  * in batch_analytics. `cpuMs` is the CPU time the Java threads spent
  * meanwhile (see [[Env.threadCpu]]). */
final case class OpSample(key: String, write: Boolean, wallMs: Double, cpuMs: Double)

/** Counters of one run, filled by the workloads. */
final class Results {
  var attempted = 0L
  val failures = ArrayBuffer.empty[(String, String)]
  def fail(what: String, msg: String): Unit = synchronized { failures += ((what, msg)) }
  /** Count one op or job, with its failure (op name, message) if any. */
  def attempt(failure: Option[(String, String)]): Unit = synchronized {
    attempted += 1
    failure.foreach(failures += _)
  }
  /** Every timed op or job. */
  val ops = ArrayBuffer.empty[OpSample]
  /** Wall seconds of each whole pass. */
  val passS = ArrayBuffer.empty[Double]
  /** Per write key: (commits, bytes committed, bytes of the rows changed). */
  val commits = mutable.Map.empty[String, (Int, Double, Double)].withDefaultValue((0, 0.0, 0.0))
  def commit(key: String, committed: Double, changed: Double): Unit = {
    val (n, c, r) = commits(key); commits(key) = (n + 1, c + committed, r + changed)
  }
  /** Bytes committed ÷ bytes changed by one average commit of each write
    * key, so the mix of write kinds a run reached does not move it. */
  def writeAmp: Double = {
    val per = commits.values.toSeq
    val changed = per.map { case (n, _, r) => r / n }.sum
    if (changed > 0) per.map { case (n, c, _) => c / n }.sum / changed else Double.NaN
  }
  var timedOps = 0L
}

object Env {
  def gcMillis: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  /** CPU time of every live Java thread (driver, executor tasks, Spark's
    * event loops), ns by thread id. JIT compiler and GC threads are not
    * Java threads and are left out; the kernel leaves time the hypervisor
    * steals out of thread CPU time. */
  def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }
  /** CPU ms the Java threads spent between two [[threadCpu]] snapshots;
    * a thread born in between counts from zero. */
  def cpuMs(before: Map[Long, Long], after: Map[Long, Long]): Double =
    after.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e6

  /** Bytes of the data files under a directory (parquet parts only). */
  def dirBytes(path: String): Long = {
    val fs = Option(new File(path).listFiles).getOrElse(Array.empty[File])
    fs.filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")).map(_.length).sum +
      fs.filter(_.isDirectory).map(d => dirBytes(d.getPath)).sum
  }
  def dirFiles(path: String): Int =
    Option(new File(path).listFiles).getOrElse(Array.empty[File])
      .count(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Host steal time in ms from /proc/stat (USER_HZ = 100). */
  def stealMs: Double = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+")
      if (f.length > 8) f(8).toDouble * 10.0 else 0.0
    } finally src.close()
  }

  /** Driver JVM peak resident set (VmHWM), MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def percentile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)
}

/** Minimal JSON rendering of maps, sequences, strings and numbers. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + esc(s) + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case p: Product => apply(p.productIterator.toSeq)
    case other => apply(other.toString)
  }
}

/** The benchmark process: one workload, one seed, one run.
  *
  * Usage: graftbench.Main <workload> <seed> <seconds> <trace 0|1> <tmpDir> <recordFile> <spansFile>
  *
  * Writes one JSON record (environment, end-to-end metrics, per-layer
  * metrics, failures, raw samples) to `recordFile`; with tracing, the
  * spans go to `spansFile`. */
object Main {
  val Workloads = Seq("kv_mixed", "batch_analytics")
  /** The input layout (the snapshot writes) is repeated this many times
    * per run and set-up time counts its median once. */
  val LayoutReps = 3
  val WarmupThreads = 4
  val ModuleLayers = Seq("agg", "analytics", "core", "dedup", "sim", "text", "pipeline")
  val SelfLayers = Seq("kv.build", "filters.parse", "core.load", "core.commit", "spark.analysis",
    "spark.optimization", "spark.planning", "spark.job")

  def session(n: Int, tmp: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("graftbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, tmp, recordFile, spansFile) = args
    require(Workloads.contains(workload), s"unknown workload $workload (have ${Workloads.mkString(", ")})")
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val entryMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val entryNs = System.nanoTime() - (System.currentTimeMillis() - entryMs) * 1000000L
    val n = math.min(Runtime.getRuntime.availableProcessors, 4)
    val spark = session(n, tmp)
    val sessionNs = System.nanoTime()
    var warmupNs = 0L
    val tr = new Tracer(spark, trace)
    val res = new Results
    val layoutS = ArrayBuffer.empty[Double]
    def timeLayout(f: (String, Int) => Unit): Unit = for (i <- 1 to LayoutReps) {
      val t = System.nanoTime(); f(s"$tmp/in", i); layoutS += (System.nanoTime() - t) / 1e9
    }

    var steal0 = 0.0
    var timedS = 0.0
    var firstTimedNs = 0L
    def startTimed(): Unit = {
      tr.startTimed(); firstTimedNs = System.nanoTime(); steal0 = Env.stealMs
    }
    def elapsedS(): Double = (System.nanoTime() - firstTimedNs) / 1e9
    var extra = Map.empty[String, Any]

    workload match {
      case "kv_mixed" =>
        val kv = new KvWorkload(spark, seed, tr, res)
        kv.generate(s"$tmp/in")
        timeLayout(kv.layout)
        kv.setup()
        warmupNs = System.nanoTime()
        new Gen.OpStream(seed, Gen.warmupSeed(seed), warmup = true).nextBlock()
          .foreach(kv.run(_, timed = false))
        val stream = new Gen.OpStream(seed, Gen.timedSeed(seed), warmup = false, firstWrite = 1)
        startTimed()
        // op after op until the time is up, but at least one whole block
        var b0 = firstTimedNs
        while (res.timedOps < Gen.BlockSize || elapsedS() < seconds) {
          kv.run(stream.next(), timed = true); res.timedOps += 1
          if (res.timedOps % Gen.BlockSize == 0) {
            val t = System.nanoTime(); res.passS += (t - b0) / 1e9; b0 = t
          }
        }
        timedS = (System.nanoTime() - firstTimedNs) / 1e9
        kv.finalCheck()
        extra = Map("versions_committed" -> kv.versions)
      case _ =>
        val w = new BatchWorkload(spark, seed, tr, res)
        w.generate(s"$tmp/in")
        timeLayout(w.layout)
        warmupNs = System.nanoTime()
        val timedP = Gen.batchParams(Gen.timedSeed(seed))
        val refs = w.warmupAndReferences(Gen.batchParams(Gen.warmupSeed(seed)), timedP, WarmupThreads)
        val expect = mutable.Map.empty[String, Digest]
        val jobs = w.jobs(timedP)
        startTimed()
        // job after job until the time is up, but at least one whole pass
        var b0 = firstTimedNs
        while (res.timedOps < jobs.size || elapsedS() < seconds) {
          w.runTimed(jobs((res.timedOps % jobs.size).toInt), refs, expect); res.timedOps += 1
          if (res.timedOps % jobs.size == 0) {
            val t = System.nanoTime(); res.passS += (t - b0) / 1e9; b0 = t
          }
        }
        timedS = (System.nanoTime() - firstTimedNs) / 1e9
        extra = Map("digests" -> expect.map { case (k, v) => k -> v.toString })
    }
    val stealMs = Env.stealMs - steal0
    val setupS = (firstTimedNs - entryNs) / 1e9 - layoutS.sum + Env.median(layoutS.toSeq)

    // Summaries that a burst of host contention moves little: medians
    // per op key, and the writes weighted evenly over their keys, so that
    // the mix of write kinds a run reached does not move them. A pass is
    // composed of these: the kv block mix, or each batch job once.
    val readKeys = res.ops.filterNot(_.write).map(_.key).distinct
    val writeKeys = res.ops.filter(_.write).map(_.key).distinct
    val mix = Gen.BlockMix.toMap
    def summary(v: OpSample => Double): (Double, Double, Double) = {
      val med = res.ops.groupBy(_.key).map { case (k, xs) => k -> Env.median(xs.map(v).toSeq) }
      val write = if (writeKeys.isEmpty) Double.NaN else writeKeys.map(med).sum / writeKeys.size
      val pass =
        if (workload == "kv_mixed")
          Gen.Classes.map(c => mix(c) * (if (c == "write") write else med.getOrElse(c, Double.NaN))).sum
        else readKeys.map(med).sum + writeKeys.size * write
      (Env.median(res.ops.filterNot(_.write).map(v).toSeq), write, pass / 1000.0)
    }
    val (readCpu, writeCpu, passCpu) = summary(_.cpuMs)
    val (readWall, writeWall, passWall) = summary(_.wallMs)
    val e2e = Map(
      "setup_s" -> setupS,
      "read_cpu_ms" -> readCpu,
      "write_cpu_ms" -> writeCpu,
      "pass_cpu_s" -> passCpu,
      "write_amp" -> res.writeAmp,
      "peak_rss_mb" -> Env.peakRssMb)
    val wall = Map("read_p50_ms" -> readWall, "write_ms" -> writeWall, "pass_s" -> passWall)
    val passes = res.timedOps.toDouble / (if (workload == "kv_mixed") Gen.BlockSize else readKeys.size + writeKeys.size)
    val layers = if (trace) perLayer(tr, n, passes, timedS, stealMs) ++ wall else Map.empty[String, Double]
    val classTable = if (trace) selfTable(tr) else Map.empty[String, Map[String, Double]]

    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.serializer") ||
        k == "spark.ui.enabled" }
    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "env" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors, "local_n" -> n,
        "spark_version" -> spark.version,
        "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
        "session_confs" -> confs.toSeq.sortBy(_._1).toMap,
        "timed_s" -> timedS, "steal_ms_timed" -> stealMs),
      "attempted" -> res.attempted, "failed" -> res.failures.size,
      "error_rate" -> res.failures.size.toDouble / math.max(1L, res.attempted),
      "failures" -> res.failures.take(50).map { case (w, m) => Map("op" -> w, "error" -> m) },
      "metrics" -> e2e, "layers" -> layers, "class_self_ms" -> classTable,
      "secondary" -> (wall ++ Map("ops_per_s" -> res.timedOps / timedS,
        "pass_wall_s" -> Env.median(res.passS.toSeq))),
      "samples" -> Map("ops" -> res.ops, "pass_s" -> res.passS,
        "layout_s" -> layoutS, "timed_ops" -> res.timedOps,
        "setup_parts_s" -> Map("session" -> (sessionNs - entryNs) / 1e9,
          "prepare" -> ((warmupNs - sessionNs) / 1e9 - layoutS.sum),
          "warmup" -> (firstTimedNs - warmupNs) / 1e9)),
      "extra" -> extra)
    val pw = new java.io.PrintWriter(recordFile, "UTF-8")
    try pw.println(Json(record)) finally pw.close()
    if (trace) {
      val sw = new java.io.PrintWriter(spansFile, "UTF-8")
      try tr.spans.foreach(s => sw.println(Json(Map("op" -> s.op, "layer" -> s.layer,
        "start_ns" -> (s.start - entryNs), "end_ns" -> (s.end - entryNs), "attrs" -> s.attrs))))
      finally sw.close()
    }
    tr.close()
    spark.stop()
  }

  /** Per-layer metrics of the timed phase, normalized per pass (a kv
    * pass is one block of [[Gen.BlockSize]] ops) or, for the
    * `<class>.` metrics, per kv op of that class. */
  def perLayer(tr: Tracer, n: Int, passes: Double, timedS: Double, stealMs: Double): Map[String, Double] = {
    val ops = tr.ops.toSeq
    def selfMs(l: String, os: Seq[OpRec]) = os.map(_.self.getOrElse(l, 0L)).sum / 1e6
    def cnt(k: String, os: Seq[OpRec]) = os.map(_.counts.getOrElse(k, 0.0)).sum
    val pp = math.max(passes, 1e-9)
    val g = mutable.LinkedHashMap.empty[String, Double]
    g("wall_ms") = ops.map(_.wallNs).sum / 1e6 / pp
    g("remainder_ms") = selfMs("remainder", ops) / pp
    for (l <- SelfLayers) g(s"${l}_ms") = selfMs(l, ops) / pp
    for (m <- ModuleLayers) {
      g(s"$m.build_ms") = selfMs(s"$m.build", ops) / pp
      if (m != "core") g(s"$m.wall_s") = ops.filter(_.module == m).map(_.wallNs).sum / 1e9 / pp
    }
    val commits = tr.ops.filter(_.self.contains("core.commit")).toSeq
    g("core.commit_mb") = commits.map(_.counts.getOrElse("commit_bytes", 0.0)).sum / 1048576.0 / pp
    g("core.commit_files") = commits.map(_.counts.getOrElse("commit_files", 0.0)).sum / pp
    for (k <- Seq("spark.codegen_compiles", "spark.jobs", "spark.stages", "spark.tasks",
      "spark.sched_wait_ms", "exec.run_ms", "exec.cpu_ms", "scan.rows_read", "scan.files_read", "jvm.gc_ms"))
      g(k) = cnt(k, ops) / pp
    g("exec.busy_ratio") = cnt("exec.run_ms", ops) / 1000.0 / math.max(timedS * n, 1e-9)
    g("scan.rows_per_result") = cnt("scan.rows_read", ops) / math.max(cnt("result_rows", ops), 1.0)
    g("shuffle.read_mb") = cnt("shuffle.read_b", ops) / 1048576.0 / pp
    g("shuffle.write_mb") = cnt("shuffle.write_b", ops) / 1048576.0 / pp
    g("spill_mb") = cnt("spill_b", ops) / 1048576.0 / pp
    g("host.steal_ms") = stealMs / pp
    for (c <- Gen.Classes) {
      val os = ops.filter(_.name == c)
      val k = math.max(os.size, 1).toDouble
      g(s"$c.wall_ms") = os.map(_.wallNs).sum / 1e6 / k
      g(s"$c.remainder_ms") = selfMs("remainder", os) / k
      for (l <- Seq("kv.build", "core.load", "spark.analysis", "spark.optimization", "spark.planning", "spark.job"))
        g(s"$c.${l}_ms") = selfMs(l, os) / k
      g(s"$c.spark.codegen_compiles") = cnt("spark.codegen_compiles", os) / k
      g(s"$c.spark.jobs") = cnt("spark.jobs", os) / k
      g(s"$c.scan.rows_per_result") = cnt("scan.rows_read", os) / math.max(cnt("result_rows", os), 1.0)
    }
    g.toMap
  }

  /** Mean self time per op, by kv class (or batch job), over every layer
    * seen, with the wall time the self times must add up to. */
  def selfTable(tr: Tracer): Map[String, Map[String, Double]] =
    tr.ops.toSeq.groupBy(_.name).map { case (name, os) =>
      val layers = os.flatMap(_.self.keys).distinct
      name -> (layers.map(l => l -> os.map(_.self.getOrElse(l, 0L)).sum / 1e6 / os.size).toMap ++
        Map("wall" -> os.map(_.wallNs).sum / 1e6 / os.size, "ops" -> os.size.toDouble))
    }
}
