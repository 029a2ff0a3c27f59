package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, FormattedMode}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import scala.collection.mutable

/** Per-query measurement tool (measurement only; not part of any query
  * path). For each named bench query: one warmup materialization (the
  * Bench discipline), then `--repeat N` timed ones (default 1), each
  * printing WHERE the wall time goes — plan construction and physical
  * planning on the driver, then per job its wall, stage/task counts and
  * executor task time, plus the codegen compiles it paid. At small SF
  * the per-query cost is job/stage latency and planning, not operator
  * work, which wall + task seconds alone cannot see.
  *
  * Then the repeated-scan audit (audits/SCANAUDIT_r9.md): parquet scans
  * per SOURCE in the executed plan, and each scan's pushed filters. A
  * source scanned many times is the Catalyst-shares-nothing-across-
  * consumers waste class: metadata relations under several forks
  * collapse with `Tools.materializeMeta`; per-page scans with pushed
  * point/range predicates are the operation's semantics — leave them.
  *
  * `--plans DIR SUFFIX` also writes the formatted plan to
  * `DIR/<query>_<SUFFIX>.txt` (the `plans/rNN/` artifacts).
  *
  * Usage: runMain graft.Probe [--repeat N] [--plans DIR SUFFIX] <query...>
  * Env: SPARK_GRAFT_SF_DIR (the data dir, required), SPARK_GRAFT_CPUS
  * (default 32).
  */
object Probe extends AdaptiveSparkPlanHelper {
  private final case class Job(id: Int, start: Long, var end: Long = 0L,
                               var stages: Int = 0, var tasks: Int = 0,
                               var taskMs: Long = 0L, var desc: String = "")

  private final class JobLog extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stageToJob = mutable.HashMap[Int, Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val j = Job(e.jobId, e.time)
      j.desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      j.stages = e.stageIds.size
      e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      jobs(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.tasks += si.numTasks
          j.taskMs += si.taskMetrics.executorRunTime
        }
      }
    def reset(): Unit = synchronized { jobs.clear(); stageToJob.clear() }
  }

  private final case class Opts(repeat: Int = 1,
                                plans: Option[(String, String)] = None,
                                names: Vector[String] = Vector.empty)

  @annotation.tailrec
  private def parse(args: List[String], o: Opts): Opts = args match {
    case Nil => o
    case "--repeat" :: n :: t => parse(t, o.copy(repeat = n.toInt))
    case "--plans" :: dir :: suffix :: t => parse(t, o.copy(plans = Some((dir, suffix))))
    case flag :: _ if flag.startsWith("--") =>
      throw new IllegalArgumentException(
        s"Probe: bad option $flag — [--repeat N] [--plans DIR SUFFIX] <query...>")
    case n :: t => parse(t, o.copy(names = o.names :+ n))
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Opts())
    require(opts.repeat >= 1, s"Probe: --repeat ${opts.repeat} < 1")
    val qs = SparkEntry.select(SparkEntry.benchQueries, opts.names, "Probe")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("Probe: set SPARK_GRAFT_SF_DIR to the data dir"))
    val spark = Session.local(Session.cpus(32))
    val log = new JobLog
    spark.sparkContext.addSparkListener(log)
    def drainBus(): Unit = org.apache.spark.sql.graftbridge.ListenerBridge
      .waitUntilEmpty(spark.sparkContext)
    opts.plans.foreach { case (dir, _) => Files.createDirectories(Paths.get(dir)) }
    qs.foreach { case (name, fn) =>
      // match the suite's shape: memo consumers run against prewarmed
      // shared tables (the bench charges those to memo_setup) — the
      // ones this query's warmup built, starting from none
      graft.pipeline.PipelineQueries.resetShared()
      try Bench.materialize(fn(spark, sfDir)) catch { case _: Throwable => () }
      val shared = graft.pipeline.PipelineQueries.builtShared(spark, sfDir)
      graft.pipeline.PipelineQueries.resetShared()
      graft.pipeline.PipelineQueries.prewarmShared(spark, sfDir, shared)
      System.gc(); Thread.sleep(300)
      drainBus()
      val df = (1 to opts.repeat).map { rep =>
        log.reset()
        // the compile COUNT, not the sampled histogram reservoir (whose
        // value sum under-reports once compiles exceed the reservoir)
        val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val e0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tBuild = System.nanoTime()
        // planner cost in isolation: materialize re-plans its own write
        // command at roughly the same cost, so the gap between jobs
        // during materialize ≈ this number when planning dominates
        df.queryExecution.executedPlan
        val tPlan = System.nanoTime()
        Bench.materialize(df)
        val tDone = System.nanoTime()
        drainBus()
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
        val jobs = log.jobs.values.toSeq
        val wall = (tDone - t0) / 1e9
        val build = (tBuild - t0) / 1e9
        val plan = (tPlan - tBuild) / 1e9
        val jobWall = jobs.map(j => math.max(0L, j.end - j.start)).sum / 1e3
        println(f"== $name%s rep=$rep%d/${opts.repeat}%d wall=$wall%.3f " +
          f"build=$build%.3f plan=$plan%.3f jobs=${jobs.size}%d " +
          f"jobWall=$jobWall%.3f gapWall=${wall - build - plan - jobWall}%.3f " +
          f"compiles=$compiles%d")
        jobs.foreach { j =>
          println(f"   job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3fs " +
            f"@${(j.start - e0) / 1e3}%7.3f " +
            f"stages=${j.stages}%3d tasks=${j.tasks}%4d " +
            f"taskSec=${j.taskMs / 1e3}%8.3f  ${j.desc.take(60)}%s")
        }
        df
      }.last
      val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: FileSourceScanExec =>
          (s.relation.location.rootPaths.map(p => srcKey(p.toString)),
            s.metadata.getOrElse("PushedFilters", "[]"))
      }
      scans.flatMap(_._1).groupBy(identity).toSeq
        .sortBy { case (src, n) => (-n.size, src) }
        .foreach { case (src, n) => println(f"   scans $src%-28s x${n.size}%d") }
      scans.foreach { case (srcs, pushed) =>
        println(s"   scan ${srcs.mkString(",")} PushedFilters: $pushed") }
      opts.plans.foreach { case (dir, suffix) =>
        val path = Paths.get(dir, s"${name}_$suffix.txt")
        Files.writeString(path, df.queryExecution.explainString(FormattedMode))
        println(s"   plan written to $path")
      }
    }
    spark.stop()
  }

  /** Scan-source key: the basename, PARENT-qualified when the basename
    * is a generic layout segment (v=N version dirs) — two snapshot
    * bases both reading v=1 would otherwise merge into one source and
    * fake a re-scan. */
  private def srcKey(path: String): String = {
    val parts = path.split("/").filter(_.nonEmpty)
    val base = parts.last
    if (base.matches("v=\\d+") && parts.length >= 2)
      parts(parts.length - 2) + "/" + base
    else base
  }
}
