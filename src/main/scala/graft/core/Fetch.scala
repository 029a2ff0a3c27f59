package graft.core

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.google.common.collect.{Ordering => GuavaOrdering}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftbridge.FetchBridge

/** The physical rule that lets a small read skip the scheduler: it
  * wraps a root plan in [[FetchExec]] when the plan is nothing but
  * `ProjectExec`/`FilterExec`/`ColumnarToRowExec` over one
  * `FileSourceScanExec`, with no exchange and no subquery, or such a
  * pipeline under a `TakeOrderedAndProjectExec` (`Scans.small`,
  * `closestRowBefore`) or a `CollectLimitExec` (`head`, `take`).
  *
  * HBase serves a Get as one RPC to the region that holds the row; it
  * never starts a MapReduce job. Hive's fetch-task conversion and
  * Spark 1.x's `spark.localExecution.enabled` ran tiny reads on the
  * client thread for the same reason: after region pruning a kv read
  * opens one or two small files, and the job around them (closure
  * cleaning, submission, the task round trip) cost more than the read.
  *
  * Runs after the columnar transitions, before CollapseCodegenStages,
  * so the pipeline under the wrapper is still whole-stage codegen'd. */
object Fetch extends ColumnarRule {

  /** The most file bytes a read may select and still run in-thread:
    * 2 MB. In-thread partitions run one after another, where a job runs
    * them in parallel, so the in-thread collect's lead (no job, ~23 ms
    * of wall on a one-partition Get) shrinks as a multi-partition read
    * decodes more. On kv_mixed traffic, each qualifying collect sent
    * down one path or the other at random (audits/fetch_crossover.md),
    * in-thread won at every size up to 2.25 MB, tied at 2.25–2.5 MB and
    * lost past 2.5 MB (whole-table small scans: 206 vs 120 ms). kv
    * region files are ~0.3 MB, so a Get, a range over a few regions and
    * most multiGets and small scans stay under the bound. */
  val MaxBytes: Long = 2L << 20

  /** The most partitions a read may have and still run in-thread: 4,
    * the widest kv_mixed read under [[MaxBytes]] on 4 cores, and the
    * widest the in-thread path was measured to win at. Wider reads are
    * left to a job's parallel tasks. */
  val MaxPartitions: Int = 4

  /** The scan under `p` when `p` is a Project/Filter/ColumnarToRow
    * pipeline over one file scan with no subquery anywhere; once
    * CollapseCodegenStages has run, inside its codegen stage. */
  private[core] def pipelineScan(p: SparkPlan): Option[FileSourceScanExec] =
    if (p.subqueries.nonEmpty) None
    else p match {
      case s: FileSourceScanExec => Some(s)
      case _: ProjectExec | _: FilterExec | _: ColumnarToRowExec |
           _: WholeStageCodegenExec | _: InputAdapter => pipelineScan(p.children.head)
      case _ => None
    }

  private object WrapRoot extends Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = plan match {
      case t: TakeOrderedAndProjectExec if pipelineScan(t.child).isDefined => FetchExec(t)
      case c: CollectLimitExec if pipelineScan(c.child).isDefined => FetchExec(c)
      case p if pipelineScan(p).isDefined => FetchExec(p)
      case other => other
    }
  }

  override def postColumnarTransitions: Rule[SparkPlan] = WrapRoot
}

/** A root that collects on the calling thread when its read is small.
  *
  * `executeCollect` runs the pipeline's partitions in-thread, one task
  * context each ([[FetchBridge.runPartition]]), when the scan's
  * selected files total at most [[Fetch.MaxBytes]] in at most
  * [[Fetch.MaxPartitions]] partitions. Larger reads, Gets on big region
  * files included, take Spark's normal collect, a job. Either way the
  * pipeline's RDD is built once, and the read runs Spark's compiled
  * pipeline, vectorized reader, page-index pruning and SQL metrics;
  * only the scheduler hop goes. Under `TakeOrderedAndProjectExec` the driver keeps the first
  * `limit` rows by the sort order, as `RDD.takeOrdered` does; under
  * `CollectLimitExec` it reads partitions in order until `limit` rows,
  * as `executeTake` does. Everything else passes through to `child`.
  *
  * In-thread tasks add to the plan's own SQL metrics, where a job's
  * tasks add to copies that the scheduler merges; what a read added is
  * then posted to its SQL execution, as a job's task-end updates are,
  * for the status store and UI. Each Dataset action resets its plan's
  * metrics first, so metric values of one Dataset collected from two
  * threads at once are undefined on either path; the rows are not. */
case class FetchExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = child.execute()
  override def executeTake(n: Int): Array[InternalRow] = child.executeTake(n)
  override def executeTail(n: Int): Array[InternalRow] = child.executeTail(n)
  override def executeToIterator(): Iterator[InternalRow] = child.executeToIterator()

  override def executeCollect(): Array[InternalRow] = executeQuery {
    child match {
      case t: TakeOrderedAndProjectExec if inThread(t.child) => fetched {
        val least = GuavaOrdering.from[InternalRow](new LazilyGeneratedOrdering(t.sortOrder, t.child.output))
        val tops = eachPartition(t.child.execute())(it => least.leastOf(it.asJava, t.limit).asScala)
        val rows = least.leastOf(tops.asJava, t.limit).asScala.drop(t.offset).toArray
        if (t.projectList == t.child.output) rows
        else {
          val proj = UnsafeProjection.create(t.projectList, t.child.output)
          proj.initialize(0)
          rows.map(r => proj(r).copy())
        }
      }
      case c: CollectLimitExec if inThread(c.child) => fetched {
        eachPartition(c.child.execute(), if (c.limit < 0) Int.MaxValue else c.limit)(_.toSeq)
          .drop(c.offset).toArray
      }
      case p if inThread(p) => fetched(eachPartition(p.execute())(_.toSeq).toArray)
      case p => p.executeCollect()
    }
  }

  /** Whether `p`'s read is small enough to run on this thread, and this
    * thread is not already inside a task. The scan's input RDD is built
    * once per plan; the pipeline over it keeps its partitions. */
  private def inThread(p: SparkPlan): Boolean =
    org.apache.spark.TaskContext.get() == null && Fetch.pipelineScan(p).exists { s =>
      s.selectedPartitions.totalFileSize <= Fetch.MaxBytes &&
        s.inputRDD.partitions.length <= Fetch.MaxPartitions
    }

  /** `read`; then what it added to the plan's SQL metrics is posted to
    * the current SQL execution. Driver-side scan metrics were set and
    * posted when the scan listed its files, before `read` starts. */
  private def fetched(read: => Array[InternalRow]): Array[InternalRow] = {
    val metrics = child.collect { case p => p.metrics.values }.flatten
    val before = metrics.map(m => math.max(m.value, 0L))
    val rows = read
    val added = metrics.zip(before).collect { case (m, b) if m.value > b => (m.id, m.value - b) }
    val execution = sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)
    if (execution != null && added.nonEmpty)
      SQLMetrics.postDriverMetricsUpdatedByValue(sparkContext, execution, added)
    rows
  }

  /** What `f` keeps of each partition's rows (copied), in partition
    * order, each partition run in-thread; at most `upTo` rows are read,
    * and no partition runs once they are. */
  private def eachPartition(rdd: RDD[InternalRow], upTo: Int = Int.MaxValue)(
      f: Iterator[InternalRow] => Iterable[InternalRow]): ArrayBuffer[InternalRow] = {
    val out = ArrayBuffer.empty[InternalRow]
    var i = 0
    while (i < rdd.partitions.length && out.length < upTo) {
      val room = upTo - out.length
      out ++= FetchBridge.runPartition(rdd, i)(it => f(it.take(room).map(_.copy())))
      i += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: SparkPlan): FetchExec = copy(child = newChild)
}
