// Lives in a subpackage of org.apache.spark.sql so it can reach the
// private[sql] Column <-> catalyst Expression converters that Spark 4
// moved behind org.apache.spark.sql.classic.ExpressionUtils. This is
// the standard technique for Spark extension libraries that register
// custom Expressions.
package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eager Column → catalyst conversion. [[expression]] wraps the
    * column's node lazily (ColumnNodeExpression), which only resolves
    * through the Dataset API; a FunctionRegistry builder must hand the
    * analyzer a REAL expression tree (UnresolvedAttribute leaves and
    * all), so the SQL-facade path converts eagerly here. */
  def resolvableExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** `df` as an uncorrelated scalar subquery expression — the shape
    * expressions like BloomFilterMightContain demand for their
    * build-side input (a constant or scalar subquery; a cross-joined
    * attribute is rejected). This is the same materialize-once-then-
    * broadcast-into-the-expression mechanism Spark's own
    * InjectRuntimeFilter rule uses for its runtime bloom filters. */
  def scalarSubquery(df: org.apache.spark.sql.Dataset[_]): Expression =
    org.apache.spark.sql.catalyst.expressions.ScalarSubquery(
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.analyzed)
}

/** Lifecycle for `localCheckpoint` pins. A localCheckpoint materializes
  * the plan into persisted RDD blocks that the ContextCleaner only
  * frees on GC of the RDD object — in a long-lived JVM running many
  * queries (Verify / Bench / a composed pipeline), superseded
  * checkpoints accumulate in the unified memory pool and squeeze every
  * later query's execution memory. Every pin needs a matching
  * [[CheckpointBridge.free]] once it is superseded. */
object CheckpointBridge {
  import org.apache.spark.sql.Dataset
  import org.apache.spark.sql.execution.LogicalRDD

  /** Unpersist the checkpointed RDDs under `df`'s plan (non-blocking).
    * Safe on any DataFrame: plans without a LogicalRDD are a no-op, and
    * unpersisting twice is idempotent. */
  def free(df: Dataset[_]): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed.foreach {
        case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
        case _ => ()
      }
}

/** Session-level access for function registration on a live session
  * (the config-driven path is graft.GraftExtensions; this one serves
  * shells and shared test sessions). */
object SessionBridge {
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  /** The session's stable unique id (private[sql] on the API class) —
    * a safe memo key where identityHashCode can collide after GC. */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  def registerFunction(spark: SparkSession, id: FunctionIdentifier,
                       info: ExpressionInfo,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(id, info, builder)

  /** The managed location the catalog would assign `table` — respects
    * the session's CURRENT database (a hardcoded <warehouse>/<table>
    * guess is wrong outside `default`, e.g. <warehouse>/x.db/<table>). */
  def defaultTablePath(spark: SparkSession, table: String): java.net.URI =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
      .defaultTablePath(org.apache.spark.sql.catalyst.TableIdentifier(table))
}

/** Block-manager visibility for benchmark hygiene: ContextCleaner only
  * releases broadcast/shuffle blocks after a driver GC enqueues their
  * weak refs, and the single cleaner thread then drains them at RPC
  * speed — tens of seconds of block-manager contention for a few
  * hundred queries' worth of backlog. A bench that wants that work
  * OUTSIDE its timed windows needs to see when the drain has actually
  * finished; block counts are that signal (private[spark] API, hence
  * this bridge). */
object CleanerBridge {
  import org.apache.spark.SparkEnv
  import org.apache.spark.storage.{BlockId, BroadcastBlockId, RDDBlockId}

  /** Broadcast + RDD block count across the block managers — the
    * population the cleaner shrinks; two stable consecutive readings
    * after a GC mean the backlog has drained. */
  def managedBlockCount(): Int =
    SparkEnv.get.blockManager.master.getMatchingBlockIds({
      case _: BroadcastBlockId | _: RDDBlockId => true
      case _: BlockId => false
    }, askStorageEndpoints = false).size
}

/** Listener-bus drain for metric attribution: task-end events post
  * asynchronously, so a bench that diffs listener-accumulated counters
  * between queries must flush the bus before each snapshot or a slow
  * consumer bleeds one query's tasks into the next query's window
  * (waitUntilEmpty is private[spark], hence this bridge). Called
  * OUTSIDE the wall-clock timed window — it costs bus-drain time, not
  * query time. */
object ListenerBridge {
  def waitUntilEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}

/** Plan-level access: rebuild a DataFrame from a logical subtree
  * (Dataset.ofRows is private[sql]) — lets a spec EXECUTE the input of
  * a plan fragment, e.g. count the child of an unpartitioned window to
  * prove it is a bounded metadata relation — and ask whether a
  * session's optimizer runs a rule. */
object PlanBridge {
  import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)

  /** Whether the session's optimizer runs `rule` among its
    * extension-injected operator optimization rules. */
  def hasOptimizerRule(spark: org.apache.spark.sql.SparkSession,
      rule: org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]): Boolean =
    spark.asInstanceOf[CSparkSession].sessionState.optimizer.extendedOperatorOptimizationRules.contains(rule)
}

/** JVM-lifetime scratch dirs for graft's build-once registry
  * (graft.core.Indexes.ensure), made by Spark's own `createTempDir`
  * (private[spark]): a fresh `<prefix>-<uuid>` dir under
  * java.io.tmpdir, registered with Spark's shutdown hook, which
  * deletes it when the JVM exits. */
object TempDirBridge {
  def create(prefix: String): String =
    org.apache.spark.util.Utils.createTempDir(namePrefix = prefix).getAbsolutePath
}

/** One RDD partition run on the calling thread as a task of its own
  * (graft.core.FetchExec, the in-thread fetch of a small read): the
  * task setup and teardown `Task.run` and the executor do around
  * `rdd.iterator`, minus the scheduler. Task attempt ids count up from
  * Long.MinValue, so they never meet the scheduler's ids (from 0) or
  * the block manager's negative sentinels (-1, -1024). */
object FetchBridge {
  import java.util.concurrent.atomic.AtomicLong
  import org.apache.spark.{SparkEnv, TaskContext, TaskContextImpl}
  import org.apache.spark.executor.TaskMetrics
  import org.apache.spark.memory.TaskMemoryManager
  import org.apache.spark.rdd.{InputFileBlockHolder, RDD}

  private val attempts = new AtomicLong(Long.MinValue)

  /** `f` over partition `index` of `rdd`, on this thread, inside a task
    * context with that partition id, its own task memory and the
    * thread's local properties (the SQL confs the action propagated),
    * registered with the block manager (a broadcast read takes a block
    * lock in the task's name). On success or failure, the task is
    * marked complete, which closes its readers; then its memory is
    * freed, its block locks are released and the context is unset. */
  def runPartition[T, U](rdd: RDD[T], index: Int)(f: Iterator[T] => U): U = {
    val env = SparkEnv.get
    val attempt = attempts.getAndIncrement()
    val memory = new TaskMemoryManager(env.memoryManager, attempt)
    val ctx = new TaskContextImpl(-1, 0, index, attempt, 0, rdd.partitions.length, memory,
      org.apache.spark.util.Utils.cloneProperties(rdd.sparkContext.getLocalProperties),
      env.metricsSystem, TaskMetrics.empty, 1, Map.empty)
    env.blockManager.registerTask(attempt)
    try {
      TaskContext.setTaskContext(ctx)
      InputFileBlockHolder.initialize()
      val out = try f(rdd.iterator(rdd.partitions(index), ctx)) catch {
        case e: Throwable =>
          try ctx.markTaskFailed(e) catch { case t: Throwable => e.addSuppressed(t) }
          try ctx.markTaskCompleted(Some(e)) catch { case t: Throwable => e.addSuppressed(t) }
          throw e
      }
      ctx.markTaskCompleted(None)
      out
    } finally {
      try {
        memory.cleanUpAllAllocatedMemory()
        env.blockManager.releaseAllLocksForTask(attempt)
      } finally {
        TaskContext.unset()
        InputFileBlockHolder.unset()
      }
    }
  }
}

/** Spark's parquet footer helpers for graft's read memo, which reads
  * each part file's footer once on the driver (graft.core.Tables.read)
  * instead of running Spark's one-task schema-inference job, and its
  * file writer for a delta commit (graft.core.Deltas), whose rows are
  * already on the driver. */
object ParquetBridge {
  import scala.jdk.CollectionConverters._
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.hadoop.Footer
  import org.apache.parquet.hadoop.metadata.ParquetMetadata
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
  import org.apache.spark.sql.types.StructType

  /** The data schema a non-merging `spark.read.parquet` infers from
    * a footer kept as its parquet `schema` and the Spark schema its
    * writer `stored`, if any: the stored one, or else the
    * session-configured conversion of `schema` — then widened to
    * nullable, as DataSource does for every file source. */
  def dataSchema(spark: org.apache.spark.sql.SparkSession, file: Path,
                 schema: org.apache.parquet.schema.MessageType, stored: Option[String]): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, new ParquetMetadata(
      new org.apache.parquet.hadoop.metadata.FileMetaData(schema, stored.map(StoredSchemaKey -> _).toMap.asJava, null),
      java.util.Collections.emptyList())),
      new ParquetToSparkSchemaConverter(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf))
      .asNullable

  /** The footer key under which Spark's writer stores the row schema. */
  def storedSchema(footer: ParquetMetadata): Option[String] =
    Option(footer.getFileMetaData.getKeyValueMetaData.get(StoredSchemaKey))

  private val StoredSchemaKey =
    org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport.SPARK_METADATA_KEY

  /** Write `rows` of `schema`, in order, as one parquet file under the
    * existing dir `dir`, on the driver: the writer a Spark write task
    * runs, with the session's parquet settings plus `options`, and no
    * job. For a few thousand rows already on the driver. Returns the
    * written file. */
  def writeFile(spark: org.apache.spark.sql.SparkSession, schema: StructType,
                rows: Iterator[org.apache.spark.sql.Row], dir: String,
                options: Map[String, String]): Path = {
    import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    val job = Job.getInstance(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConfWithOptions(options))
    val factory = new ParquetFileFormat().prepareWrite(spark, job, options, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val file = new Path(dir, s"part-00000-${java.util.UUID.randomUUID}${factory.getFileExtension(ctx)}")
    val writer = factory.newInstance(file.toString, schema, ctx)
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r => writer.write(toCatalyst(r).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]))
    finally writer.close()
    file
  }
}

/** File indexes for graft.core.Tables.read, built from a listing it
  * already holds instead of listing again. */
object ListingBridge {
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}

  /** An `InMemoryFileIndex` over `roots`, each with the files listed
    * below it, that lists nothing itself: it holds the files Spark's
    * own listing would keep (Spark's hidden-file rule: no name on the
    * way down starts with `_`, a partition dir `_k=v` and `_metadata`
    * files aside, or `.`, and no `._COPYING_` file), so partition
    * discovery runs as usual, and it lists afresh only after a
    * refresh. */
  def fileIndex(spark: org.apache.spark.sql.SparkSession,
                roots: Seq[(Path, Seq[FileStatus])]): InMemoryFileIndex = {
    val leaves = roots.map { case (root, files) => root -> files.filterNot(f =>
      org.apache.spark.util.HadoopFSUtils.shouldFilterOutPath(f.getPath.toString.stripPrefix(root.toString)))
      .toArray }.toMap
    new InMemoryFileIndex(spark, roots.map(_._1), Map.empty, None, new FileStatusCache {
      @volatile private var held = leaves
      override def getLeafFiles(path: Path): Option[Array[FileStatus]] = held.get(path)
      override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
      override def invalidateAll(): Unit = held = Map.empty
    })
  }
}
