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

/** Plan-level access for audits: rebuild a DataFrame from a logical
  * subtree (Dataset.ofRows is private[sql]) — lets a spec EXECUTE the
  * input of a plan fragment, e.g. count the child of an unpartitioned
  * window to prove it is a bounded metadata relation. */
object PlanBridge {
  import org.apache.spark.sql.classic.{Dataset => CDataset, SparkSession => CSparkSession}
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)
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

/** Spark's parquet footer helpers for graft's read memo, which reads
  * each part file's footer once on the driver (graft.core.Tables.read)
  * instead of running Spark's one-task schema-inference job. */
object ParquetBridge {
  import org.apache.hadoop.fs.Path
  import org.apache.parquet.hadoop.Footer
  import org.apache.parquet.hadoop.metadata.ParquetMetadata
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
  import org.apache.spark.sql.types.StructType

  /** The data schema a non-merging `spark.read.parquet` infers from
    * this footer: the Spark schema the writer stored in the footer, or
    * else the session-configured footer conversion — then widened to
    * nullable, as DataSource does for every file source. */
  def dataSchema(spark: org.apache.spark.sql.SparkSession, file: Path,
                 footer: ParquetMetadata): StructType =
    ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf))
      .asNullable
}
