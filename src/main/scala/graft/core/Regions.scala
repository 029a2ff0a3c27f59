package graft.core

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnPath, ParquetMetadata}
import org.apache.parquet.schema.{LogicalTypeAnnotation, Type}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.types._

/** One part file as its parquet footer describes it: the file, its row
  * count, and the signed [lo, hi] of each integral column's non-null
  * values. HBase keeps the same per-store-file [firstKey, lastKey] from
  * the HFile trailer and skips every file that cannot hold the row
  * (StoreFile.Reader.passesKeyRangeFilter). A column is absent from
  * `spans` when some row group carries no usable statistics for it;
  * then nothing is known and every predicate on it keeps the file.
  * `points`, in a tiered version's relation ([[Deltas]]), narrows which
  * values of the key column a visible row of the file can hold. */
private[graft] final case class Region(file: FileStatus, rows: Long,
                                       spans: Map[String, Region.Span],
                                       points: Option[Region.Points] = None) {
  import Region._

  /** Whether some row of this file can satisfy every conjunct of
    * `filters`: each one [[mayHold]], and the key-column range they
    * bound together holds a key `points` admits. */
  def mayHoldAll(filters: Seq[Expression]): Boolean =
    filters.forall(mayHold) &&
      points.forall(p => keyRange(filters, p.column).forall { case (lo, hi) => p.admitsRange(lo, hi) })

  /** Whether some row of this file can satisfy `p`. False only when an
    * `=`, `<`, `<=`, `>`, `>=` ([[Bound]]), `In` or `InSet` of an
    * integral column against integral literals, under And/Or, excludes
    * the column's whole span or, on the key column of `points`, admits
    * only single values `points` does not; every other predicate keeps
    * the file. */
  def mayHold(p: Expression): Boolean = p match {
    case And(l, r) => mayHold(l) && mayHold(r)
    case Or(l, r) => mayHold(l) || mayHold(r)
    case Bound(a, lo, hi) => meets(a, lo, hi)
    case In(Col(a), list) if list.forall(Lit.unapply(_).isDefined) =>
      list.flatMap(Lit.unapply).exists(v => meets(a, v, v))
    // InSet holds boxed values of the column's type; a NULL member
    // matches no row
    case InSet(Col(a), set) => set.exists(v => v != null && {
      val l = v.asInstanceOf[Number].longValue
      meets(a, l, l)
    })
    case _ => true
  }

  /** Whether a value of `a` in [lo, hi] can be in this file: it must
    * lie in `a`'s span, and a single value must be one `points` admits;
    * always, when nothing is known of `a`. */
  private def meets(a: AttributeReference, lo: Long, hi: Long): Boolean =
    spans.get(a.name).forall(s => math.max(s.lo, lo) <= math.min(s.hi, hi) &&
      (lo < hi || points.forall(p => p.column != a.name || p.admits(lo))))
}

private[graft] object Region {
  /** The non-null values of one column lie in [lo, hi]; lo > hi when
    * the file holds none (no rows, or every value NULL). */
  final case class Span(lo: Long, hi: Long) {
    def nonEmpty: Boolean = lo <= hi
    def union(o: Span): Span = Span(math.min(lo, o.lo), math.max(hi, o.hi))
  }
  val NoValues: Span = Span(Long.MaxValue, Long.MinValue)

  /** Which values of `column` a visible row of the file can hold. A
    * base file (`visible` None) holds visible rows only for keys in no
    * tier of `keys`, whose other rows the visibility filter hides; a
    * tier file only for `visible`, the sorted put keys whose newest
    * tier it is. */
  final case class Points(column: String, keys: TierKeys, visible: Option[Array[Long]]) {
    def admits(v: Long): Boolean =
      visible.fold(!keys.contains(v))(java.util.Arrays.binarySearch(_, v) >= 0)
    /** Whether a value in [lo, hi] may be visible: always for a base
      * file; for a tier file, when one of its visible keys lies there. */
    def admitsRange(lo: Long, hi: Long): Boolean = visible.forall { vs =>
      val i = java.util.Arrays.binarySearch(vs, lo)
      val at = if (i >= 0) i else -i - 1
      lo <= hi && at < vs.length && vs(at) <= hi
    }
  }

  def integral(t: DataType): Boolean =
    t == ByteType || t == ShortType || t == IntegerType || t == LongType

  private object Lit {
    def unapply(e: Expression): Option[Long] = e match {
      case Literal(v: Number, t) if integral(t) => Some(v.longValue)
      case _ => None
    }
  }

  private object Col {
    def unapply(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference if integral(a.dataType) => Some(a)
      case _ => None
    }
  }

  /** A comparison of an integral column `a` with an integral literal,
    * either side, as (a, lo, hi): the values of `a` that satisfy it are
    * exactly [lo, hi], lo > hi when none does. */
  object Bound {
    // x < v is x <= v - 1, and x > v is x >= v + 1; no value is below
    // Long.MinValue or above Long.MaxValue
    private def below(a: AttributeReference, v: Long) =
      if (v == Long.MinValue) (a, Long.MaxValue, Long.MinValue) else (a, Long.MinValue, v - 1)
    private def above(a: AttributeReference, v: Long) =
      if (v == Long.MaxValue) (a, Long.MaxValue, Long.MinValue) else (a, v + 1, Long.MaxValue)
    def unapply(e: Expression): Option[(AttributeReference, Long, Long)] = e match {
      case EqualTo(Col(a), Lit(v)) => Some((a, v, v))
      case EqualTo(Lit(v), Col(a)) => Some((a, v, v))
      case LessThan(Col(a), Lit(v)) => Some(below(a, v))
      case GreaterThan(Lit(v), Col(a)) => Some(below(a, v))
      case LessThanOrEqual(Col(a), Lit(v)) => Some((a, Long.MinValue, v))
      case GreaterThanOrEqual(Lit(v), Col(a)) => Some((a, Long.MinValue, v))
      case GreaterThan(Col(a), Lit(v)) => Some(above(a, v))
      case LessThan(Lit(v), Col(a)) => Some(above(a, v))
      case GreaterThanOrEqual(Col(a), Lit(v)) => Some((a, v, Long.MaxValue))
      case LessThanOrEqual(Lit(v), Col(a)) => Some((a, v, Long.MaxValue))
      case _ => None
    }
  }

  /** The [lo, hi] that the top-level conjuncts of `filters` bound
    * `column` to, when one of them bounds it; lo > hi when they
    * exclude every value. */
  def keyRange(filters: Seq[Expression], column: String): Option[(Long, Long)] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    filters.flatMap(conjuncts).collect { case Bound(a, lo, hi) if a.name == column => (lo, hi) }
      .reduceOption((x, y) => (math.max(x._1, y._1), math.min(x._2, y._2)))
  }

  /** The region of `file` from its `footer`, with spans for the
    * top-level columns stored as signed INT32/INT64 (no unsigned
    * annotation: their min/max would not order as Spark's signed
    * values do). An integral Spark column gets a span exactly when it
    * is stored so, and no other column's span is ever consulted. */
  def apply(file: FileStatus, footer: ParquetMetadata): Region = {
    val blocks = footer.getBlocks.asScala.toSeq
    val spans = footer.getFileMetaData.getSchema.getFields.asScala.iterator
      .filter(signedInt)
      .flatMap(f => span(blocks, ColumnPath.get(f.getName)).map(f.getName -> _))
      .toMap
    Region(file, blocks.map(_.getRowCount).sum, spans)
  }

  private def signedInt(t: Type): Boolean =
    t.isPrimitive && {
      val p = t.asPrimitiveType
      (p.getPrimitiveTypeName == PrimitiveTypeName.INT32 ||
        p.getPrimitiveTypeName == PrimitiveTypeName.INT64) &&
        (p.getLogicalTypeAnnotation match {
          case null => true
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
          case _ => false
        })
    }

  /** The union of the row groups' [min, max] for `column`; None when a
    * non-empty row group has no statistics for it, or NULL-count-only
    * statistics that do not cover every row. */
  private def span(blocks: Seq[BlockMetaData], column: ColumnPath): Option[Span] =
    blocks.filter(_.getRowCount > 0).foldLeft(Option(NoValues)) { (acc, b) =>
      acc.flatMap { s =>
        b.getColumns.asScala.find(_.getPath == column).map(_.getStatistics).flatMap { st =>
          if (st == null || st.isEmpty) None
          else if (st.hasNonNullValue) Some(s.union(Span(
            st.genericGetMin.asInstanceOf[Number].longValue,
            st.genericGetMax.asInstanceOf[Number].longValue)))
          else if (st.isNumNullsSet && st.getNumNulls == b.getRowCount) Some(s)
          else None
        }
      }
    }

  /** The first region-indexed relation in `plan`, and its index. */
  def in(plan: LogicalPlan): Option[(LogicalRelation, HadoopFsRelation, RegionIndex)] = plan.collectFirst {
    case lr @ LogicalRelation(h @ HadoopFsRelation(r: RegionIndex, _, _, _, _, _), _, _, _, _) => (lr, h, r)
  }

  /** The relation under a [[Tables.read]] result and its index. */
  def of(df: DataFrame): (LogicalRelation, HadoopFsRelation, RegionIndex) =
    in(df.queryExecution.analyzed).getOrElse(throw new IllegalArgumentException(
      "not a region-indexed read: resolve it through Tables.read / Layout.read"))

  /** A fresh relation over the files of the [[Tables.read]] result `df`
    * that `keep` selects — a driver-local view of the same index: no
    * listing, no footer read, and `inputFiles` shrinks to the pick. A
    * delta version's view keeps its visibility filter. */
  def restrict(df: DataFrame, keep: Region => Boolean): DataFrame = {
    val (lr, h, index) = of(df)
    val view = index.restrict(index.regions.collect { case (p, r) if keep(r) => p }.toSet)
    val fresh = lr.copy(relation = h.copy(location = view)(h.sparkSession)).newInstance()
    org.apache.spark.sql.graftbridge.PlanBridge.ofRows(df.sparkSession, Deltas.visible(fresh, view))
  }
}

/** A file index that drops, per scan, every file whose footer key
  * ranges ([[Region.mayHold]]) cannot satisfy the scan's pushed data
  * filters. Listing, partitioning and refresh are `inner`'s; files the
  * footer pass never saw are always kept. It names the version it reads
  * ([[Tables.relation]]): `path`, qualified, listed at `stamp`. `only`,
  * when set, is a fixed file subset (a split pick); `delta` is set on a
  * tiered version's relation. Equality is by root paths, as
  * InMemoryFileIndex's is, so `sameResult` and exchange reuse treat two
  * reads of one path as the same relation. */
private[graft] final class RegionIndex(inner: FileIndex, val regions: Map[Path, Region],
                                       val path: Path, val stamp: String,
                                       val only: Option[Set[Path]] = None,
                                       val delta: Option[DeltaInfo] = None) extends FileIndex {
  override def rootPaths: Seq[Path] = only.fold(inner.rootPaths)(_.toSeq.sortBy(_.toString))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    inner.listFiles(partitionFilters, dataFilters).map(d => d.copy(files = d.files.filter { f =>
      only.forall(_(f.getPath)) &&
        regions.get(f.getPath).forall(_.mayHoldAll(dataFilters))
    }))

  override def inputFiles: Array[String] =
    only.fold(inner.inputFiles)(_.toArray.map(_.toUri.toString).sorted)
  override def refresh(): Unit = inner.refresh()
  override def sizeInBytes: Long =
    only.fold(inner.sizeInBytes)(_.toSeq.flatMap(regions.get).map(_.file.getLen).sum)
  override def partitionSchema: StructType = inner.partitionSchema
  override def metadataOpsTimeNs: Option[Long] = inner.metadataOpsTimeNs

  def restrict(files: Set[Path]): RegionIndex = new RegionIndex(inner, regions, path, stamp, Some(files), delta)

  override def equals(other: Any): Boolean = other match {
    case r: RegionIndex => rootPaths.toSet == r.rootPaths.toSet
    case _ => false
  }
  override def hashCode: Int = rootPaths.toSet.hashCode
}
