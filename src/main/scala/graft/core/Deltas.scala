package graft.core

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, Distinct, Filter, LocalRelation, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ParquetBridge, PlanBridge, SessionBridge}
import org.apache.spark.sql.types._

/** One row-level mutation of `base`, as HBase applies a batch: every
  * key of `keys` loses its current row, and each row of `rows` becomes
  * its key's current row. `child` is the same mutation as a plan (base
  * anti-join keys, union rows), and it is all Spark ever runs:
  * [[ExpandMergeDelta]] replaces the node with it at the start of
  * operator optimization, so, like [[Pin]], the node costs nothing and
  * changes no plan. `base`, `keys` and `rows` are the analyzed inputs,
  * kept beside the plan rather than in it, for [[Snapshots.write]]: a
  * node over a snapshot read commits as a delta ([[Deltas.commit]]),
  * which evaluates `keys` and `rows` instead of the whole table.
  *
  * The ops that build it keep two invariants: `rows` holds at most one
  * row per key and no NULL key, and each key of `rows` is in `keys` or
  * has no row in `base`. */
private[graft] case class MergeDelta(child: LogicalPlan, keyCol: String, base: LogicalPlan,
                      keys: Option[LogicalPlan], rows: Option[LogicalPlan]) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): MergeDelta =
    copy(child = newChild)
}

private[graft] object MergeDelta {
  /** `base` anti-join `keys` (on `keyCol`), union `rows` by name, as a
    * [[MergeDelta]]. A session without [[graft.GraftExtensions]] gets
    * the plain plan: nothing there would expand the node. */
  def of(base: DataFrame, keys: Option[DataFrame], rows: Option[DataFrame],
         keyCol: String): DataFrame = {
    val anti = keys.fold(base)(base.join(_, Seq(keyCol), "left_anti"))
    val merged = rows.fold(anti)(anti.unionByName(_))
    val spark = base.sparkSession
    if (!SessionBridge.hasOptimizerRule(spark, ExpandMergeDelta)) merged
    else PlanBridge.ofRows(spark, MergeDelta(merged.queryExecution.analyzed, keyCol,
      base.queryExecution.analyzed, keys.map(_.queryExecution.analyzed),
      rows.map(_.queryExecution.analyzed)))
  }
}

/** A batch of client rows: a DataFrame whose optimized plan is a
  * `LocalRelation`, as every `createDataFrame`/`toDF` batch of driver
  * rows is. Its rows are already on the driver, so reading them starts
  * no Spark job; `Mutations` validates, key-joins and CAS-checks such a
  * batch there, and [[Deltas.commit]] reads it without a job. */
private[graft] object ClientRows {
  def unapply(df: DataFrame): Option[LocalRelation] = df.queryExecution.optimizedPlan match {
    case l: LocalRelation if !l.isStreaming => Some(l)
    case _ => None
  }
}

/** Replaces every [[MergeDelta]] with its plan. */
private[graft] object ExpandMergeDelta extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp { case m: MergeDelta => m.child }
}

/** The sorted keys of one delta version. Equal by `tag` (the version
  * dir and its base's stamp), so two reads of one version are the same
  * relation to `sameResult`; prints as its size, not its keys. */
private[graft] final class DeltaKeys(val sorted: Array[Long], val tag: String) extends Serializable {
  def contains(v: Long): Boolean = java.util.Arrays.binarySearch(sorted, v) >= 0
  override def equals(o: Any): Boolean = o match {
    case d: DeltaKeys => d.tag == tag
    case _ => false
  }
  override def hashCode: Int = tag.hashCode
  override def toString: String = s"${sorted.length} delta keys"
}

/** The visibility filter of a delta version's one relation: a delta
  * row (`op` non-NULL) is visible when it is a put, a base row (`op`
  * NULL, the column is absent from base files) when its key is not in
  * the delta. A NULL-key base row is visible, as the anti-join keeps
  * it. The key set is a codegen reference, so the generated code does
  * not depend on the version. */
private[graft] case class DeltaVisible(key: Expression, op: Expression, keys: DeltaKeys)
    extends BinaryExpression {
  override def left: Expression = key
  override def right: Expression = op
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "delta_visible"
  override def eval(input: InternalRow): Any = {
    val o = op.eval(input)
    if (o != null) o else {
      val k = key.eval(input)
      k == null || !keys.contains(k.asInstanceOf[Number].longValue)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("deltaKeys", keys)
    val k = key.genCode(ctx)
    val o = op.genCode(ctx)
    ev.copy(code = code"""
      |${o.code}
      |boolean ${ev.value} = ${o.value};
      |if (${o.isNull}) {
      |  ${k.code}
      |  ${ev.value} = ${k.isNull} || !$ref.contains((long) ${k.value});
      |}""".stripMargin, isNull = FalseLiteral)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DeltaVisible =
    copy(key = l, op = r)
}

/** What a delta version's relation carries beyond its files: its dir,
  * its base version's dir and version, the key column and delta keys,
  * and the delta file. */
private[graft] final case class DeltaInfo(dir: Path, baseDir: String, baseVersion: Int,
                                          keyCol: String, keys: DeltaKeys, file: Path)

/** Merge-on-read snapshot versions, after HBase's memstore flush plus
  * compaction. A commit of a [[MergeDelta]] over version u of a
  * snapshot writes version v as a DELTA: one sorted parquet file
  * holding every row changed since the last full version b (a put row,
  * or a tombstone for a removed key), with an [[OpCol]] column that
  * says which, plus a marker file `_graft_delta_of_v<b>` holding the
  * key column, b's stamp at commit and the sorted delta keys. Each
  * delta is cumulative over b, so a read merges two layers, never a
  * chain. Past [[maxKeys]] the commit compacts: it writes v in full,
  * and the next delta starts over v.
  *
  * A delta version resolves, with no Spark job, to one relation over
  * b's region files plus the delta file, under one [[DeltaVisible]]
  * filter; b's footers come from its memo'd read, so only the delta's
  * footer is new. The delta file's region admits only its own keys to
  * `=`/`In`, and every base file's region only the keys outside the
  * delta, so a Get opens one file as on a full version. */
private[graft] object Deltas {
  val OpCol = "_graft_op"
  val Marker = "_graft_delta_of_v"
  private val Part = "_graft_part"

  /** The delta bound, in keys, over a base of `baseRows` rows: 1/16 of
    * its footer row count, so a read scans at most 1/16 more rows than
    * the base, and never more than 2^20 keys, so the key set each read
    * holds on the driver stays small at any table size. */
  def maxKeys(baseRows: Long): Long = math.min(baseRows / 16, 1L << 20)

  /** The base version named by a version dir's marker, if it is a delta. */
  def baseOf(files: Seq[FileStatus]): Option[Int] =
    files.map(_.getPath.getName).collectFirst {
      case n if n.startsWith(Marker) => n.drop(Marker.length).toInt
    }

  def baseDir(deltaDir: String, b: Int): String =
    Snapshots.path(new Path(deltaDir).getParent.toString, b)

  /** The stamp of delta version `path`'s base `b`; a missing base fails
    * naming the delta version, the base and the cause. */
  def baseStamp(spark: SparkSession, what: String, path: String, b: Int): String = {
    val dir = baseDir(path, b)
    try Tables.listStamp(spark, what, dir)._1 catch {
      case e: IllegalArgumentException if e.getCause.isInstanceOf[java.io.FileNotFoundException] =>
        throw new IllegalStateException(s"$what: delta version $path reads base version " +
          s"$dir, which is missing (deleted after the delta was committed)", e)
    }
  }

  private final case class Meta(keyCol: String, baseStamp: String, keys: Array[Long])

  private def writeMeta(fs: FileSystem, dir: Path, b: Int, m: Meta): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      fs.create(new Path(dir, s"$Marker$b"), true)))
    try {
      out.writeUTF(m.keyCol)
      out.writeUTF(m.baseStamp)
      out.writeInt(m.keys.length)
      m.keys.foreach(out.writeLong)
    } finally out.close()
  }

  private def readMeta(fs: FileSystem, file: Path): Meta = {
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(fs.open(file)))
    try {
      val keyCol = in.readUTF()
      val stamp = in.readUTF()
      Meta(keyCol, stamp, Array.fill(in.readInt())(in.readLong()))
    } finally in.close()
  }

  /** The relation of delta version `path` over base version `b` (see
    * the object doc). Fails, naming the version, when its base was
    * rewritten since the commit, or when the dir is not one delta file
    * over a full base of the same columns. */
  @annotation.nowarn("cat=deprecation")
  def resolve(spark: SparkSession, path: String, what: String, b: Int): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    val fs = Tables.fileSystem(spark, dir)
    val bDir = baseDir(path, b)
    val meta = readMeta(fs, new Path(dir, s"$Marker$b"))
    val now = baseStamp(spark, what, path, b)
    if (now != meta.baseStamp) throw new IllegalStateException(
      s"$what: delta version $path reads base version $bDir, which was rewritten " +
        s"after the delta was committed (base stamp ${meta.baseStamp}, now $now)")
    val (_, bh, bIndex) = Region.of(Tables.read(spark, bDir, what))
    if (bIndex.delta.nonEmpty) throw new IllegalStateException(
      s"$what: delta version $path names $bDir as its base, which is itself a delta")
    val listing = new InMemoryFileIndex(spark, bIndex.rootPaths :+ fs.makeQualified(dir),
      Map.empty, None)
    val file = listing.allFiles().filter(f => f.getLen > 0 && !bIndex.regions.contains(f.getPath)) match {
      case Seq(f) => f
      case fs => throw new IllegalStateException(
        s"$what: delta version $path holds ${fs.length} delta files, want 1")
    }
    val footer = try ParquetFileReader.readFooter(conf, file, ParquetMetadataConverter.NO_FILTER)
      catch { case e: Exception => throw new IllegalStateException(
        s"$what: unreadable parquet footer ${file.getPath}", e) }
    val schema = ParquetBridge.dataSchema(spark, file.getPath, footer)
    if (schema != bh.dataSchema.add(OpCol, BooleanType)) throw new IllegalStateException(
      s"$what: delta version $path has columns ${schema.simpleString}, " +
        s"base version $bDir ${bh.dataSchema.simpleString}")
    val keys = new DeltaKeys(meta.keys, s"${fs.makeQualified(dir)}|${meta.baseStamp}")
    def points(member: Boolean) = Some(Region.Points(meta.keyCol, keys, member))
    val regions = bIndex.regions.map { case (p, r) => p -> r.copy(points = points(false)) } +
      (file.getPath -> Region(file, footer, schema).copy(points = points(true)))
    val info = DeltaInfo(fs.makeQualified(dir), bDir, b, meta.keyCol, keys, file.getPath)
    val relation = HadoopFsRelation(new RegionIndex(listing, regions, delta = Some(info)),
      listing.partitionSchema, schema, None, new ParquetFileFormat, Map("path" -> path))(spark)
    PlanBridge.ofRows(spark, visible(LogicalRelation(relation), info))
  }

  /** `lr` under the delta's visibility filter, without [[OpCol]]. */
  def visible(lr: LogicalRelation, info: DeltaInfo): LogicalPlan = {
    val (op, cols) = lr.output.partition(_.name == OpCol)
    val key = cols.find(_.name == info.keyCol).getOrElse(throw new IllegalStateException(
      s"delta version ${info.dir}: no key column ${info.keyCol}"))
    Project(cols, Filter(DeltaVisible(key, op.head, info.keys), lr))
  }

  private def quoted(name: String): Column = col(s"`${name.replace("`", "``")}`")

  /** Commit `df` as version `version` of snapshot `base` as a delta, if
    * it is a chain of [[MergeDelta]]s on `keyCol` over the memo'd read of
    * an earlier version of `base` (full or delta), with an integral key
    * and the same column types throughout. The steps' keys and rows
    * are evaluated against stored state, beside the parent's delta
    * rows: each part that is client rows ([[ClientRows]]), and the
    * parent's delta file, by a Dataset collect of its own, which starts
    * no job (a `LocalTableScan`; one small scan that [[Fetch]] reads
    * in-thread); the parts of table-derived batches by one union
    * collect, one job. The driver folds them, in step order, into the
    * new cumulative delta and writes it, with no further job, as one
    * sorted file plus the marker, all inside `Snapshots.path(base,
    * version)`: no older version changes. A client-row put, deleteRows
    * or mutateRow over a small parent therefore commits with no Spark
    * job. False, with nothing written, when the caller must write the
    * version in full: not such a chain, a NULL or repeated key among a
    * step's rows, or a part or delta past [[maxKeys]] (the
    * compaction). */
  def commit(df: DataFrame, keyCol: String, base: String, version: Int): Boolean = {
    val spark = df.sparkSession
    def unwind(p: LogicalPlan, steps: List[MergeDelta]): (LogicalPlan, List[MergeDelta]) = p match {
      case m: MergeDelta if m.keyCol == keyCol => unwind(m.base, m :: steps)
      case other => (other, steps)
    }
    val (bottom, steps) = unwind(df.queryExecution.analyzed, Nil)
    val parent = if (steps.isEmpty) None else parentRead(spark, bottom, base, version)
    parent.exists { case (p, u) =>
      val schema = p.schema
      val kt = schema.find(_.name == keyCol).map(_.dataType)
      def sameTypes(plan: LogicalPlan, names: Seq[String]): Boolean = names.forall(n =>
        plan.schema.find(_.name == n).map(_.dataType) == schema.find(_.name == n).map(_.dataType))
      kt.exists(Region.integral) && steps.forall(m =>
        m.keys.forall(sameTypes(_, Seq(keyCol))) && m.rows.forall(sameTypes(_, schema.fieldNames.toSeq))) &&
        fold(spark, p, u, Snapshots.path(base, u), steps, keyCol, schema).exists { case (rows, keys, b, bDir) =>
          val out = new Path(Snapshots.path(base, version))
          val fs = Tables.fileSystem(spark, out)
          val bStamp = Tables.listStamp(spark, "Snapshots.write", bDir)._1
          if (fs.exists(out)) fs.delete(out, true)
          fs.mkdirs(out)
          ParquetBridge.writeFile(spark, schema.add(OpCol, BooleanType), rows.iterator, out.toString,
            Map(Layout.PageRowsOption -> Layout.PageRows.toString))
          writeMeta(fs, out, b, Meta(keyCol, bStamp, keys))
          fs.create(new Path(out, "_SUCCESS"), true).close()
          true
        }
    }
  }

  private val VersionDir = "v=(\\d+)".r

  /** The memo'd read of version u < `version` of `base` that `bottom`
    * is, and u. */
  private def parentRead(spark: SparkSession, bottom: LogicalPlan, base: String,
                         version: Int): Option[(DataFrame, Int)] = {
    bottom.collectFirst {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location
    }.collect { case r: RegionIndex => r.delta.fold(r.rootPaths.head)(_.dir) }.flatMap { dir =>
      dir.getName match {
        case VersionDir(u) if u.toInt < version =>
          val p = new Path(Snapshots.path(base, u.toInt))
          val qualified = Tables.fileSystem(spark, p).makeQualified(p)
          if (qualified != dir) None
          else Some(Snapshots.read(spark, base, u.toInt) -> u.toInt)
            .filter(_._1.queryExecution.analyzed eq bottom)
        case _ => None
      }
    }
  }

  /** The new cumulative delta over parent read `p` of version `u` in
    * dir `pDir`: its rows in key order, its sorted keys, and its base
    * version and dir; None past the bound or when a step's rows break
    * the [[MergeDelta]] invariants. */
  private def fold(spark: SparkSession, p: DataFrame, u: Int, pDir: String,
                   steps: List[MergeDelta], keyCol: String, schema: StructType)
      : Option[(Seq[Row], Array[Long], Int, String)] = {
    val (lr, h, index) = Region.of(p)
    val (b, bDir, bRows) = index.delta match {
      case Some(d) => (d.baseVersion, d.baseDir,
        index.regions.collect { case (f, r) if f != d.file => r.rows }.sum)
      case None => (u, pDir, index.regions.values.map(_.rows).sum)
    }
    val cap = maxKeys(bRows)
    val names = schema.fieldNames.toSeq
    // every part as the delta's columns plus OpCol and Part; a
    // tombstone's payload is NULL
    def tombstones(k: DataFrame, part: Int) = k.select(names.map(n =>
      if (n == keyCol) quoted(n) else lit(null).cast(schema(n).dataType).as(n)) :+
      lit(false).as(OpCol) :+ lit(part).as(Part): _*)
    def rows(r: DataFrame, op: Column, part: Int) =
      r.select(names.map(quoted) :+ op.as(OpCol) :+ lit(part).as(Part): _*)
    def ofPlan(plan: LogicalPlan) = PlanBridge.ofRows(spark, plan)
    // the parent's delta file alone, OpCol included
    val parentRows = index.delta.map { d =>
      rows(ofPlan(lr.copy(relation =
        h.copy(location = index.restrict(Set(d.file)))(h.sparkSession)).newInstance()), col(OpCol), 0)
    }
    val stepParts = steps.zipWithIndex.flatMap { case (m, i) =>
      // the fold dedups keys itself, so a Distinct over them is dropped;
      // a put's keys are its rows' keys, which its rows replace anyway
      m.keys.map {
        case Distinct(k) => k
        case Deduplicate(_, k) => k
        case k => k
      }.filter {
        case Project(Seq(a: Attribute), c) => !(a.name == keyCol && m.rows.exists(c.fastEquals))
        case _ => true
      }.map(k => tombstones(ofPlan(k), 2 * i + 1)) ++
        m.rows.map(r => rows(ofPlan(r), lit(true), 2 * i + 2))
    }
    // Client rows (a LocalTableScan) and the parent's delta file (one
    // scan, which Fetch reads in-thread when small) are read one
    // collect each, with no job; parts of table-derived batches in one
    // union collect, one job. At most cap + 1 rows of each part, or of
    // each partition of the union, reach the driver: a part of more
    // than cap rows compacts.
    val (driver, derived) = stepParts.partition(ClientRows.unapply(_).isDefined)
    val n = cap.toInt + 1
    val got = (parentRows.toSeq ++ driver).flatMap(_.limit(n).collect()) ++
      derived.reduceOption(_.unionByName(_)).toSeq.flatMap { u =>
        u.mapPartitions((it: Iterator[Row]) => it.take(n))(Encoders.row(u.schema)).collect()
      }
    val (k, op, part) = (schema.fieldIndex(keyCol), names.length, names.length + 1)
    val byPart = got.groupBy(_.getInt(part))
    if (byPart.values.exists(_.length > cap)) None else {
      val delta = new java.util.TreeMap[java.lang.Long, Row]()
      val seen = scala.collection.mutable.HashSet[(Int, Long)]()
      val ok = byPart.toSeq.sortBy(_._1).forall { case (step, partRows) =>
        partRows.forall { r =>
          r.get(k) match {
            // a NULL key matches no row: a step's keys drop none, its rows may not hold one
            case null => step % 2 == 1
            case key: Number =>
              val kl = key.longValue
              (step % 2 == 1 || step == 0 || seen.add((step, kl))) &&
                { delta.put(kl, Row.fromSeq(r.toSeq.take(op + 1))); true }
          }
        }
      }
      if (!ok || delta.size > cap) None
      else Some((delta.values().asScala.toSeq,
        delta.keySet().toArray.map(_.asInstanceOf[java.lang.Long].longValue), b, bDir))
    }
  }
}
