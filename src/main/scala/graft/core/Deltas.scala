package graft.core

import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, Distinct, Filter, LocalRelation, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ListingBridge, ParquetBridge, PlanBridge}
import org.apache.spark.sql.types._

/** One row-level mutation of `base`, as HBase applies a batch: every
  * key of `keys` loses its current row, and each row of `rows` becomes
  * its key's current row. `child` is the same mutation as a plan (base
  * anti-join keys, union rows), and it is all Spark ever runs:
  * [[ExpandMergeDelta]] replaces the node with it at the start of
  * operator optimization, so, like [[Pin]], the node costs nothing and
  * changes no plan. `base`, `keys` and `rows` are the analyzed inputs,
  * kept beside the plan rather than in it, for [[Snapshots.write]]: a
  * node over a snapshot read commits as a tier ([[Deltas.commit]]),
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
    if (!PlanBridge.hasOptimizerRule(spark, ExpandMergeDelta)) merged
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

/** The keys of one tiered version: every key some tier of its chain
  * holds, sorted, with the id of the newest tier that holds it. Equal
  * by `tag` (the version dir and the stamps it was resolved at), so
  * two reads of one version are the same relation to `sameResult`;
  * prints as its size, not its keys. */
private[graft] final class TierKeys(val sorted: Array[Long], val newest: Array[Int],
                                    val tag: String) extends Serializable {
  def contains(v: Long): Boolean = java.util.Arrays.binarySearch(sorted, v) >= 0
  /** The id of the newest tier holding `v`; 0, which no tier has, when none does. */
  def newestOf(v: Long): Int = {
    val i = java.util.Arrays.binarySearch(sorted, v)
    if (i >= 0) newest(i) else 0
  }
  override def equals(o: Any): Boolean = o match {
    case d: TierKeys => d.tag == tag
    case _ => false
  }
  override def hashCode: Int = tag.hashCode
  override def toString: String = s"${sorted.length} tier keys"
}

private[graft] object TierKeys {
  /** The keys of `tiers`, each an id and its sorted keys, oldest
    * first: a newer tier's id wins a key both hold. */
  def of(tiers: Seq[(Int, Array[Long])], tag: String): TierKeys = {
    var keys = Array.emptyLongArray
    var ids = Array.emptyIntArray
    tiers.foreach { case (id, ks) =>
      val ok = new Array[Long](keys.length + ks.length)
      val oi = new Array[Int](ok.length)
      var (i, j, o) = (0, 0, 0)
      while (i < keys.length || j < ks.length) {
        if (j == ks.length || (i < keys.length && keys(i) < ks(j))) {
          ok(o) = keys(i); oi(o) = ids(i); i += 1
        } else {
          if (i < keys.length && keys(i) == ks(j)) i += 1
          ok(o) = ks(j); oi(o) = id; j += 1
        }
        o += 1
      }
      keys = java.util.Arrays.copyOf(ok, o)
      ids = java.util.Arrays.copyOf(oi, o)
    }
    new TierKeys(keys, ids, tag)
  }
}

/** The visibility filter of a tiered version's one relation. A tier
  * row (`op` non-NULL: the tier id, negated for a tombstone) is visible
  * when it is a put and its tier is the newest holding its key; a base
  * row (`op` NULL, the column is absent from base files) when no tier
  * holds its key. A NULL-key base row is visible, as the anti-join
  * keeps it. The keys are a codegen reference, so the generated code
  * does not depend on the version. */
private[graft] case class DeltaVisible(key: Expression, op: Expression, keys: TierKeys)
    extends BinaryExpression {
  override def left: Expression = key
  override def right: Expression = op
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "delta_visible"
  override def eval(input: InternalRow): Any = {
    val o = op.eval(input)
    val k = key.eval(input)
    if (o == null) k == null || !keys.contains(k.asInstanceOf[Number].longValue)
    else {
      val id = o.asInstanceOf[Int]
      id > 0 && k != null && keys.newestOf(k.asInstanceOf[Number].longValue) == id
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tierKeys", keys)
    val k = key.genCode(ctx)
    val o = op.genCode(ctx)
    ev.copy(code = code"""
      |${o.code}
      |${k.code}
      |boolean ${ev.value} = ${o.isNull}
      |  ? ${k.isNull} || !$ref.contains((long) ${k.value})
      |  : ${o.value} > 0 && !${k.isNull} && $ref.newestOf((long) ${k.value}) == ${o.value};""".stripMargin,
      isNull = FalseLiteral)
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DeltaVisible =
    copy(key = l, op = r)
}

/** One tier file of a tiered version's chain: the version dir that
  * holds it (None for a file the committing version is writing), the
  * file, its tier id, its bytes and mtime, and its keys, sorted, each
  * marked put or tombstone. */
private[graft] final case class Tier(version: Option[Int], file: Path, id: Int, bytes: Long,
                                     mtime: Long, keys: Array[Long], puts: Array[Boolean])

/** What a tiered version's relation carries beyond its files and the
  * [[RegionIndex]]'s path and stamp: its base version and the base
  * stamp its check saw, the key column, the tier keys, and its chain of
  * tiers, oldest first. */
private[graft] final case class DeltaInfo(baseVersion: Int, baseStamp: String,
                                          keyCol: String, keys: TierKeys, tiers: Seq[Tier])

/** Merge-on-read snapshot versions, after HBase's memstore flush plus
  * store-file compaction. A commit of a [[MergeDelta]] over version u
  * of a snapshot writes version v as a TIERED version: one new tier, a
  * key-sorted parquet file of the batch's own changed rows (a put row,
  * or a tombstone for a removed key), as HBase flushes a memstore into
  * a new store file. Its [[OpCol]] column holds the tier id, negated
  * for a tombstone. Ids grow by one per commit over a chain, so they
  * order tiers newest-last, and a file keeps its ids when `restore`
  * copies its dir. The version's marker `_graft_delta_of_v<b>` names
  * the last full version b and the CHAIN: every tier the version reads,
  * oldest first, each a file in this dir or in an older version dir of
  * the same snapshot, with its length and mtime at commit. So a newer
  * version reads older version dirs, and rewriting or deleting any of
  * them fails the next read of every version whose chain names it,
  * naming both dirs ([[check]]). The marker also holds the key column,
  * b's stamp, and the keys of this dir's own tier files only, so it
  * grows with the batch, not with the commits since b. It is written
  * under a hidden name and renamed into place just before `_SUCCESS`.
  *
  * After writing its tier, a commit applies HBase's exploring ratio
  * rule ([[select]]) to the chain's tier sizes. When a window of
  * tiers qualifies, a MINOR compaction merges it, newest tier winning a
  * key, into one file in v's dir, under the id of the window's newest
  * tier. A ratio-bound window rewrites each key O(log n) times over n
  * commits. Past [[maxKeys]] tier rows in the chain a MAJOR compaction
  * writes v in full, and the next commit starts a new chain over v.
  *
  * Every read of a tiered version lists its own dir and b's, and stats
  * each chain file in another dir ([[check]]); a read-memo miss then
  * resolves, with no Spark job and no further listing ([[resolve]]), to
  * one relation over b's region files plus the chain's tier files,
  * under one [[DeltaVisible]] filter. b's relation comes from the read
  * memo, and each tier's footer and each marker from the per-file memo
  * ([[Tables.perFile]]), so a new version reads only its own files'
  * footers and its own marker. Every base file's region admits
  * to `=`/`In` only the keys no tier holds, and a tier file's region
  * only the keys whose newest visible put it holds, so a Get opens one
  * file as on a full version; a key range admits a tier file only when
  * one of those keys lies in it.
  *
  * A commit lists no dir and resolves no version: it builds on the read
  * its mutation was given, whose [[RegionIndex]] names the version and
  * the stamp it was read at, and its marker records what that read saw:
  * u's stamp for a full u, else u's base stamp and chain files as u's
  * check found them. So a parent rewritten between its read and the
  * commit fails the new version's first read, naming both dirs, and is
  * never merged silently. */
private[graft] object Deltas {
  val OpCol = "_graft_op"
  val Marker = "_graft_delta_of_v"
  private val Pending = "_graft_pending_marker"
  private val Part = "_graft_part"

  /** The bound on a chain's tier rows over a base of `baseRows` rows:
    * 1/16 of its footer row count, so a read scans at most 1/16 more
    * rows than the base, and never more than 2^20 keys, so the tier
    * keys each read holds on the driver stay small at any table size. */
  def maxKeys(baseRows: Long): Long = math.min(baseRows / 16, 1L << 20)

  /** The exploring rule's window bounds and ratio: HBase's defaults
    * (`hbase.hstore.compaction.min`, `.max`, `.ratio`). */
  val MinTiers = 3
  val MaxTiers = 10
  val Ratio = 1.2

  /** HBase's ExploringCompactionPolicy over seq-ordered file `sizes`:
    * the contiguous window of [[MinTiers]] to [[MaxTiers]] files in
    * which every file is at most [[Ratio]] times the rest of the
    * window, with the most files, then the fewest bytes, then the
    * earliest start, as (start, length); the same pick as
    * [[graft.analytics.Tools.compactionSelect]]. The ratio test is
    * exact decimal arithmetic, as that query's SQL literal is. */
  def window(sizes: Seq[Long]): Option[(Int, Int)] = {
    val r = BigDecimal(Ratio)
    val fits = for {
      len <- MinTiers to MaxTiers
      s <- 0 to sizes.length - len
      w = sizes.slice(s, s + len)
      if w.forall(x => BigDecimal(x) <= r * (w.sum - x))
    } yield (s, len, w.sum)
    fits.minByOption { case (s, len, tot) => (-len, tot, s) }.map { case (s, len, _) => (s, len) }
  }

  /** The tiers a commit merges: the ratio [[window]], or, when the
    * chain holds more than [[MaxTiers]] tiers and no window fits,
    * the [[MaxTiers]] contiguous tiers with the fewest bytes (HBase's
    * selection for a store that might be stuck). */
  def select(sizes: Seq[Long]): Option[(Int, Int)] =
    window(sizes).orElse(
      if (sizes.length <= MaxTiers) None
      else Some((0 to sizes.length - MaxTiers).minBy(s => (sizes.slice(s, s + MaxTiers).sum, s)) -> MaxTiers))

  /** The base version named by a version dir's marker, if it is tiered. */
  def baseOf(files: Seq[FileStatus]): Option[Int] =
    files.map(_.getPath.getName).collectFirst {
      case n if n.startsWith(Marker) => n.drop(Marker.length).toInt
    }

  /** Version dir `w` of the snapshot that holds version dir `dir`. */
  private def sibling(dir: String, w: Int): String =
    Snapshots.path(new Path(dir).getParent.toString, w)

  /** One chain entry of a marker: a tier file, in version dir
    * `version` (None: the marker's own dir), its tier id, and its
    * length and mtime at commit. */
  private[graft] final case class Ref(version: Option[Int], file: String, id: Int, bytes: Long, mtime: Long)
  private[graft] final case class Meta(keyCol: String, baseStamp: String, chain: Seq[Ref],
                                own: Map[String, (Array[Long], Array[Boolean])])

  /** Publish `m` as `dir`'s marker: written under a hidden name, then
    * renamed into place, so a reader sees a whole marker or none. */
  private def writeMeta(fs: FileSystem, dir: Path, b: Int, m: Meta): Unit = {
    val pending = new Path(dir, Pending)
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(fs.create(pending, true)))
    try {
      out.writeUTF(m.keyCol)
      out.writeUTF(m.baseStamp)
      out.writeInt(m.chain.length)
      m.chain.foreach { r =>
        out.writeBoolean(r.version.isDefined)
        r.version.foreach(out.writeInt)
        out.writeUTF(r.file)
        out.writeInt(r.id)
        out.writeLong(r.bytes)
        out.writeLong(r.mtime)
      }
      out.writeInt(m.own.size)
      m.own.foreach { case (file, (keys, puts)) =>
        out.writeUTF(file)
        out.writeInt(keys.length)
        keys.foreach(out.writeLong)
        puts.foreach(out.writeBoolean)
      }
    } finally out.close()
    if (!fs.rename(pending, new Path(dir, s"$Marker$b")))
      throw new java.io.IOException(s"could not publish the marker of $dir")
  }

  /** The marker `f`, read whole; every count in it is checked against
    * the bytes left, so a damaged one fails as corrupt before anything
    * is allocated for it. */
  private def readMeta(fs: FileSystem, what: String, f: FileStatus): Meta = {
    val file = f.getPath
    try {
      val bytes = new Array[Byte](f.getLen.toInt)
      val stream = fs.open(file)
      try stream.readFully(0L, bytes) finally stream.close()
      val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
      // a count of entries that take at least `least` bytes each
      def count(least: Int): Int = {
        val n = in.readInt()
        if (n < 0 || n.toLong * least > in.available()) throw new java.io.IOException(
          s"count $n past the end of the marker")
        n
      }
      val keyCol = in.readUTF()
      val stamp = in.readUTF()
      val chain = Seq.fill(count(23)) {
        val version = if (in.readBoolean()) Some(in.readInt()) else None
        Ref(version, in.readUTF(), in.readInt(), in.readLong(), in.readLong())
      }
      val own = Seq.fill(count(6)) {
        val file = in.readUTF()
        val n = count(9)
        val keys = Array.fill(n)(in.readLong())
        file -> (keys, Array.fill(n)(in.readBoolean()))
      }.toMap
      Meta(keyCol, stamp, chain, own)
    } catch {
      case e: java.io.IOException =>
        val dir = file.getParent
        throw new IllegalStateException(s"$what: table ${dir.getParent}: version dir $dir: " +
          s"marker ${file.getName} is truncated or corrupt; rewrite the version", e)
    }
  }

  /** The `_graft_delta_of_v<b>` marker of version dir `dir`, found as
    * `marker`, through the per-file memo ([[Tables.perFile]]). */
  private def meta(spark: SparkSession, what: String, dir: String, marker: Option[FileStatus],
                   b: Int): Meta = marker match {
    case Some(f) => Tables.perFile(f)(readMeta(Tables.fileSystem(spark, f.getPath), what, f))
    case None => throw new IllegalStateException(
      s"$what: version dir $dir, named by a tiered version's chain, holds no $Marker$b marker")
  }

  /** Tiered version `dir` as [[check]] found it: its marker, base `b`,
    * the base's dir, stamp and listing, and the status of each file the
    * chain may name, by (version dir, None for its own, file name). */
  private[graft] final case class Checked(meta: Meta, b: Int, baseDir: String, baseStamp: String,
                                          baseFiles: Seq[FileStatus], files: Map[(Option[Int], String), FileStatus])

  private def stat(fs: FileSystem, p: Path): Option[FileStatus] =
    try Some(fs.getFileStatus(p)) catch { case _: java.io.FileNotFoundException => None }

  /** The one check of tiered version `path` (listing `files`, base
    * `b`), run by [[Tables.read]] on every read, memo hit or miss: the
    * base must list at the stamp the marker recorded, and not be tiered
    * itself; each tier file the chain names in another version dir must
    * have the length and mtime the marker recorded. A rewrite of the
    * base or of a chain dir replaces those files, so it fails the next
    * read of every version that reads them, naming both dirs. Costs the
    * base listing and one stat per such file. */
  def check(spark: SparkSession, what: String, path: String, files: Seq[FileStatus], b: Int): Checked = {
    val m = meta(spark, what, path, files.find(_.getPath.getName == s"$Marker$b"), b)
    val bDir = sibling(path, b)
    val (now, bFiles) = try Tables.listStamp(spark, what, bDir) catch {
      case e: IllegalArgumentException if e.getCause.isInstanceOf[java.io.FileNotFoundException] =>
        throw missing(what, path, "base version", bDir, e)
    }
    if (now != m.baseStamp) throw new IllegalStateException(
      s"$what: delta version $path reads base version $bDir, which was rewritten " +
        s"after the delta was committed (base stamp ${m.baseStamp}, now $now)")
    if (baseOf(bFiles).nonEmpty) throw new IllegalStateException(
      s"$what: delta version $path names $bDir as its base, which is itself a delta")
    val fs = Tables.fileSystem(spark, new Path(path))
    val others = m.chain.collect { case Ref(Some(w), file, _, bytes, mtime) =>
      val wDir = sibling(path, w)
      val f = stat(fs, new Path(wDir, file))
      if (f.isEmpty && stat(fs, new Path(wDir)).isEmpty) throw missing(what, path, "tier dir", wDir, null)
      val st = f.fold("missing")(f => s"${f.getLen}:${f.getModificationTime}")
      if (st != s"$bytes:$mtime") throw new IllegalStateException(
        s"$what: delta version $path reads tier dir $wDir, which was rewritten " +
          s"after the delta was committed (tier file $file: stamp $bytes:$mtime, now $st)")
      (Some(w), file) -> f.get
    }
    Checked(m, b, bDir, now, bFiles, (files.map(f => (None, f.getPath.getName) -> f) ++ others).toMap)
  }

  private def missing(what: String, path: String, role: String, dir: String,
                      cause: Exception): IllegalStateException =
    new IllegalStateException(s"$what: delta version $path reads $role " +
      s"$dir, which is missing (deleted after the delta was committed)", cause)

  private val VersionDir = "v=(-?\\d+)".r

  /** n, when `dir` is named v=<n>, as a snapshot version dir is. */
  private def versionOf(dir: Path): Option[Int] = dir.getName match {
    case VersionDir(v) => Some(v.toInt)
    case _ => None
  }

  /** The relation of tiered version `path`, listed at `stamp` and
    * checked as `c` (see the object doc): no dir is listed again. The
    * base's relation comes through the read memo from the check's
    * listing, each tier's footer through [[Tables.footer]], and
    * the file index is built from the listings in hand. Fails, naming
    * the version, when it is not tier files over a full base of the
    * same columns. */
  def resolve(spark: SparkSession, path: String, what: String, stamp: String, c: Checked): DataFrame = {
    val fs = Tables.fileSystem(spark, new Path(path))
    val dir = Tables.qualified(spark, path)
    val own = versionOf(dir).getOrElse(
      throw new IllegalStateException(s"$what: delta version $path is not a v=<n> snapshot dir"))
    val m = c.meta
    val (_, bh, bIndex) = Region.of(Tables.readListed(spark, c.baseDir, what, events = false,
      (c.baseStamp, c.baseFiles)))
    val schema = bh.dataSchema.add(OpCol, IntegerType)
    // each other chain dir's marker holds the keys of that dir's tiers
    val metas = m.chain.flatMap(_.version).distinct.map { w =>
      w -> meta(spark, what, sibling(path, w), stat(fs, new Path(sibling(path, w), s"$Marker${c.b}")), c.b)
    }.toMap
    val tiers = m.chain.map { r =>
      val w = r.version.getOrElse(own)
      val wDir = sibling(path, w)
      val f = c.files.getOrElse(r.version -> r.file,
        throw new IllegalStateException(
          s"$what: delta version $path reads tier file ${r.file} in $wDir, which holds no such file"))
      val (keys, puts) = r.version.fold(m)(metas).own.getOrElse(r.file,
        throw new IllegalStateException(s"$what: the marker of $wDir lists no keys of its tier file ${r.file}"))
      val footer = Tables.footer(spark, what, f)
      val fileSchema = ParquetBridge.dataSchema(spark, f.getPath, footer.schema, footer.stored)
      if (fileSchema != schema) throw new IllegalStateException(
        s"$what: delta version $path has tier columns ${fileSchema.simpleString} in ${f.getPath}, " +
          s"base version ${c.baseDir} ${bh.dataSchema.simpleString}")
      (Tier(Some(w), f.getPath, r.id, f.getLen, f.getModificationTime, keys, puts), footer.region)
    }
    val keys = TierKeys.of(tiers.map { case (t, _) => t.id -> t.keys }, s"$dir|$stamp|${m.baseStamp}")
    val tierRegions = tiers.map { case (t, region) =>
      val visible = t.keys.indices.collect {
        case i if t.puts(i) && keys.newestOf(t.keys(i)) == t.id => t.keys(i)
      }.toArray
      t.file -> region.copy(points = Some(Region.Points(m.keyCol, keys, Some(visible))))
    }.toMap
    val listing = ListingBridge.fileIndex(spark, bIndex.rootPaths.map(_ -> c.baseFiles) ++
      tiers.map { case (t, region) => t.file -> Seq(region.file) })
    val regions = bIndex.regions.map { case (p, r) =>
      p -> r.copy(points = Some(Region.Points(m.keyCol, keys, None)))
    } ++ tierRegions
    Tables.relation(spark, path, stamp, listing, regions, schema,
      Some(DeltaInfo(c.b, c.baseStamp, m.keyCol, keys, tiers.map(_._1))))
  }

  /** `lr`, the relation of `index`, under the tiers' visibility filter
    * and without [[OpCol]] when `index` is a tiered version's; else `lr`
    * itself. */
  def visible(lr: LogicalRelation, index: RegionIndex): LogicalPlan = index.delta.fold[LogicalPlan](lr) { info =>
    val (op, cols) = lr.output.partition(_.name == OpCol)
    val key = cols.find(_.name == info.keyCol).getOrElse(throw new IllegalStateException(
      s"delta version ${index.path}: no key column ${info.keyCol}"))
    Project(cols, Filter(DeltaVisible(key, op.head, info.keys), lr))
  }

  private def quoted(name: String): Column = col(s"`${name.replace("`", "``")}`")

  /** Commit `df` as version `version` of snapshot `base` as a tiered
    * version, if it is a chain of [[MergeDelta]]s on `keyCol` over the
    * read of an earlier version u of `base` (full or tiered) as
    * [[Tables.read]] resolved it: its relation or that under
    * [[visible]], over a whole-version [[RegionIndex]] (no `restrict`
    * view), with an integral key and the same column types throughout.
    * u's dir, stamp, base and chain come from that index, with no
    * file-system call, and the marker records them as the read saw them
    * (see the object doc). Only the steps' keys and rows are
    * evaluated: each part that is client rows ([[ClientRows]]) by a
    * Dataset collect of its own, which starts no job (a
    * `LocalTableScan`), the parts of table-derived batches by
    * one union collect, one job. The driver folds them, in step order,
    * into the new tier and writes it, with no further job, as one
    * sorted file inside `Snapshots.path(base, version)`: no older
    * version changes. Then a minor compaction ([[select]]) may merge a
    * window of the chain into one more file there, reading the window's
    * older tier files with one Dataset collect (one small scan that
    * [[Fetch]] reads in-thread). The marker goes last. A client-row
    * put, deleteRows or mutateRow therefore commits with no Spark job.
    * False, with nothing written, when the caller must write the
    * version in full: not such a chain, a NULL or repeated key among a
    * step's rows, or more than [[maxKeys]] tier rows in the chain (the
    * major compaction). */
  def commit(df: DataFrame, keyCol: String, base: String, version: Int): Boolean = {
    val spark = df.sparkSession
    def unwind(p: LogicalPlan, steps: List[MergeDelta]): (LogicalPlan, List[MergeDelta]) = p match {
      case m: MergeDelta if m.keyCol == keyCol => unwind(m.base, m :: steps)
      case other => (other, steps)
    }
    val (bottom, steps) = unwind(df.queryExecution.analyzed, Nil)
    // the parent is the whole-version read `bottom` is: its index names
    // the version and the stamp it was read at, with no file-system call
    val parent = for {
      (lr, h, index) <- Region.in(bottom) if steps.nonEmpty && index.only.isEmpty && visible(lr, index) == bottom
      u <- versionOf(index.path) if u < version && index.path == Tables.qualified(spark, Snapshots.path(base, u))
    } yield (lr, h, index, u)
    parent.exists { case (lr, h, index, u) =>
      val schema = bottom.schema
      val kt = schema.find(_.name == keyCol).map(_.dataType)
      def sameTypes(plan: LogicalPlan, names: Seq[String]): Boolean = names.forall(n =>
        plan.schema.find(_.name == n).map(_.dataType) == schema.find(_.name == n).map(_.dataType))
      val chain = index.delta.fold(Seq.empty[Tier])(_.tiers)
      val tierFiles = chain.map(_.file).toSet
      val bRows = index.regions.collect { case (f, r) if !tierFiles(f) => r.rows }.sum
      val room = maxKeys(bRows) - chain.map(_.keys.length.toLong).sum
      kt.exists(Region.integral) && room >= 0 && steps.forall(m =>
        m.keys.forall(sameTypes(_, Seq(keyCol))) && m.rows.forall(sameTypes(_, schema.fieldNames.toSeq))) &&
        fold(spark, steps, keyCol, schema, room).exists { batch =>
          // what the tier is computed against: a full parent at its
          // read's stamp, a tiered one's base at the stamp its check saw
          val (b, bStamp) = index.delta.fold((u, index.stamp))(d => (d.baseVersion, d.baseStamp))
          val out = new Path(Snapshots.path(base, version))
          val fs = Tables.fileSystem(spark, out)
          if (fs.exists(out)) fs.delete(out, true)
          fs.mkdirs(out)
          val at = schema.fieldIndex(keyCol)
          def write(rows: Seq[Row], id: Int): Tier = {
            val file = ParquetBridge.writeFile(spark, schema.add(OpCol, IntegerType),
              rows.iterator.map(r => Row.fromSeq(r.toSeq.init :+ (if (r.getBoolean(schema.length)) id else -id))),
              out.toString, Map(Layout.PageRowsOption -> Layout.PageRows.toString))
            val st = fs.getFileStatus(file)
            Tier(None, file, id, st.getLen, st.getModificationTime,
              rows.map(_.get(at).asInstanceOf[Number].longValue).toArray,
              rows.map(_.getBoolean(schema.length)).toArray)
          }
          val fresh = write(batch, chain.lastOption.fold(1)(_.id + 1))
          val tiers = chain :+ fresh
          val merged = select(tiers.map(_.bytes)).fold(tiers) { case (s, n) =>
            val window = tiers.slice(s, s + n)
            val read = tierRows(lr, h, index, window.filter(_.version.isDefined).map(_.file).toSet)
            // oldest first, so the newest tier's row of a key wins
            val rows = new java.util.TreeMap[java.lang.Long, Row]()
            window.foreach { t =>
              (if (t.version.isEmpty) batch else read.getOrElse(t.id, Nil))
                .foreach(r => rows.put(r.get(at).asInstanceOf[Number].longValue, r))
            }
            val into = write(rows.values().asScala.toSeq, window.last.id)
            if (s + n == tiers.length) fs.delete(fresh.file, false)
            tiers.take(s) ++ (into +: tiers.drop(s + n))
          }
          val own = merged.filter(_.version.isEmpty)
          writeMeta(fs, out, b, Meta(keyCol, bStamp,
            merged.map(t => Ref(t.version, t.file.getName, t.id, t.bytes, t.mtime)),
            own.map(t => t.file.getName -> (t.keys, t.puts)).toMap))
          fs.create(new Path(out, "_SUCCESS"), true).close()
          true
        }
    }
  }

  /** The rows of tier `files` of parent relation `lr` (`h` over
    * `index`), by tier id, each with a put flag in place of [[OpCol]]:
    * one Dataset collect of the raw files, one small scan that [[Fetch]]
    * reads in-thread. */
  private def tierRows(lr: LogicalRelation, h: HadoopFsRelation, index: RegionIndex,
                       files: Set[Path]): Map[Int, Seq[Row]] = {
    val raw = PlanBridge.ofRows(h.sparkSession,
      lr.copy(relation = h.copy(location = index.restrict(files))(h.sparkSession)).newInstance())
    val op = raw.schema.fieldIndex(OpCol)
    raw.collect().toSeq.groupBy(r => math.abs(r.getInt(op)))
      .map { case (id, rows) => id -> rows.map(r => Row.fromSeq(r.toSeq.updated(op, r.getInt(op) > 0))) }
  }

  /** The new tier of `steps`: its rows in key order, each the columns
    * of `schema` plus a put flag (a tombstone's payload is NULL); None
    * past `room` rows or when a step's rows break the [[MergeDelta]]
    * invariants. */
  private def fold(spark: SparkSession, steps: List[MergeDelta], keyCol: String,
                   schema: StructType, room: Long): Option[Seq[Row]] = {
    val names = schema.fieldNames.toSeq
    // every part as the tier's columns plus the put flag and Part
    def tombstones(k: DataFrame, part: Int) = k.select(names.map(n =>
      if (n == keyCol) quoted(n) else lit(null).cast(schema(n).dataType).as(n)) :+
      lit(false).as(OpCol) :+ lit(part).as(Part): _*)
    def rows(r: DataFrame, part: Int) =
      r.select(names.map(quoted) :+ lit(true).as(OpCol) :+ lit(part).as(Part): _*)
    def ofPlan(plan: LogicalPlan) = PlanBridge.ofRows(spark, plan)
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
        m.rows.map(r => rows(ofPlan(r), 2 * i + 2))
    }
    // Client rows (a LocalTableScan) are read one collect each, with no
    // job; parts of table-derived batches in one union collect, one
    // job. At most room + 1 rows of each part, or of each partition of
    // the union, reach the driver: a part of more than room rows
    // compacts.
    val (driver, derived) = stepParts.partition(ClientRows.unapply(_).isDefined)
    val n = room.toInt + 1
    val got = driver.flatMap(_.limit(n).collect()) ++
      derived.reduceOption(_.unionByName(_)).toSeq.flatMap { u =>
        u.mapPartitions((it: Iterator[Row]) => it.take(n))(Encoders.row(u.schema)).collect()
      }
    val (k, op, part) = (schema.fieldIndex(keyCol), names.length, names.length + 1)
    val byPart = got.groupBy(_.getInt(part))
    if (byPart.values.exists(_.length > room)) None else {
      val tier = new java.util.TreeMap[java.lang.Long, Row]()
      val seen = scala.collection.mutable.HashSet[(Int, Long)]()
      val ok = byPart.toSeq.sortBy(_._1).forall { case (step, partRows) =>
        partRows.forall { r =>
          r.get(k) match {
            // a NULL key matches no row: a step's keys drop none, its rows may not hold one
            case null => step % 2 == 1
            case key: Number =>
              val kl = key.longValue
              (step % 2 == 1 || seen.add((step, kl))) &&
                { tier.put(kl, Row.fromSeq(r.toSeq.take(op + 1))); true }
          }
        }
      }
      if (!ok || tier.size > room) None else Some(tier.values().asScala.toSeq)
    }
  }
}
