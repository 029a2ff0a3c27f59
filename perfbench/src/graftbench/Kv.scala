package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Snapshots, Tables}
import graft.filters.ParseFilter
import graft.kv.{Mutations, Scans}
import Gen._

/** Driver-side model of the orders snapshot: the expected contents of
  * the latest version, updated with the same put / delete / CAS
  * semantics the mutation batches ask graft for. */
final class KvModel(initial: Iterable[OrderRow]) {
  private val rows = new java.util.TreeMap[java.lang.Long, OrderRow]()
  initial.foreach(r => rows.put(r.key, r))

  def size: Int = rows.size
  def get(k: Long): Option[OrderRow] = Option(rows.get(k))
  def range(start: Long, stop: Long): Seq[OrderRow] =
    rows.subMap(start, true, stop, false).values.asScala.toSeq
  def from(start: Long, limit: Int): Seq[OrderRow] =
    rows.tailMap(start, true).values.asScala.iterator.take(limit).toSeq
  def all: Seq[OrderRow] = rows.values.asScala.toSeq

  /** Apply one batch; returns the number of rows it changed. */
  def apply(w: Write): Int = {
    val before = mutable.Map.empty[Long, Option[OrderRow]]
    (w.puts ++ w.dels).foreach(k => before(k) = get(k))
    def put(k: Long): Unit = rows.put(k, putRow(w.payloadSeed, k))
    def del(k: Long): Unit = rows.remove(k)
    w.kind match {
      case "put" => w.puts.foreach(put)
      case "checkAndPut" => w.puts.filter(k => before(k).exists(_.status == "O")).foreach(put)
      case "deleteRows" => w.dels.foreach(del)
      case "checkAndDelete" => w.dels.filter(k => before(k).exists(_.status == "O")).foreach(del)
      case "mutateRow" =>
        w.dels.foreach(del)
        w.puts.filterNot(w.dels.toSet).foreach(put)
    }
    before.count { case (k, b) => b != get(k) }
  }
}

object KvModel {
  def row(r: Row): OrderRow = OrderRow(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
    DateTimeUtils.fromJavaTimestamp(r.getTimestamp(4)), r.getString(5))
  def toRow(o: OrderRow): Row = Row(o.key, o.cust, o.status, o.price,
    DateTimeUtils.toJavaTimestamp(o.dateMicros), o.priority)
  val Cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
}

/** Customer cells as `Tables.customerCells` lays them out, with the
  * filter grammar the seeded filter strings use evaluated on the driver. */
final class CellModel(customers: Seq[Row]) {
  type Cell = (String, String, String, String)
  val cells: Seq[Cell] = customers.flatMap { r =>
    val k = r.getLong(0).toString
    Seq((k, "id", "c_nationkey", r.getInt(2).toString), (k, "info", "c_name", r.getString(1)),
      (k, "info", "c_mktsegment", r.getString(4)))
  }

  /** Expected cells for one filter string, by a small recursive-descent
    * evaluator of the subset of the grammar [[Gen.OpStream]] emits. */
  def expected(f: String): Seq[Cell] = {
    val pred = parse(f)
    cells.filter(pred)
  }

  private def parse(s: String): Cell => Boolean = {
    var pos = 0
    def ws(): Unit = while (pos < s.length && s(pos) == ' ') pos += 1
    def quoted(): String = { ws(); require(s(pos) == '\''); val e = s.indexOf('\'', pos + 1); val v = s.substring(pos + 1, e); pos = e + 1; v }
    def eat(t: String): Unit = { ws(); require(s.startsWith(t, pos), s"expected $t at $pos in $s"); pos += t.length }
    def op(): String = { ws(); val o = if (s.startsWith(">=", pos)) ">=" else "="; pos += o.length; o }
    def cmp(get: Cell => String): Cell => Boolean = {
      eat("("); val o = op(); eat(","); val q = quoted(); eat(")")
      val (kind, v) = q.splitAt(q.indexOf(':'))
      val value = v.drop(1)
      (kind, o) match {
        case ("binary", "=") => c => get(c) == value
        case ("binary", ">=") => c => get(c).compareTo(value) >= 0
        case ("substring", "=") => c => get(c).toLowerCase.contains(value.toLowerCase)
      }
    }
    def factor(): Cell => Boolean = {
      ws()
      if (s(pos) == '(') { pos += 1; val e = expr(); eat(")"); e }
      else if (s.startsWith("PrefixFilter", pos)) { pos += 12; eat("("); val p = quoted(); eat(")"); c => c._1.startsWith(p) }
      else if (s.startsWith("ValueFilter", pos)) { pos += 11; cmp(_._4) }
      else if (s.startsWith("QualifierFilter", pos)) { pos += 15; cmp(_._3) }
      else throw new IllegalArgumentException(s"unexpected filter at $pos: $s")
    }
    def term(): Cell => Boolean = {
      var l = factor(); ws()
      while (s.startsWith("AND", pos)) { pos += 3; val a = l; val b = factor(); l = c => a(c) && b(c); ws() }
      l
    }
    def expr(): Cell => Boolean = {
      var l = term(); ws()
      while (s.startsWith("OR", pos)) { pos += 2; val a = l; val b = term(); l = c => a(c) || b(c); ws() }
      l
    }
    val e = expr(); ws(); require(pos == s.length, s"trailing input in $s"); e
  }
}

/** kv_mixed: closed-loop HBase client traffic, one client thread. Reads
  * go to the latest snapshot version; every write batch commits the next
  * version. */
final class KvWorkload(spark: SparkSession, seed: Long, tr: Tracer, res: Results) {
  private var dataDir = ""
  private var snapBase = ""
  private var version = 1
  private var model: KvModel = _
  private var cellModel: CellModel = _
  private var schema: StructType = _
  private var baseBytesPerRow = 0.0
  private var opIdx = 0

  /** Generate the input tables under `dir`. */
  def generate(dir: String): Unit = {
    dataDir = s"$dir/data"
    Data.write(spark, seed, dataDir, Seq("orders", "customer"))
  }

  /** Lay out the rowkey-sorted base snapshot (version 1) of orders; the
    * last layout is the one the run uses. */
  def layout(dir: String, rep: Int): Unit = {
    snapBase = s"$dir/snap$rep/orders"
    version = 1
    Snapshots.write(Tables.load(spark, dataDir, "orders"), "o_orderkey", snapBase, 1)
  }

  /** Build the driver-side models from the laid-out inputs. */
  def setup(): Unit = {
    val base = Snapshots.read(spark, snapBase, 1)
    schema = base.schema
    val rows = base.select(KvModel.Cols.map(col): _*).collect().map(KvModel.row)
    model = new KvModel(rows)
    cellModel = new CellModel(Tables.load(spark, dataDir, "customer").collect().toSeq)
    baseBytesPerRow = Env.dirBytes(Snapshots.path(snapBase, 1)).toDouble / rows.length
  }

  private def current(): DataFrame = tr.span("core.load") { Snapshots.read(spark, snapBase, version) }

  /** Run one op and check its result against the model. */
  def run(op: KvOp, timed: Boolean): Unit = {
    val idx = opIdx; opIdx += 1
    val c0 = Env.threadCpu()
    val t0 = System.nanoTime()
    tr.begin(idx, op.cls, "kv", t0)
    var rows = 0L
    var error: Option[String] = None
    try {
      op match {
        case w: Write =>
          val base = current()
          val puts = spark.createDataFrame(w.puts.map(k => KvModel.toRow(putRow(w.payloadSeed, k))).asJava, schema)
          val dels = spark.createDataFrame(w.dels.map(k => Row(k)).asJava,
            StructType(Seq(StructField("o_orderkey", LongType))))
          val check = col("o_orderstatus") === "O"
          val next = tr.span("kv.build") {
            w.kind match {
              case "put" => Mutations.put(base, puts, "o_orderkey")
              case "checkAndPut" => Mutations.checkAndPut(base, puts, "o_orderkey", check)
              case "deleteRows" => Mutations.deleteRows(base, dels, "o_orderkey")
              case "checkAndDelete" => Mutations.checkAndDelete(base, dels, "o_orderkey", check)
              case "mutateRow" => Mutations.mutateRow(base, puts, dels, "o_orderkey")
            }
          }
          tr.span("core.commit") { Snapshots.write(next, "o_orderkey", snapBase, version + 1) }
          version += 1
        case FilterScan(f) =>
          val cells = tr.span("core.load") { Tables.customerCells(spark, dataDir) }
          val out = tr.span("filters.parse") { ParseFilter.filter(cells, f) }
            .select("rowkey", "family", "qualifier", "value").collect()
          rows = out.length
          error = compare(out.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq,
            cellModel.expected(f), ordered = false)(_.toString)
        case read =>
          val base = current()
          val keysDf = read match {
            case BulkGet(ks) => spark.createDataFrame(ks.map(k => Row(k)).asJava,
              StructType(Seq(StructField("o_orderkey", LongType))))
            case _ => null
          }
          val df = tr.span("kv.build") {
            read match {
              case Get(k) => Scans.get(base, "o_orderkey", k, KvModel.Cols)
              case MultiGet(ks) => Scans.multiGet(base, "o_orderkey", ks, KvModel.Cols)
              case BulkGet(_) => Scans.multiGetBulk(base, "o_orderkey", keysDf, KvModel.Cols)
              case RangeScan(a, b) => Scans.range(base, "o_orderkey", a, b, KvModel.Cols)
              case SmallScan(a, n) => Scans.small(base, "o_orderkey", a, n, KvModel.Cols)
              case other => throw new IllegalStateException(s"not a read: $other")
            }
          }
          val out = df.collect().map(KvModel.row).toSeq
          rows = out.length
          val expect = read match {
            case Get(k) => model.get(k).toSeq
            case MultiGet(ks) => ks.flatMap(model.get)
            case BulkGet(ks) => ks.distinct.flatMap(model.get)
            case RangeScan(a, b) => model.range(a, b)
            case SmallScan(a, n) => model.from(a, n)
            case _ => Nil
          }
          error = compare(out, expect, ordered = read.isInstanceOf[SmallScan])(_.key.toString)
      }
    } catch {
      case e: Throwable => error = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
    val t1 = System.nanoTime()
    val c1 = Env.threadCpu()
    val committed = if (op.cls == "write" && error.isEmpty) Env.dirBytes(Snapshots.path(snapBase, version)) else 0L
    if (committed > 0) {
      tr.note("commit_bytes", committed.toDouble)
      tr.note("commit_files", Env.dirFiles(Snapshots.path(snapBase, version)))
    }
    tr.end(t1, rows)
    op match {
      case w: Write if error.isEmpty =>
        val changed = model.apply(w)
        if (timed) res.commit(w.kind, committed, changed * baseBytesPerRow)
      case _ =>
    }
    res.attempt(error.map(e => (s"${if (timed) "" else "warmup:"}${op.cls}#$idx", e)))
    if (timed) {
      val key = op match { case w: Write => w.kind; case _ => op.cls }
      res.ops += OpSample(key, op.cls == "write", (t1 - t0) / 1e6, Env.cpuMs(c0, c1))
    }
  }

  /** Compare a result with the model; the message names the first
    * difference. Unordered results compare as multisets. */
  private def compare[T](got: Seq[T], want: Seq[T], ordered: Boolean)(show: T => String): Option[String] = {
    val (g, w) = if (ordered) (got, want) else (got.sortBy(show), want.sortBy(show))
    if (g == w) None
    else {
      val extra = got.diff(want).take(2).map(show)
      val missing = want.diff(got).take(2).map(show)
      Some(s"wrong result: ${got.size} rows, expected ${want.size}; " +
        s"unexpected ${extra.mkString(",")}; missing ${missing.mkString(",")}")
    }
  }

  /** The final version must hold exactly the model's rows. */
  def finalCheck(): Unit = {
    val got = Snapshots.read(spark, snapBase, version).select(KvModel.Cols.map(col): _*)
      .collect().map(KvModel.row).sortBy(_.key).toSeq
    if (got != model.all) res.fail("final_state",
      s"version $version holds ${got.size} rows, model ${model.size}; first difference at key " +
        got.zipAll(model.all, null, null).find { case (a, b) => a != b }.map(p => Option(p._1).orElse(Option(p._2)).map(_.key)).orNull)
  }

  def versions: Int = version
  private[graftbench] def modelForTest: KvModel = model
}
