package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.agg.Aggregates
import graft.analytics.Tools
import graft.core.{Snapshots, Tables}
import graft.dedup.Dedup
import graft.kv.Scans
import graft.pipeline.Curation
import graft.sim.Ann
import graft.text.TextOps

/** Order-independent digest of a result: row count, XOR and modular sum
  * of a per-row hash over canonical column values (doubles rounded to
  * 2 decimals so partial-sum order cannot flip a bit). */
final case class Digest(rows: Long, xor: Long, sum: Long) {
  override def toString = f"$rows rows/$xor%016x/$sum"
}

object Digest {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType | _: DecimalType => round(c.cast("double"), 2)
    case ByteType | ShortType | IntegerType | LongType => c.cast("bigint")
    case TimestampType | TimestampNTZType => unix_micros(c.cast("timestamp"))
    case BooleanType => c.cast("int")
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case StructType(fs) => struct(fs.map(f => canon(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*)
    case _ => c.cast("string")
  }
  def aggs(df: DataFrame): Seq[Column] = {
    val h = xxhash64(df.schema.fields.map(f => canon(col(s"`${f.name}`"), f.dataType)).toSeq: _*)
    Seq(count(lit(1)).as("n"), bit_xor(h).as("x"), sum(pmod(h, lit(2147483647L))).as("s"))
  }
  private def of(n: Any, x: Any, s: Any): Digest = {
    def l(v: Any) = if (v == null) 0L else v.asInstanceOf[Number].longValue
    Digest(l(n), l(x), l(s))
  }
  def compute(df: DataFrame): Digest = {
    val a = aggs(df)
    val r = df.agg(a.head, a.tail: _*).head()
    of(r.get(0), r.get(1), r.get(2))
  }
  def fromObservation(o: Observation): Digest = {
    val m = o.get
    of(m("n"), m("x"), m("s"))
  }
}

/** One job of a batch pass. `build` makes the DataFrame (the call into
  * graft); a `commitKey` makes it a write job that commits its output as
  * the next snapshot version instead of materialising through the noop
  * sink. `reference` is a plain DataFrame/SQL formulation of the same
  * rows; `refCount` only of their number, for jobs whose values have no
  * plain formulation. */
final case class Job(name: String, module: String, build: () => DataFrame,
                     commitKey: Option[String] = None,
                     reference: Option[() => DataFrame] = None,
                     refCount: Option[() => Long] = None)

/** Where one parameter set's jobs read: the parquet tables and the
  * orders snapshot versions. */
final case class Inputs(data: String, snap: String)

/** batch_analytics: closed-loop passes over a fixed job list, one client
  * thread. The HBase half (coprocessor aggregates, MapReduce tools,
  * snapshot diff/sync, versioned scans) is scan-, aggregate- and
  * shuffle-bound; the LLM-data half (curation, dedup, text, ANN) is
  * executor-CPU-bound and multi-job. */
final class BatchWorkload(spark: SparkSession, seed: Long, tr: Tracer, res: Results) {
  private var dir = ""
  private var in = Inputs("", "")
  private var warmIn = Inputs("", "")
  private val jobIdx = new java.util.concurrent.atomic.AtomicInteger(0)
  private val tables = Seq("lineitem", "events", "orders", "documents", "embeddings")
  /** The warmup pass reads inputs this much smaller, generated from the
    * warmup seed: it warms the same code paths at a fraction of the cost. */
  val WarmupScale = 0.2
  val OrdersScale = 1.0 / 3

  private def ts(epochS: Long): String =
    java.time.Instant.ofEpochSecond(epochS).toString.replace("T", " ").stripSuffix("Z")
  private val Jan1 = 1704067200L

  /** Generate the timed and the warmup input tables under `d`. Orders
    * only feeds the snapshot diff and sync jobs here, so it is a third of
    * kv_mixed's. */
  def generate(d: String): Unit = {
    dir = d
    def write(to: String, sd: Long, scale: Double): Unit = {
      Data.write(spark, sd, to, tables.filterNot(_ == "orders"), scale)
      Data.write(spark, sd, to, Seq("orders"), scale * OrdersScale)
    }
    in = Inputs(s"$d/data", "")
    write(in.data, seed, 1.0)
    warmIn = Inputs(s"$d/warm/data", s"$d/warm/snap/orders")
    write(warmIn.data, Gen.warmupSeed(seed), WarmupScale)
    snapshots(warmIn, Gen.batchParams(Gen.warmupSeed(seed)))
  }

  /** Orders as two snapshot versions for the diff and sync jobs, the
    * second with every `mutateMod`-th price changed. */
  private def snapshots(at: Inputs, p: Gen.BatchParams): Unit = {
    val o = Tables.load(spark, at.data, "orders")
    Snapshots.write(o, "o_orderkey", at.snap, 1)
    Snapshots.write(o.withColumn("o_totalprice",
      when(pmod(col("o_orderkey"), lit(p.mutateMod.toLong)) === 0, col("o_totalprice") + 1)
        .otherwise(col("o_totalprice"))), "o_orderkey", at.snap, 2)
  }

  /** Lay out the timed orders snapshot versions; the last layout is the
    * one the run uses. */
  def layout(d: String, rep: Int): Unit = {
    in = in.copy(snap = s"$d/snap$rep/orders")
    snapshots(in, Gen.batchParams(Gen.timedSeed(seed)))
  }

  private def load(at: Inputs, t: String): DataFrame = tr.span("core.load") { Tables.load(spark, at.data, t) }
  private def snap(at: Inputs, v: Int): DataFrame = tr.span("core.load") { Snapshots.read(spark, at.snap, v) }
  /** A table for the plain reference formulations, read once and cached
    * (the references are the benchmark's, so their speed is not measured). */
  private val views = mutable.Map.empty[String, DataFrame]
  private def view(t: String): DataFrame = views.synchronized {
    views.getOrElseUpdate(t, spark.read.parquet(s"${in.data}/$t.parquet").cache())
  }

  /** The job list of one parameter set; `warmup` selects the warmup inputs. */
  def jobs(p: Gen.BatchParams, warmup: Boolean = false): Seq[Job] = {
    val at = if (warmup) warmIn else in
    analytics(p, at) ++ curation(p, at)
  }

  private def analytics(p: Gen.BatchParams, at: Inputs): Seq[Job] = {
    val shipPred = (c: DataFrame) => c.where(col("l_shipdate") >= lit(ts(p.shipLo)).cast("timestamp") &&
      col("l_shipdate") < lit(ts(p.shipLo + p.shipDays * 86400L)).cast("timestamp"))
    def li() = shipPred(load(at, "lineitem"))
    def liRef() = shipPred(view("lineitem"))
    val c = p.aggCol
    val lo = ts(Jan1 + p.tsLoDay * 86400L)
    val hi = ts(Jan1 + (p.tsLoDay + p.tsDays) * 86400L)
    val copyLo = ts(Jan1 + p.copyLoDay * 86400L)
    val copyHi = ts(Jan1 + (p.copyLoDay + 10) * 86400L)
    val rowHash = pmod(xxhash64(col("o_orderkey"), col("o_totalprice")), lit(1000000007L))
    val cmpCols = Seq("o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority")
    def eventCells(ev: DataFrame) = ev.select(col("user_id").as("rowkey"), lit("ev").as("family"),
      col("event_type").as("qualifier"), col("ts"), col("value"), col("event_id"))
    Seq(
      Job("agg_minmax", "agg", () => Aggregates.minMax(li(), c),
        reference = Some(() => liRef().agg(min(c).as("min_v"), max(c).as("max_v")))),
      Job("agg_sum_avg", "agg", () => Aggregates.sumAvg(li(), c),
        reference = Some(() => liRef().agg(round(sum(c), 4), round(avg(c), 4)))),
      Job("agg_std", "agg", () => Aggregates.std(li(), c),
        reference = Some(() => liRef().agg(round(stddev_pop(c), 4)))),
      Job("agg_median", "agg", () => Aggregates.median(li(), c),
        reference = Some(() => liRef().agg(round(percentile(col(c), lit(0.5)), 4)))),
      Job("agg_weighted_median", "agg", () => Aggregates.weightedMedian(li(), c, p.weightCol),
        reference = Some { () =>
          val w = org.apache.spark.sql.expressions.Window.orderBy(col(c))
            .rowsBetween(Long.MinValue, 0)
          liRef().where(col(c).isNotNull)
            .withColumn("_cum", sum(p.weightCol).over(w))
            .crossJoin(liRef().agg((sum(p.weightCol) / 2).as("_half")))
            .where(col("_cum") >= col("_half")).agg(min(c))
        }),
      Job("agg_grouped", "agg", () => Aggregates.grouped(li(), p.groupKeys, c),
        reference = Some(() => liRef().groupBy(p.groupKeys.map(col): _*).agg(count(lit(1)), min(c), max(c),
          round(sum(c), 4), round(avg(c), 4), round(stddev_pop(c), 4),
          round(percentile(col(c), lit(0.5)), 4)))),
      Job("row_counter", "analytics", () => Tools.rowCounter(tr.span("core.load") {
          Tables.eventCells(spark, at.data) }, Some(col("qualifier") === p.eventType)),
        reference = Some(() => view("events").where(col("event_type") === p.eventType)
          .agg(count_distinct(col("user_id"))))),
      Job("cell_counter", "analytics", () => Tools.cellCounter(tr.span("core.load") {
          Tables.eventCells(spark, at.data) }),
        reference = Some(() => view("events").groupBy(lit("ev"), col("event_type"))
          .agg(count(lit(1)), count_distinct(col("user_id")), count_distinct(col("ts"))))),
      Job("copy_table", "analytics", () => Tools.copyTable(load(at, "events"),
          col("ts") >= lit(copyLo).cast("timestamp") && col("ts") < lit(copyHi).cast("timestamp"),
          Seq("user_id" -> "row_id", "event_type" -> "qual")),
        commitKey = Some("event_id"),
        reference = Some(() => view("events")
          .where(col("ts") >= lit(copyLo).cast("timestamp") && col("ts") < lit(copyHi).cast("timestamp"))
          .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"), col("props")))),
      Job("hash_sync_table", "analytics", () => Tools.syncTable(
          Tools.hashTable(snap(at, 1), "o_orderkey", rowHash, p.syncBucket),
          Tools.hashTable(snap(at, 2), "o_orderkey", rowHash, p.syncBucket)),
        reference = Some { () =>
          def side(v: Int, s: String) = spark.read.parquet(Snapshots.path(in.snap, v))
            .groupBy(expr(s"o_orderkey div ${p.syncBucket}").as("bucket"))
            .agg(sum(rowHash).as(s"digest_$s"), count(lit(1)).as(s"rows_$s"))
          side(1, "a").join(side(2, "b"), Seq("bucket"), "full_outer")
            .select(col("bucket"), col("digest_a"), col("rows_a"), col("digest_b"), col("rows_b"),
              coalesce(col("digest_a") === col("digest_b") && col("rows_a") === col("rows_b"), lit(false)))
        }),
      Job("snapshot_diff", "core", () => Snapshots.diff(snap(at, 1), snap(at, 2), "o_orderkey", cmpCols),
        reference = Some { () =>
          val a = spark.read.parquet(Snapshots.path(in.snap, 1)).as("a")
          val b = spark.read.parquet(Snapshots.path(in.snap, 2)).as("b")
          val differs = cmpCols.map(k => !(col(s"a.$k") <=> col(s"b.$k"))).reduce(_ || _)
          a.join(b, col("a.o_orderkey") === col("b.o_orderkey"), "full_outer")
            .select(coalesce(col("a.o_orderkey"), col("b.o_orderkey")),
              when(col("b.o_orderkey").isNull, "removed").when(col("a.o_orderkey").isNull, "added")
                .when(differs, "changed").as("change"))
            .where(col("change").isNotNull)
        }),
      Job("time_range", "kv", () => Scans.timeRange(tr.span("core.load") {
          Tables.eventCells(spark, at.data) }, lo, hi),
        reference = Some(() => eventCells(view("events")).where(
          col("ts") >= lit(lo).cast("timestamp") && col("ts") < lit(hi).cast("timestamp")))),
      Job("max_versions", "kv", () => Scans.maxVersions(tr.span("core.load") {
          Tables.eventCells(spark, at.data) }, p.maxVersions),
        reference = Some { () =>
          val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id", "event_type")
            .orderBy(col("ts").desc, col("event_id").desc)
          eventCells(view("events").withColumn("_r", row_number().over(w)).where(col("_r") <= p.maxVersions))
        }))
  }

  private def curation(p: Gen.BatchParams, at: Inputs): Seq[Job] = {
    def docs() = load(at, "documents")
    def emb() = load(at, "embeddings")
    val nDocs = () => view("documents").count()
    val nVecs = () => view("embeddings").count()
    Seq(
      Job("curate", "pipeline", () => Curation.curate(docs(), minQuality = p.minQuality),
        refCount = Some(nDocs)),
      Job("quality_commit", "text", () => TextOps.quality(docs()), commitKey = Some("doc_id"),
        refCount = Some(nDocs)),
      Job("minhash_lsh", "dedup", () => Dedup.minhashLsh(docs(), p.minhashThreshold)),
      Job("tfidf", "text", () => TextOps.tfidf(docs(), topK = p.tfidfK),
        refCount = Some(() => view("documents")
          .select(least(size(array_distinct(filter(split(col("text"), " "), t => length(t) > 0))),
            lit(p.tfidfK)).cast("long").as("k")).agg(sum("k")).head().getLong(0))),
      Job("ivf", "sim", () => Ann.ivf(emb(), emb().where(col("vec_id").isin(p.ivfQueries: _*)), p.ivfK,
          trainIters = 1),
        refCount = Some(() => p.ivfQueries.size.toLong * p.ivfK)),
      Job("kmeans", "sim", () => Ann.kmeans(emb(), k = p.kmeansK, iters = 2), refCount = Some(nVecs)))
  }

  /** One warmup pass over the warmup parameter set, while the plain
    * references of the timed set are computed, all on `threads` client
    * threads: the warmup only warms the JVM and Spark's caches, and most
    * of its stages are single-task, so one thread would leave cores idle.
    * Returns each timed job's reference digest (or row count). */
  def warmupAndReferences(warm: Gen.BatchParams, timedP: Gen.BatchParams,
                          threads: Int): Map[String, Either[Long, Digest]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    def submit[T](f: => T) = pool.submit(new java.util.concurrent.Callable[T] { def call(): T = f })
    try {
      val refs = jobs(timedP).flatMap { j =>
        j.reference.map(r => j.name -> submit[Either[Long, Digest]](Right(Digest.compute(r()))))
          .orElse(j.refCount.map(c => j.name -> submit[Either[Long, Digest]](Left(c()))))
      }
      jobs(warm, warmup = true).map(j => submit(run(j, timed = false, Map.empty, mutable.Map.empty)))
        .foreach(_.get())
      refs.map { case (n, f) => n -> f.get() }.toMap
    } finally {
      pool.shutdown()
      views.synchronized { views.values.foreach(_.unpersist(blocking = true)); views.clear() }
    }
  }

  private val version = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Run one timed job, checking its digest against the plain reference
    * and against the job's first timed run. */
  def runTimed(j: Job, refs: Map[String, Either[Long, Digest]],
               expect: mutable.Map[String, Digest]): Unit = run(j, timed = true, refs, expect)

  private def run(j: Job, timed: Boolean, refs: Map[String, Either[Long, Digest]],
                  expect: mutable.Map[String, Digest]): Unit = {
    val idx = jobIdx.getAndIncrement()
    val c0 = Env.threadCpu()
    val t0 = System.nanoTime()
    tr.begin(idx, j.name, j.module, t0)
    var digest: Option[Digest] = None
    var error: Option[String] = None
    var obs: Observation = null
    var written: Option[String] = None
    try {
      val df = tr.span(s"${j.module}.build") { j.build() }
      j.commitKey match {
        case Some(k) =>
          val v = version.incrementAndGet()
          val base = s"$dir/out/${j.name}"
          tr.span("core.commit") { Snapshots.write(df, k, base, v) }
          written = Some(Snapshots.path(base, v))
        case None =>
          obs = new Observation(s"digest_$idx")
          val aggs = Digest.aggs(df)
          graft.Bench.materialize(df.observe(obs, aggs.head, aggs.tail: _*))
      }
    } catch {
      case e: Throwable => error = Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
    val t1 = System.nanoTime()
    val c1 = Env.threadCpu()
    for (path <- written) {
      tr.note("commit_bytes", Env.dirBytes(path).toDouble)
      tr.note("commit_files", Env.dirFiles(path))
    }
    tr.end(t1, 0L)
    try {
      if (error.isEmpty) digest = Some(
        if (obs != null) Digest.fromObservation(obs)
        else Digest.compute(spark.read.parquet(written.get)))
    } catch {
      case e: Throwable => error = Some(s"digest: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    for (d <- digest if timed) {
      refs.get(j.name) match {
        case Some(Right(r)) if r != d => error = Some(s"wrong result: $d, plain formulation gives $r")
        case Some(Left(n)) if n != d.rows => error = Some(s"wrong result: ${d.rows} rows, plain formulation gives $n")
        case _ =>
      }
      expect.get(j.name) match {
        case Some(e) if e != d => error = Some(s"result changed across passes: $d, first pass $e")
        case None => expect(j.name) = d
        case _ =>
      }
    }
    res.attempt(error.map(e => (s"${if (timed) "" else "warmup:"}${j.name}", e)))
    if (timed) {
      res.ops += OpSample(j.name, j.commitKey.isDefined, (t1 - t0) / 1e6, Env.cpuMs(c0, c1))
      for (path <- written if error.isEmpty) {
        val src = if (j.name == "quality_commit") "documents" else "events"
        val srcBytes = Env.dirBytes(s"${in.data}/$src.parquet").toDouble
        val srcRows = if (src == "documents") Data.NDocuments else Data.NEvents
        res.commit(j.name, Env.dirBytes(path), digest.map(_.rows).getOrElse(0L) * srcBytes / srcRows)
      }
    }
  }
}
