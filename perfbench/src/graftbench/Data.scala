package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded synthetic tables in the shapes graft's loaders expect (the
  * TPC-H-ish star schema, the `events` stream and the LLM corpora).
  * Every column is a hash of (seed, row id, salt), so a table is the
  * same for the same seed whatever the partitioning. Each table is
  * written as one flat parquet file, the layout the graft operators are
  * tuned for. */
object Data {
  val NLineitem = 100000
  val NEvents = 30000
  val NDocuments = 1500
  val NVectors = 600
  val Dim = 64

  val Vocab: Seq[String] = Seq(
    "a", "the", "data", "spark", "scan", "sort", "hash", "join", "group", "filter",
    "agg", "window", "stream", "batch", "query", "table", "row", "column", "key",
    "value", "part", "line", "order", "customer", "vector", "merge", "fast", "slow",
    "big", "small", "index", "shard", "region", "snapshot", "version", "cell",
    "family", "qualifier", "bloom", "compact", "flush", "memstore", "split", "token",
    "model", "train", "eval", "score", "rank", "dedup", "quality", "corpus", "page",
    "cache", "latency", "plan", "stage", "task", "shuffle", "spill", "codegen",
    "driver", "executor", "cluster")

  private def h(seed: Long, salt: String, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)
  private def u(seed: Long, salt: String, m: Long, cols: Column*): Column =
    pmod(h(seed, salt, cols: _*), lit(m))
  private def pick(xs: Seq[String], idx: Column): Column =
    element_at(array(xs.map(lit): _*), (idx + 1).cast("int"))

  def orders(spark: SparkSession, seed: Long, scale: Double): DataFrame = {
    val id = col("id")
    spark.range(0, (Gen.KeyUniverse * scale).toLong, 1, 4)
      .where(pmod(h(seed, "absent", id), lit(20L)) =!= 0L)
      .select(
        id.as("o_orderkey"),
        u(seed, "cust", Gen.NCustomers, id).as("o_custkey"),
        pick(Gen.Statuses, u(seed, "status", 3, id)).as("o_orderstatus"),
        (u(seed, "price", 50000000L, id) / 100.0).as("o_totalprice"),
        timestamp_seconds(lit(694224000L) + u(seed, "date", 2557, id) * 86400L).as("o_orderdate"),
        pick(Gen.Priorities, u(seed, "prio", 5, id)).as("o_orderpriority"))
  }

  def customer(spark: SparkSession, seed: Long, scale: Double): DataFrame = {
    val id = col("id")
    spark.range(0, (Gen.NCustomers * scale).toLong, 1, 1).select(
      id.as("c_custkey"),
      concat(lit("Customer#"), lpad(id.cast("string"), 9, "0")).as("c_name"),
      u(seed, "nation", 25, id).cast("int").as("c_nationkey"),
      (u(seed, "bal", 1100000, id) / 100.0 - 1000.0).as("c_acctbal"),
      pick(Gen.Segments, u(seed, "seg", 5, id)).as("c_mktsegment"))
  }

  def lineitem(spark: SparkSession, seed: Long, scale: Double): DataFrame = {
    val id = col("id")
    spark.range(0, (NLineitem * scale).toLong, 1, 4).select(
      expr("id div 4").as("l_orderkey"),
      u(seed, "part", 20000, id).as("l_partkey"),
      u(seed, "supp", 1000, id).as("l_suppkey"),
      (pmod(id, lit(4L)) + 1).cast("int").as("l_linenumber"),
      (u(seed, "qty", 50, id) + 1).cast("double").as("l_quantity"),
      (u(seed, "ext", 10000000L, id) / 100.0).as("l_extendedprice"),
      (u(seed, "disc", 11, id) / 100.0).as("l_discount"),
      (u(seed, "tax", 9, id) / 100.0).as("l_tax"),
      pick(Seq("A", "N", "R"), u(seed, "flag", 3, id)).as("l_returnflag"),
      pick(Seq("O", "F"), u(seed, "lstat", 2, id)).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + u(seed, "ship", 2557, id) * 86400L).as("l_shipdate"))
  }

  def events(spark: SparkSession, seed: Long, scale: Double): DataFrame = {
    val id = col("id")
    spark.range(0, (NEvents * scale).toLong, 1, 4).select(
      id.as("event_id"),
      timestamp_micros(lit(1704067200000000L) + u(seed, "ts", 30L * 86400L * 1000000L, id)).as("ts"),
      u(seed, "user", 1500, id).as("user_id"),
      pick(Seq("click", "view", "purchase", "signup", "error"), u(seed, "etype", 5, id)).as("event_type"),
      (u(seed, "val", 100000, id) / 100.0).as("value"),
      concat(lit("{\"k\": "), u(seed, "props", 100, id).cast("string"), lit("}")).as("props"))
  }

  /** Documents with planted near-duplicates (every 20th doc re-uses an
    * earlier doc's words with one token changed) and exact duplicates
    * (every 50th), so the dedup operators have clusters to find. */
  def documents(spark: SparkSession, seed: Long, scale: Double): DataFrame = {
    val id = col("id")
    val exact = pmod(id, lit(50L)) === 7 && id >= 50
    val near = pmod(id, lit(20L)) === 19
    val src = when(exact, id - 5).when(near, id - 11).otherwise(id)
    val vocab = array(Vocab.map(lit): _*)
    val nWords = lit(10L) + u(seed, "len", 70, col("_src"))
    spark.range(0, (NDocuments * scale).toLong, 1, 1)
      .withColumn("_src", src)
      .withColumn("_near", near && !exact)
      .withColumn("_words", transform(sequence(lit(1L), nWords), i =>
        element_at(vocab, (pmod(when(col("_near") && i === 3L, h(seed, "alt", col("id"), i))
          .otherwise(h(seed, "w", col("_src"), i)), lit(Vocab.size.toLong)) + 1).cast("int"))))
      .select(
        id.as("doc_id"),
        array_join(col("_words"), " ").as("text"),
        pick(Seq("en", "en", "en", "de", "fr", "es", "zh"), u(seed, "lang", 7, col("_src"))).as("lang"),
        concat(lit("src"), pmod(id, lit(5L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("bigint"))
  }

  /** Embeddings around 10 seeded centroids; every 40th vector is a
    * jittered copy of an earlier one (near-duplicate vectors). */
  def embeddings(spark: SparkSession, seed: Long, scale: Double): DataFrame = {
    val id = col("id")
    val twin = pmod(id, lit(40L)) === 39
    spark.range(0, (NVectors * scale).toLong, 1, 1)
      .withColumn("_src", when(twin, id - 13).otherwise(id))
      .withColumn("label", u(seed, "lbl", 10, col("_src")).cast("int"))
      .withColumn("embedding", transform(sequence(lit(0L), lit(Dim - 1L)), j =>
        ((u(seed, "cen", 2001, col("label"), j) - 1000) / 1000.0 * 0.5 +
          (u(seed, "noise", 2001, col("_src"), j) - 1000) / 1000.0 * 0.2 +
          when(twin, (u(seed, "jit", 2001, id, j) - 1000) / 1000.0 * 0.002).otherwise(0.0))
          .cast("float")))
      .select(id.as("vec_id"), col("embedding"), col("label"))
  }

  val writers: Map[String, (SparkSession, Long, Double) => DataFrame] = Map(
    "orders" -> orders, "customer" -> customer, "lineitem" -> lineitem,
    "events" -> events, "documents" -> documents, "embeddings" -> embeddings)

  /** Write the named tables under `dir` as `<name>.parquet`, one file
    * each, with `scale` times the rows of the timed inputs. */
  def write(spark: SparkSession, seed: Long, dir: String, names: Seq[String], scale: Double = 1.0): Unit =
    names.foreach { n =>
      writers(n)(spark, seed, scale).coalesce(1).write.mode("overwrite").parquet(s"$dir/$n.parquet")
    }
}
