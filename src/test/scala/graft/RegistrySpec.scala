package graft

import graft.pipeline.PipelineQueries.{builtShared, prewarmShared, resetShared}

/** The query registry (one `Query` record per name) and the memo gate
  * derived from it: Bench's `memo_setup` rebuilds the shared memos its
  * warmup built, so the prewarm set is read off a run, not kept by hand. */
class RegistrySpec extends SparkSpec {

  private val rowsOnly = Set("bpe_apply", "bpe_train", "dedup_minhash_lsh",
    "dedup_simhash", "embedding_pca", "sketch_hll_shards", "tokenizer_unigram",
    "tokenizer_unigram_apply")

  test("the registry holds 314 records: 306 oracles and 8 rows-only with a reason") {
    val recs = SparkEntry.registry.values.toSeq
    assert(recs.size == 314)
    val oracles = recs.collect { case Query(n, _, Oracle(sql), _) => n -> sql }
    assert(oracles.size == 306)
    // an oracle string built before the vals it interpolates reads "null"
    val bare = """(?<![A-Za-z_])null(?![A-Za-z_])""".r
    oracles.foreach { case (n, sql) =>
      assert(sql.trim.nonEmpty, s"$n: blank oracle SQL")
      assert(bare.findFirstIn(sql).isEmpty, s"$n: oracle SQL holds a bare null:\n$sql")
    }
    val reasons = recs.collect { case Query(n, _, RowsOnly(r), _) => n -> r }.toMap
    assert(reasons.keySet == rowsOnly)
    reasons.foreach { case (n, r) => assert(r.trim.nonEmpty, s"$n: blank rows-only reason") }
    assert(SparkEntry.oracleSql.keySet == oracles.map(_._1).toSet)
  }

  test("benchQueries swaps in exactly the records' sketch variants") {
    val sketched = SparkEntry.registry.values.filter(_.bench.nonEmpty).map(_.name).toSet
    assert(sketched == Set("agg_distinct", "agg_grouped", "agg_median", "column_profile",
      "region_split_exec", "region_splitter", "split_policy", "split_policy_stepping"))
    assert(SparkEntry.benchQueries.keySet == SparkEntry.queries.keySet)
    SparkEntry.registry.values.foreach { q =>
      assert(SparkEntry.benchQueries(q.name) eq q.bench.getOrElse(q.build), q.name)
    }
  }

  test("a repeated query name fails the registry build, naming it") {
    val once = Query("twice", (s, _) => s.range(1).toDF(), RowsOnly("spec payload"))
    val e = intercept[IllegalArgumentException](
      Query.index(Seq(once, once.copy(check = Oracle("SELECT 1 AS id")))))
    assert(e.getMessage.contains("duplicate query name: twice"), e.getMessage)
    assert(Query.index(Seq(once)).keySet == Set("twice"))
  }

  /** The shared memos built by one warmup run of `name`, from none. */
  private def builtAfter(name: String): Seq[String] = {
    resetShared()
    Bench.materialize(SparkEntry.benchQueries(name)(spark, sfDir))
    builtShared(spark, sfDir)
  }

  test("memo gate: a warmup builds exactly the shared memos its query reads") {
    try {
      assert(builtAfter("dedup_minhash_lsh") == Seq("shingles"))
      assert(builtAfter("dedup_clusters") == Seq("shingles", "ngram_pairs", "ngram_clusters"))
      assert(builtAfter("ann_quantized") == Seq("quant_emb"))
      // memo-free: Bench then times no memo_setup line at all
      assert(builtAfter("dedup_exact").isEmpty)
    } finally resetShared()
  }

  test("memo gate: resetShared then the prewarm rebuilds exactly the derived set") {
    try {
      val want = builtAfter("dedup_clusters")
      resetShared()
      assert(builtShared(spark, sfDir).isEmpty)
      prewarmShared(spark, sfDir, want)
      assert(builtShared(spark, sfDir) == want)
      prewarmShared(spark, sfDir, Nil)
      assert(builtShared(spark, sfDir) == want)
    } finally resetShared()
  }
}
