package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.functions._
import graft.sim.{Ann, CodebookTopK, VecDot, VectorOps}

/** The native argmax/top-n-over-codebook scan (CodebookTopK) that
  * replaced the interpreted HOF `transform()` cell scoring in the
  * IVF/IMI/kmeans assignment paths — r15's top verdict item. The
  * contract under test: bit-identical scores and tiebreaks vs the HOF
  * form (the full-oracle Lloyd replay depends on assignments not
  * moving), plus the plan-shape guarantee that no corpus-volume
  * projection evaluates a lambda over the codebook anymore. */
class CodebookTopKSpec extends SparkSpec {

  import VectorOps.{dot, norm, topCells}

  /** Deterministic float corpus + a codebook in the centroidArray
    * shape: one broadcast row of sorted (cell, c_emb, c_norm) structs. */
  private def corpus(n: Int, d: Int): DataFrame =
    spark.range(n).toDF("vec_id")
      .withColumn("embedding", expr(
        s"transform(sequence(0, ${d - 1}), " +
          "i -> CAST((pmod(xxhash64(vec_id, i), 2001) - 1000) / 1e3 AS FLOAT))"))

  private def codebookOf(cent: DataFrame): DataFrame =
    broadcast(cent
      .withColumn("c_norm", norm(col("c_emb")))
      .agg(sort_array(collect_list(struct(col("cell"), col("c_emb"), col("c_norm"))))
        .as("cents")))

  /** A 16-cell codebook derived from the corpus itself (double-typed
    * centroids like cellMeans produces). */
  private def codebook(d: Int): DataFrame =
    codebookOf(corpus(16, d)
      .select(col("vec_id").cast("int").as("cell"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("c_emb")))

  test("codebook_topk argmax is bit-identical to the HOF transform/array_max form") {
    val d = 8
    val joined = corpus(200, d).crossJoin(codebook(d))
    // the EXACT pre-r15 form: interpreted lambda over the codebook,
    // struct(s, -cell) lexicographic max
    val legacy = joined
      .withColumn("_n", norm(col("embedding")))
      .withColumn("_cs", transform(col("cents"), c => struct(
        (dot(col("embedding"), c.getField("c_emb")) /
          (col("_n") * c.getField("c_norm"))).as("s"),
        (-c.getField("cell")).cast("long").as("negc"))))
      .select(col("vec_id"),
        (-array_max(col("_cs")).getField("negc")).cast("int").as("cell"),
        array_max(col("_cs")).getField("s").as("s"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    val native = joined
      .withColumn("_b", element_at(topCells(col("embedding"), col("cents"), 1), 1))
      .select(col("vec_id"), col("_b.cell"), col("_b.s"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(native.size == 200)
    native.foreach { case (id, (cell, s)) =>
      val (lc, ls) = legacy(id)
      assert(cell == lc, s"vec $id: cell $cell vs legacy $lc")
      // bit-identical, not approximately equal — the oracle replay
      // contract (same folds, same operation order)
      assert(java.lang.Double.doubleToLongBits(s) ==
        java.lang.Double.doubleToLongBits(ls), s"vec $id: s $s vs legacy $ls")
    }
  }

  test("codebook_topk top-n matches the HOF sort/slice probe list, any n") {
    val d = 8
    val joined = corpus(50, d).crossJoin(codebook(d))
    for (n <- Seq(1, 3, 16, 20)) {
      val legacy = joined
        .withColumn("_n", norm(col("embedding")))
        .withColumn("_cs", transform(col("cents"), c => struct(
          (dot(col("embedding"), c.getField("c_emb")) /
            (col("_n") * c.getField("c_norm"))).as("s"),
          (-c.getField("cell")).cast("long").as("negc"))))
        .select(col("vec_id"), expr(
          s"transform(slice(reverse(array_sort(_cs)), 1, $n), x -> CAST(-x.negc AS INT))")
          .as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      val nat = joined
        .withColumn("_t", topCells(col("embedding"), col("cents"), n))
        .select(col("vec_id"), expr("transform(_t, x -> x.cell)").as("cells"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      nat.foreach { case (id, cells) =>
        assert(cells == legacy(id), s"n=$n vec $id: $cells vs ${legacy(id)}")
        assert(cells.length == math.min(n, 16))
      }
    }
  }

  test("codebook_topk ties break toward the smallest cell") {
    // two cells share one centroid vector; a third is orthogonal
    val cent = spark.createDataFrame(Seq(
      (7, Seq(1.0, 0.0)), (3, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))))
      .toDF("cell", "c_emb")
    val v = spark.createDataFrame(Seq((0L, Seq(1.0f, 0.0f)))).toDF("vec_id", "embedding")
    val top = v.crossJoin(codebookOf(cent))
      .withColumn("_t", topCells(col("embedding"), col("cents"), 3))
      .select(expr("transform(_t, x -> x.cell)"))
      .collect().head.getSeq[Int](0)
    assert(top == Seq(3, 7, 1), s"tie order: $top")
  }

  test("codebook_topk is conspicuously NULL on a malformed codebook") {
    // one centroid has the wrong dimensionality — silent truncation
    // would score it plausibly; the VecDot contract NULLs instead
    val cent = spark.createDataFrame(Seq(
      (0, Seq(1.0, 0.0)), (1, Seq(0.5, 0.5, 0.5))))
      .toDF("cell", "c_emb")
    val v = spark.createDataFrame(Seq((0L, Seq(1.0f, 0.0f)))).toDF("vec_id", "embedding")
    val got = v.crossJoin(codebookOf(cent))
      .select(topCells(col("embedding"), col("cents"), 1).as("t"))
      .collect().head
    assert(got.isNullAt(0), "length-mismatched codebook must yield NULL, not a score")
    // third malformation shape (r15 review): non-null entry, NULL
    // c_emb FIELD — same conspicuous-NULL contract, not an executor NPE
    val nullEmb = spark.createDataFrame(Seq(
      (0, Some(Seq(1.0, 0.0))), (1, Option.empty[Seq[Double]])))
      .toDF("cell", "c_emb")
    val got2 = v.crossJoin(codebookOf(nullEmb)
        .withColumn("cents", expr(
          "transform(cents, x -> struct(x.cell AS cell, x.c_emb AS c_emb, " +
            "coalesce(x.c_norm, 1.0D) AS c_norm))")))
      .select(topCells(col("embedding"), col("cents"), 1).as("t"))
      .collect().head
    assert(got2.isNullAt(0), "NULL c_emb field must yield NULL, not NPE")
    // a non-array middle field fails ANALYSIS with the named message,
    // never a ClassCastException (r15 review)
    val badType = spark.createDataFrame(Seq((0, "oops", 1.0)))
      .toDF("cell", "c_emb", "c_norm")
      .agg(sort_array(collect_list(struct(col("cell"), col("c_emb"), col("c_norm"))))
        .as("cents"))
    val e = intercept[Exception] {
      v.crossJoin(badType)
        .select(topCells(col("embedding"), col("cents"), 1)).collect()
    }
    assert(e.getMessage.contains("codebook_topk needs"),
      s"expected the typed failure message, got: ${e.getMessage.take(200)}")
  }

  test("no lambda ever wraps the codebook scan: IVF/IMI/kmeans plans keep " +
      "VecDot/CodebookTopK outside every LambdaFunction") {
    val emb = corpus(120, 8)
    val q = emb.limit(5)
    def offendingLambdas(df: DataFrame): Seq[String] = {
      val plan = df.queryExecution.analyzed
      plan.flatMap(_.expressions.flatMap(_.collect {
        case lf: LambdaFunction if lf.exists {
          case _: VecDot | _: CodebookTopK => true
          case _ => false
        } => lf.sql
      }))
    }
    for ((name, df) <- Seq(
        "ivf" -> Ann.ivf(emb, q, 3, nCells = 8, trainIters = 1),
        "ivfImi" -> Ann.ivfImi(emb, q, 3, nCellsPerHalf = 2, trainIters = 1),
        "kmeans" -> Ann.kmeans(emb, k = 4, iters = 1))) {
      val bad = offendingLambdas(df)
      assert(bad.isEmpty, s"$name: codebook scan still under a lambda: $bad")
      // and the native scan is actually in the plan
      val hasNative = df.queryExecution.analyzed.exists(
        _.expressions.exists(_.exists(_.isInstanceOf[CodebookTopK])))
      assert(hasNative, s"$name: no CodebookTopK node in the plan")
    }
  }

  test("ivf auto path reroutes to IMI past the flat cell cap, loudly; " +
      "explicit nCells and below-cap corpora keep the flat structure") {
    // the decision rule itself: ⌈√N⌉ > cap (binds strictly past cap²)
    assert(!Ann.flatCapBinds(4096L * 4096, 4096))
    assert(Ann.flatCapBinds(4096L * 4096 + 1, 4096))
    assert(!Ann.flatCapBinds(100, 10))
    assert(Ann.flatCapBinds(101, 10))
    val emb = corpus(120, 8)
    val q = emb.limit(3)
    def joinKeys(df: org.apache.spark.sql.DataFrame): Set[String] = {
      val cols = df.columns.toSet
      Set("cell", "cell1", "cell2").filter(cols)
    }
    // capForTest low enough that ⌈√120⌉ = 11 binds → the candidate
    // stream must be the IMI (cell1, cell2) one
    val rerouted = Ann.ivfScored(emb, q, trainIters = 1, capForTest = 8)
    assert(joinKeys(rerouted) == Set("cell1", "cell2"),
      s"auto path past the cap must route via IMI, got ${rerouted.columns.toSeq}")
    assert(rerouted.count() > 0)
    // below the cap (production default): flat structure stays selected
    val flat = Ann.ivfScored(emb, q, trainIters = 1)
    assert(joinKeys(flat) == Set("cell"),
      s"below-cap auto path must stay flat, got ${flat.columns.toSeq}")
    // explicit nCells is never rerouted even when the cap would bind
    val forced = Ann.ivfScored(emb, q, nCells = 4, trainIters = 1, capForTest = 8)
    assert(joinKeys(forced) == Set("cell"),
      "explicit nCells must force the flat structure")
  }

  test("ivf_imi at odd d=65: half split is 32/33, search runs end-to-end " +
      "and matches brute force under exhaustive probing") {
    // the registered corpora are d=64; this pins the odd-d geometry
    // (VERDICT r14 low finding: slice puts the extra dim in half 2)
    val emb = corpus(24, 65)
    // the exact half exprs ivfImiScored builds (div truncates: 32 | 33),
    // proven to partition the vector
    val halves = emb.select(
      expr("size(slice(embedding, 1, size(embedding) div 2))").as("h1"),
      expr("size(slice(embedding, size(embedding) div 2 + 1, " +
        "size(embedding) - size(embedding) div 2))").as("h2"),
      expr("concat(slice(embedding, 1, size(embedding) div 2), " +
        "slice(embedding, size(embedding) div 2 + 1, " +
        "size(embedding) - size(embedding) div 2)) = embedding").as("covers"))
      .collect()
    halves.foreach { r =>
      assert(r.getInt(0) == 32 && r.getInt(1) == 33 && r.getBoolean(2),
        s"odd-d split: ${r.toSeq}")
    }
    val q = emb.limit(4)
    // kHalf=2, probePerHalf=2 → all 4 cell pairs probed → the routing
    // admits every pair, so IMI must EQUAL brute force exactly; a
    // mis-sliced half would NULL the assignment (CodebookTopK's
    // length contract) and empty the join instead
    val bf = Ann.bruteForce(emb, q, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    val imi = Ann.ivfImi(emb, q, 3, nCellsPerHalf = 2, probePerHalf = 2,
        nprobe = 4, trainIters = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).sorted.toSeq
    assert(imi == bf, s"exhaustive-probe IMI diverged from brute force at d=65")
  }

  test("centroidArray: a reordered driver-local table matches the aggregate form; other shapes fail naming columns") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types._
    val emb = ArrayType(DoubleType)
    val reordered = spark.createDataFrame(java.util.Arrays.asList(
        Row(5.0, Seq(3.0, 4.0), 2), Row(1.0, Seq(1.0, 0.0), 0), Row(1.0, Seq(0.0, 1.0), 1)),
      StructType(Seq(StructField("c_norm", DoubleType), StructField("c_emb", emb),
        StructField("cell", IntegerType))))
    assert(reordered.queryExecution.logical.isInstanceOf[LocalRelation])
    def cents(df: DataFrame): Seq[org.apache.spark.sql.Row] =
      Ann.centroidArray(df).collect().head.getSeq[Row](0)
    val fast = cents(reordered)
    // the same rows behind a non-local plan take the aggregate form
    val agg = cents(reordered.repartition(2))
    assert(fast == agg, s"fast $fast != agg $agg")
    assert(fast.map(_.getInt(0)) == Seq(0, 1, 2))
    assert(fast.head.schema.fieldNames.toSeq == Seq("cell", "c_emb", "c_norm"))
    val longCell = spark.createDataFrame(java.util.Arrays.asList(Row(0L, Seq(1.0), 1.0)),
      StructType(Seq(StructField("cell", LongType), StructField("c_emb", emb),
        StructField("c_norm", DoubleType))))
    val e = intercept[IllegalArgumentException](Ann.centroidArray(longCell))
    assert(e.getMessage.contains("(cell:bigint, c_emb:array<double>, c_norm:double)"),
      e.getMessage)
  }
}
