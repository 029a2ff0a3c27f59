package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * All vector math is a codegen'd sequential fold
  * (`aggregate(zip_with(...))` in double) — deterministic, engine-
  * portable (DuckDB's list_dot_product evaluates the identical fold,
  * so oracles compare bit-for-bit), and no UDF boundary.
  */
object VectorOps {
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Sequential double-precision dot product — the native codegen'd
    * VecDot Expression (see its scaladoc for why not
    * aggregate(zip_with(...))). */
  def dot(a: String, b: String): Column = dot(col(a), col(b))

  /** Column form — usable inside higher-order-function lambdas
    * (the per-row centroid argmax in [[Ann.ivf]]). */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(VecDot(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Squared L2 distance — the native [[VecL2Sq]], bit-identical to
    * the `aggregate(zip_with(...))` fold it replaces (see its
    * scaladoc: the a·a − 2a·b expansion would NOT be). */
  def l2sq(a: Column, b: Column): Column =
    ColumnBridge.column(VecL2Sq(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Top-n (s: cosine, cell) structs of `emb` against the broadcast
    * codebook, sorted (s desc, cell asc) — the native [[CodebookTopK]]
    * scan (scaladoc there: why the HOF `transform` form this replaces
    * was the IVF/IMI assignment bottleneck, and the bit-identical
    * score/tiebreak contract). */
  def topCells(emb: Column, cents: Column, n: Int): Column =
    ColumnBridge.column(CodebookTopK(
      ColumnBridge.expression(emb), ColumnBridge.expression(cents), n))

  /** L2 norm, floored at 1e-12: an all-zero embedding (failed encoder
    * output, padding row) must score cosine 0 against everything, not
    * 0/0 = NaN — Spark orders NaN ABOVE every number, so an unguarded
    * zero vector would take rank 1 in every top-k and pass every
    * similarity threshold (the same guard [[Quantize.quantized]]
    * applies to its scale division). */
  def norm(a: String): Column = norm(col(a))

  /** Column form of [[norm]] — ONE copy of the zero-norm guard; the
    * inline `greatest(sqrt(dot(x,x)), 1e-12)` re-spellings this
    * replaced were a drift trap for the guard's floor. */
  def norm(a: Column): Column = greatest(sqrt(dot(a, a)), lit(1e-12))

  /** TRUE iff every element is finite — the NaN/Inf twin of the
    * zero-norm guard above: ONE NaN element makes a vector's cosine
    * NaN against everything, and Spark orders NaN ABOVE every number
    * AND passes NaN >= threshold, so an unguarded corrupt vector
    * (failed encoder output) would take rank 1 in every top-k and
    * flip every is_dup verdict in the corpus (r12 sim review). The
    * search surfaces EXCLUDE non-finite vectors — no defined cosine,
    * no neighbor verdict; `embedding_stats` is the audit that finds
    * them upstream. */
  def allFinite(a: Column): Column =
    forall(a, x => !isnan(x) && abs(x) < lit(Double.PositiveInfinity))
}

object Ann {
  import VectorOps._

  /** Scale-safe distributed top-k per query, ordered (score desc,
    * nn_id asc): the bounded-state [[TopKStruct]] aggregate. Map-side
    * partial aggregation reduces every partition to ≤ k rows of heap
    * state BEFORE the shuffle, so no candidate row ever shuffles — one
    * hash shuffle of k-row buffers replaces the former two-window form
    * (local + global row_number), which sorted and shuffled the whole
    * candidate stream twice. The (score, -nn_id) struct makes the
    * ordering total, so output is deterministic. */
  def topK(scored: DataFrame, queryCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val payload = struct(col("_score").as("s"), (-col("nn_id")).cast("bigint").as("negid"))
    val agg = ColumnBridge.column(
      TopKStruct(ColumnBridge.expression(payload), k).toAggregateExpression())
    scored.groupBy(queryCol)
      .agg(agg.as("_top"))
      .select(col(queryCol), posexplode(col("_top")))
      .select(col(queryCol), (-col("col.negid")).as("nn_id"),
        col("col.s").as("_score"), (col("pos") + 1).as("rank"))
  }

  /** ONE copy of the broadcast-scored-pairs scaffold shared by
    * [[bruteForce]], [[hardNegatives]] and [[rangeSearch]] (their
    * docs each say "same scale shape" — so it is the same code):
    * query side broadcast with precomputed norms, corpus streamed
    * once through the codegen'd VecDot cosine, `pairFilter` applied
    * BEFORE anything shuffles. The three operators differ only in
    * extra carried columns, the filter, and the tail (top-k heap vs
    * threshold). */
  /** @param spread repartition the streamed side by nn_id before the
    *   broadcast cross join. For Q ≈ N consumers (the all-pairs
    *   report) the per-corpus-row work is Q·d mults, so a thin
    *   one-row-move shuffle is noise against the quadratic it
    *   parallelizes — without it, a single-row-group corpus file
    *   (the flat sf parquet layout) runs the whole N·Q scoring on ONE
    *   scan task (wall ≈ task measured on dedup_embedding, the
    *   eval_edit_ratio single-thread class from the r12 notes). OFF
    *   for few-query consumers (bruteForce at k queries), where the
    *   corpus shuffle would rival the scoring it spreads. Bonus: the
    *   nn_id hash partitioning survives the broadcast join, so the
    *   report's nn_id argmax aggregates without its own exchange. */
  private def scoredPairs(vectors: DataFrame, queries: DataFrame,
                          extraQ: Seq[Column] = Nil, extraV: Seq[Column] = Nil,
                          pairFilter: Column, spread: Boolean = false): DataFrame = {
    // norms precomputed per row, not per pair; non-finite vectors
    // excluded on BOTH sides (VectorOps.allFinite — one NaN element
    // would otherwise rank first everywhere)
    val q = queries.where(allFinite(col("embedding")))
      .select(Seq(col("vec_id").as("q_id"),
        col("embedding").as("q_emb")) ++ extraQ: _*)
      .withColumn("_qn", norm("q_emb"))
    val v0 = vectors.where(allFinite(col("embedding")))
      .select(Seq(col("vec_id").as("nn_id"),
        col("embedding")) ++ extraV: _*)
      .withColumn("_vn", norm("embedding"))
    // Par.spread: explicit-count keyed repartition (see its scaladoc
    // for the AQE-coalescing trap a countless repartition falls into —
    // measured here: coalesced 4.2 s ≈ no repartition; explicit 1.2 s)
    val v = if (spread) graft.core.Par.spread(v0, "nn_id") else v0
    v.crossJoin(broadcast(q))
      .where(pairFilter)
      .withColumn("_score", dot("q_emb", "embedding") / (col("_qn") * col("_vn")))
  }

  /** Exact float cosine re-score of a (q_id, nn_id) candidate list —
    * ONE copy of the refine scaffold shared by [[Quantize.annInt8Ivf]]
    * and [[Pq.pqSearch]] (r12 review: two hand-synced copies of this
    * join shape existed, the drift trap the verifyWith scaladoc
    * documents). The candidate list broadcasts EXPLICITLY: it comes
    * out of an aggregate whose size estimate is corpus-derived, so
    * without the hint the plan shuffles the whole float corpus by
    * nn_id. The corpus streams once through the semi-join-shaped hash
    * join; candidate-pool WIDTH stays the caller's parameter (it
    * belongs to candidate generation, not the refine). */
  /** Candidates-then-verify rerank width: 4k but never under 32 —
    * coarse candidate orderings (ADC cells, int8 cosine) starve a thin
    * float re-score; 32 is the standard faiss-style floor. ONE copy
    * (r13 review: Pq used max(32, 4k) while Quantize.annInt8Ivf had
    * drifted to max(4k, 20) — the compounded int8+IVF error path got
    * the THINNER pool of the two). */
  private[sim] def rerankWidth(k: Int): Int = math.max(32, 4 * k)

  private[sim] def refineExact(cand: DataFrame, vectors: DataFrame,
                               queries: DataFrame, k: Int): DataFrame = {
    val v = vectors.select(col("vec_id").as("nn_id"), col("embedding"))
      .withColumn("_vn", norm(col("embedding")))
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      .withColumn("_qn", norm(col("q_emb")))
    val exact = v.join(broadcast(cand.select("q_id", "nn_id")), "nn_id")
      .join(broadcast(q), "q_id")
      .withColumn("_score",
        dot(col("q_emb"), col("embedding")) / (col("_qn") * col("_vn")))
    topK(exact.select(col("q_id"), col("nn_id"), col("_score")), "q_id", k)
      .select(col("q_id"), col("nn_id"),
        round(col("_score"), 4).as("score"), col("rank"))
  }

  /** Exact brute-force cosine top-k: broadcast the (small) query side
    * against the full corpus — the correctness baseline every ANN
    * variant is measured against. */
  def bruteForce(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = scoredPairs(vectors, queries,
      pairFilter = col("nn_id") =!= col("q_id"))
    topK(scored, "q_id", k)
      .select(col("q_id"), col("nn_id"), round(col("_score"), 4).as("score"), col("rank"))
  }

  /** Hard-negative mining for contrastive / retrieval training (the
    * in-batch-negatives upgrade every dual-encoder pipeline runs —
    * Karpukhin et al. 2020 §3.2 pick top-scoring passages that are NOT
    * positives): for each query vector, the top-k most similar corpus
    * vectors whose LABEL differs — maximally confusing negatives.
    * Same scale shape as [[bruteForce]] (broadcast query side,
    * codegen'd VecDot, bounded-state top-k heap) with the label
    * mismatch filtered BEFORE anything shuffles.
    *
    * NULL labels are their own class (null-safe <=> comparison, r12
    * review): a NULL-labeled query mines negatives from every LABELED
    * vector and vice versa, and two NULLs never pair — the plain =!=
    * form silently VANISHED every NULL-labeled query from the report
    * (three-valued logic dropped all its pairs). */
  def hardNegatives(vectors: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = scoredPairs(vectors, queries,
      extraQ = Seq(col("label").as("_ql")), extraV = Seq(col("label")),
      pairFilter = !(col("label") <=> col("_ql")))
    topK(scored, "q_id", k)
      .select(col("q_id"), col("nn_id"), round(col("_score"), 4).as("score"),
        col("rank"))
  }

  /** Radius (range) search: every corpus vector within cosine ≥
    * `minCos` of each query — the "all sufficiently-similar" report
    * (dedup sweeps, recall audits, neighborhood exports) where top-k's
    * fixed cutoff is the wrong contract. Same scale shape as
    * [[bruteForce]]: the query side broadcasts with precomputed norms,
    * the corpus streams once through a codegen'd VecDot projection and
    * the threshold filters BEFORE anything shuffles — the result is
    * the only thing that ever leaves the scan, and per-query result
    * sizes are data-dependent (the reason no bounded-state top-k
    * applies). */
  def rangeSearch(vectors: DataFrame, queries: DataFrame, minCos: Double): DataFrame =
    scoredPairs(vectors, queries, pairFilter = col("nn_id") =!= col("q_id"))
      .where(col("_score") >= minCos)
      .select(col("q_id"), col("nn_id"), round(col("_score"), 4).as("score"))

  /** IVF-style ANN: a TRAINED coarse quantizer (deterministic mod-k
    * seeding refined by [[lloydCentroids]]'s Lloyd rounds — the faiss
    * train step), assign every vector to its nearest centroid, then
    * probe only the `nprobe` cells nearest each query. The probed-cell
    * equi-join is the scale path: a query touches ~nprobe/nCells of
    * the corpus.
    *
    * Cell assignment/probing is a PER-ROW PROJECTION over a broadcast
    * centroid array (argmax / sort-and-slice over nCells in-row
    * structs) — zero shuffle on the corpus side. The former window form
    * (row_number over vec_id after a corpus×nCells cross join) shuffled
    * the corpus nCells-fold twice; at 100 TB that shuffle, not the
    * scoring, is the cost. Shuffle inventory: one nCells-row cellMeans
    * shuffle per training round (corpus side map-only), then the cell
    * equi-join and the bounded-state top-k — the query plan itself
    * still shuffles nothing else.
    *
    * NOTE on construction semantics: like a faiss index build, calling
    * [[ivf]] RUNS the training (a count to size the index when
    * nCells <= 0, plus `trainIters` Lloyd rounds); the returned
    * DataFrame is the lazily-executable SEARCH. Callers that need plan
    * construction to stay job-free pass an explicit nCells and
    * trainIters = 0 (the untrained seeded quantizer — fine for plan
    * inspection, weak recall at scale). */
  /** Elementwise-mean centroids (cell, c_emb, c_norm) of explicitly
    * cell-tagged vectors — (cell, pos) partial avgs, norms precomputed
    * once. Shared by the IVF coarse quantizer and the k-means rounds. */
  private[sim] def cellMeans(tagged: DataFrame): DataFrame =
    tagged
      .select(col("cell"), posexplode(col("embedding")))
      // EXACT integer micro-unit mean — the obstacle that kept every
      // Lloyd consumer rows-only was the float `avg` here (partial-sum
      // order differs across partitions and engines). floor(x·10⁶) is
      // the identical IEEE op everywhere, BIGINT sums are order-
      // independent, and the floor division is the portable idiom
      // (Spark `div` truncates, DuckDB `//` floors — the pmod form
      // floors in both). Centroids come out integral in micro units;
      // cosine is scale-free, so assignment/scores are unchanged
      // semantics at 1e-6 centroid resolution — and now bit-identical
      // cross-engine, which turns kmeans/semantic-dedup into
      // full-oracle queries. Overflow headroom: |x| ≤ 1e3 → 1e9 micro
      // per element; 2^63/1e9 ≈ 9.2e9 members per cell before the sum
      // wraps — raise_error loudly at 2^62 (the bm25 discipline).
      .select(col("cell"), col("pos"),
        floor(col("col").cast("double") * 1e6).cast("long").as("xm"))
      .groupBy("cell", "pos")
      .agg(sum("xm").as("sm"), count(lit(1)).as("n"),
        max(abs(col("xm"))).as("_bm"))
      // EXACT-by-construction overflow guard (the dimStats form, r12
      // review): a long sum wrapped far past 2^63 can alias back
      // inside any post-check range — test worst-case n·max|xm| in
      // DOUBLE (cannot wrap) instead of the aliasable |sum| check
      .select(col("cell"), col("pos"),
        when(col("n").cast("double") * col("_bm") > lit(math.pow(2, 62)),
          raise_error(lit("cellMeans: worst-case micro-unit sum near " +
            "int64 range — rescale the micro units or shard the cell")))
          .otherwise(expr("(sm - pmod(sm, n)) div n")).cast("double").as("v"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("v")))).as("pv"))
      .select(col("cell"), expr("transform(pv, x -> x.v)").as("c_emb"))
      .withColumn("c_norm", norm(col("c_emb")))

  /** The whole centroid table collapsed to a single broadcast row
    * holding the (cell, c_emb, c_norm) array.
    *
    * Fast path (r17): when the centroid table is already DRIVER-LOCAL
    * (the [[lloydCentroids]] result — a k-row LocalRelation), the
    * sorted array row is assembled on the driver instead of through a
    * collect_list aggregate: `collect()` on a LocalRelation runs no
    * job, so every consumer's BroadcastExchange materializes without
    * scheduling a task — the agg form paid one (tiny but real) Spark
    * job per materialization of every IVF/IMI/kmeans plan. Same
    * values, same sort order (sort_array on structs orders by the
    * leading `cell` field, which is unique — equal to the driver-side
    * sort by `cell` below), same element schema: the (cell:int, c_emb,
    * c_norm) struct the aggregate builds, columns picked BY NAME, so a
    * local table in another column order still works and any other
    * shape fails naming its columns. Non-local inputs (the
    * trainIters = 0 lazy-seeded path) keep the aggregate form. */
  private[graft] def centroidArray(cent: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    import org.apache.spark.sql.types.{ArrayType, IntegerType, StructField, StructType}
    if (cent.queryExecution.logical.isInstanceOf[LocalRelation]) {
      val fields = cent.schema.fields.map(f => f.name -> f.dataType).toMap
      require(fields.get("cell").contains(IntegerType) &&
        fields.contains("c_emb") && fields.contains("c_norm"),
        "centroidArray: expected columns (cell:int, c_emb, c_norm), got " +
          cent.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
            .mkString("(", ", ", ")"))
      val idx = Seq("cell", "c_emb", "c_norm").map(cent.schema.fieldIndex)
      val rows = cent.collect()
        .map(r => org.apache.spark.sql.Row.fromSeq(idx.map(r.get)))
        .sortBy(_.getInt(0))
      val schema = StructType(Seq(StructField("cents",
        ArrayType(StructType(idx.map(cent.schema.fields)), containsNull = false),
        nullable = false)))
      val row: org.apache.spark.sql.Row =
        org.apache.spark.sql.Row(rows.toSeq)
      broadcast(cent.sparkSession.createDataFrame(
        java.util.Arrays.asList(row), schema))
    } else broadcast(
      cent.agg(sort_array(collect_list(struct(col("cell"), col("c_emb"), col("c_norm"))))
        .as("cents")))
  }

  /** Per-row best (s, cell) against every centroid: the native
    * [[CodebookTopK]] argmax — a PURE PROJECTION over the broadcast
    * centroid row, zero shuffle, and (since r15) one fused codegen
    * loop instead of the interpreted HOF transform + array_max walk
    * (CodebookTopK's scaladoc carries the measured rationale). */
  private[sim] def withBestCell(df: DataFrame, centArr: DataFrame): DataFrame =
    df.crossJoin(centArr)
      .withColumn("_best", element_at(topCells(col("embedding"), col("cents"), 1), 1))

  def ivf(vectors: DataFrame, queries: DataFrame, k: Int,
          nCells: Int = 0, nprobe: Int = 4,
          trainIters: Int = 2): DataFrame =
    topK(ivfScored(vectors, queries, nCells, nprobe, trainIters), "q_id", k)
      .select(col("q_id"), col("nn_id"), round(col("_score"), 4).as("score"), col("rank"))

  /** The flat quantizer's cell cap, and the auto-routing rule built on
    * it: past ⌈√N⌉ > cap (N ≳ 16.8M at the production cap of 4096) the
    * capped flat quantizer's probe join admits nprobe·N/cap candidates
    * per query — LINEAR in N — so the auto path switches the ROUTING
    * STRUCTURE to the two-level IMI quantizer instead (the faiss
    * index-factory decision: IVF→IMI/HNSW at scale, never more flat
    * cells). Measured adjudication: at 2e7 vectors the capped flat arm
    * DNF'd (>70 min) where IMI finished in 36.5 min end-to-end
    * (audits/imi_audit_r14.json). `capForTest` exists ONLY so a spec
    * can prove the switch fires without synthesizing 17M vectors. */
  private[graft] def flatCapBinds(n: Long, cap: Int): Boolean =
    math.ceil(math.sqrt(n.toDouble)) > cap

  /** The flat-IVF candidate stream BEFORE the top-k heap — one row per
    * (query, probed-cell member) scored pair. Exposed so candidate-
    * volume audits (audits/imi_audit_r14.json, imi_audit_r15.json;
    * pruning specs) can count what the routing admits without
    * re-deriving the plan. */
  private[graft] def ivfScored(vectors: DataFrame, queries: DataFrame,
                               nCells: Int = 0, nprobe: Int = 4,
                               trainIters: Int = 2,
                               capForTest: Int = 4096): DataFrame = {
    // nCells <= 0 → auto: ~√N cells (the faiss nlist rule, floored at
    // 16). The cell count MUST grow with the corpus: at a fixed count
    // the probed-cell join scores Q·nprobe·(N/nCells) pairs — quadratic
    // in corpus size (the r6 sf1 spike measured the fixed-16 form at
    // 23× cost for 10× data). At √N cells it is Q·nprobe·√N, and the
    // one extra count() job that sizes it is a metadata-only parquet
    // count. The auto size is CAPPED at 4096: past that, the flat
    // quantizer's own assignment (N·nCells·d per pass, and the
    // nCells·d broadcast) would outgrow the probe join it exists to
    // shrink — beyond ~16M vectors, real systems switch the ROUTING
    // structure, so the auto path DELEGATES to [[ivfImiScored]] there
    // ([[flatCapBinds]] — r14 verdict item 3: a 100 TB caller who
    // doesn't know to call ivfImi must not get the capped flat plan).
    // Callers with a tuned index pass nCells explicitly and are never
    // rerouted. Probe-budget mapping: IMI cells are finer (K² ≈ √N of
    // them vs the capped 4096), so probe 2·nprobe pairs — the same
    // flat-4 → IMI-8 ratio the registered defaults encode — and size
    // probePerHalf to keep ≥ nprobe pairs enumerable.
    val autoN = if (nCells <= 0) vectors.count() else 0L
    if (nCells <= 0 && flatCapBinds(autoN, capForTest)) {
      val imiProbe = 2 * nprobe
      val perHalf = math.max(4,
        math.ceil(math.sqrt(imiProbe.toDouble)).toInt)
      System.err.println(s"[ann] auto-routing: N=$autoN past the flat-IVF " +
        s"cell cap ($capForTest) — switching to the IMI two-level " +
        s"quantizer (probePerHalf=$perHalf, nprobe=$imiProbe pairs); " +
        "pass nCells explicitly to force the flat structure")
      return ivfImiScored(vectors, queries, nCellsPerHalf = 0,
        probePerHalf = perHalf, nprobe = imiProbe, trainIters = trainIters,
        knownN = autoN)
    }
    val cells =
      if (nCells > 0) nCells
      else math.min(capForTest,
        math.max(16, math.ceil(math.sqrt(autoN.toDouble)).toInt))
    // the coarse quantizer is TRAINED (a couple of Lloyd rounds), not
    // just mod-k seeded means: untrained cells are near-random slices
    // of the corpus, so neighbor recall decays like nprobe/nCells and
    // growing the cell count for scale destroys it — trained cells
    // concentrate each vector's neighbors in its nearest cells, which
    // is what lets nprobe stay FIXED while nCells grows with N (the
    // faiss train step). Training cost is iters·N·nCells·d map-side
    // arithmetic + an nCells-row shuffle per round. trainIters = 0
    // keeps the legacy fully-lazy seeded quantizer (no jobs at
    // construction; pair with an explicit nCells).
    // non-finite vectors excluded at intake (the scoredPairs guard):
    // one NaN would poison training sums AND take rank 1 in the probe
    val base = vectors.where(allFinite(col("embedding")))
      .select(col("vec_id"), col("embedding"))
    val cent =
      if (trainIters <= 0)
        // pmod: a negative vec_id under `%` would seed a negative cell
        // (the lloydCentroids/Pq.codebooks rule, r13 review)
        cellMeans(base.select(pmod(col("vec_id"), lit(cells)).cast("int").as("cell"),
          col("embedding")))
      else lloydCentroids(base, cells, trainIters)
    val centArr = centroidArray(cent)
    val assigned = withBestCell(base, centArr)
      .select(col("vec_id").as("nn_id"), col("embedding"),
        norm(col("embedding")).as("_vn"), col("_best.cell").as("cell"))
    // probes scored from the query vectors themselves, so queries need
    // not exist in the corpus (external query sets work like bruteForce).
    // CodebookTopK returns the nprobe best cells already sorted, so the
    // probe list is a plain struct explode — no lambda anywhere in the
    // flat-IVF plan's corpus-volume projections.
    val probes = queries.where(allFinite(col("embedding")))
      .select(col("vec_id"), col("embedding"))
      .crossJoin(centArr)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("_qn"),
        explode(topCells(col("embedding"), col("cents"), nprobe)).as("_p"))
      .select(col("q_id"), col("q_emb"), col("_qn"), col("_p.cell").as("cell"))
    probes.join(assigned, Seq("cell"))
      .where(col("nn_id") =!= col("q_id"))
      .withColumn("_score", dot("q_emb", "embedding") / (col("_qn") * col("_vn")))
  }

  /** IMI-style two-level coarse quantizer ANN (Babenko & Lempitsky
    * 2012, "The Inverted Multi-Index") — the ROUTING escape past
    * [[ivf]]'s flat 4096-cell cap. The embedding splits into two
    * halves; each half gets its own Lloyd-trained quantizer of
    * `nCellsPerHalf` centroids, and a routing cell is the PAIR
    * (cell1, cell2) — K² effective cells priced at two K-codebook
    * scans. Why this is the scale path:
    *   - flat IVF's per-row assignment scores N·nCells·d pairs and
    *     broadcasts nCells·d doubles; growing nCells with √N makes
    *     assignment N^1.5 — the reason [[ivf]] caps at 4096 cells,
    *     which BINDS past ~16M vectors (the r13 sf10 spike measured
    *     dedup_embedding_ivf at ~N^1.07 against the 10× bar, the one
    *     operator near linear). Real systems switch the routing
    *     structure there, not the cell count.
    *   - IMI assignment scores N·2K·(d/2) = N·K·d with K ~ N^(1/4)
    *     (assignment N^1.25), yet routes over K² ~ √N effective
    *     cells; the per-half cap of 4096 only binds past K² ≈ 16.7M
    *     cells ≈ 2.8e14 vectors. Broadcast stays 2·K·(d/2) doubles.
    *
    * Query routing is a PURE PROJECTION like [[ivf]]'s: score both
    * half-codebooks per row, take the `probePerHalf` best cells per
    * half, enumerate the probePerHalf² candidate pairs in-row, keep
    * the `nprobe` best by combined half-cosine (the multi-sequence
    * order of the paper, truncated to a bounded in-row sort — exact
    * for the pairs drawn from the per-half top lists), then ONE
    * (cell1, cell2) equi-join against the pair-assigned corpus — the
    * identical shuffle inventory as [[ivf]] (training rounds' K-row
    * aggregates + the probe equi-join + bounded-state top-k), no new
    * corpus shuffle, no corpus broadcast.
    *
    * Like [[ivf]], construction RUNS the training (faiss-build
    * semantics); trainIters = 0 keeps the fully-lazy seeded quantizer
    * for plan inspection. Auto sizing (`nCellsPerHalf` <= 0) is
    * K = ceil(N^(1/4)) floored at 4 — K² ≈ √N effective cells, the
    * same nlist rule as [[ivf]] — via nested `sqrt` (correctly-rounded
    * IEEE, so the DuckDB oracle's ceil(sqrt(sqrt(n))) is bit-identical
    * where `pow(n, 0.25)` would not be).
    *
    * Reference anchor: same coprocessor-side pruning role as the
    * salted/prefix scan routing in hbase-server scan machinery — the
    * index decides which stores a read touches; here which cell pair
    * a query scores. */
  def ivfImi(vectors: DataFrame, queries: DataFrame, k: Int,
             nCellsPerHalf: Int = 0, probePerHalf: Int = 4,
             nprobe: Int = 8, trainIters: Int = 2): DataFrame =
    topK(ivfImiScored(vectors, queries, nCellsPerHalf, probePerHalf,
        nprobe, trainIters), "q_id", k)
      .select(col("q_id"), col("nn_id"), round(col("_score"), 4).as("score"), col("rank"))

  /** The IMI candidate stream BEFORE the top-k heap ([[ivfScored]]'s
    * two-level sibling) — what the (cell1, cell2) routing admits. */
  private[graft] def ivfImiScored(vectors: DataFrame, queries: DataFrame,
                                  nCellsPerHalf: Int = 0, probePerHalf: Int = 4,
                                  nprobe: Int = 8, trainIters: Int = 2,
                                  knownN: Long = -1L): DataFrame = {
    val base = vectors.where(allFinite(col("embedding")))
      .select(col("vec_id"), col("embedding"))
    // sizing count runs over the UNFILTERED input like [[ivf]]'s (the
    // oracle's kk CTE counts the raw table; a metadata-only parquet
    // count either way — registered corpora hold no non-finite rows).
    // `knownN` lets the auto-route path hand down the N it already
    // counted (r15 review: the reroute paid a second full count job
    // on exactly the past-cap corpora this path exists for).
    val kHalf =
      if (nCellsPerHalf > 0) nCellsPerHalf
      else math.min(4096, math.max(4,
        math.ceil(math.sqrt(math.sqrt(
          (if (knownN >= 0) knownN else vectors.count()).toDouble))).toInt))
    // halves are computed per-row (size div 2), so no d probe job;
    // slice is 1-based and the second half takes the remainder (odd d
    // puts the extra dimension in half 2)
    val half1 = expr("slice(embedding, 1, size(embedding) div 2)")
    val half2 = expr("slice(embedding, size(embedding) div 2 + 1, " +
      "size(embedding) - size(embedding) div 2)")
    def trainHalf(half: Column): DataFrame = {
      val hb = base.select(col("vec_id"), half.as("embedding"))
      if (trainIters <= 0)
        cellMeans(hb.select(pmod(col("vec_id"), lit(kHalf)).cast("int").as("cell"),
          col("embedding")))
      else lloydCentroids(hb, kHalf, trainIters)
    }
    val centArr1 = centroidArray(trainHalf(half1))
    val centArr2 = centroidArray(trainHalf(half2))
      .withColumnRenamed("cents", "cents2")
    // per-half top-n (s, cell) lists — the native CodebookTopK scan
    // twice over one pass, against two 1-row broadcast codebooks
    // (n = 1 for assignment, probePerHalf for query routing)
    def withHalfTops(df: DataFrame, n: Int): DataFrame =
      df.crossJoin(centArr1).crossJoin(centArr2)
        .withColumn("_h1", half1).withColumn("_h2", half2)
        .withColumn("_t1", topCells(col("_h1"), col("cents"), n))
        .withColumn("_t2", topCells(col("_h2"), col("cents2"), n))
    val assigned = withHalfTops(base, 1)
      .select(col("vec_id").as("nn_id"), col("embedding"),
        norm(col("embedding")).as("_vn"),
        element_at(col("_t1"), 1).getField("cell").as("cell1"),
        element_at(col("_t2"), 1).getField("cell").as("cell2"))
    // pair enumeration in-row: probePerHalf² (ps, negc1, negc2)
    // structs, sorted so max = best combined score with smallest-
    // (cell1, cell2) tiebreak, sliced to nprobe, exploded — the
    // multi-sequence frontier truncated to the per-half top lists.
    // The transform lambdas here walk the BOUNDED probePerHalf-entry
    // top lists (≤ p² structs per query row), not the K-codebook —
    // the codebook scan already happened inside CodebookTopK.
    val probes = withHalfTops(
        queries.where(allFinite(col("embedding")))
          .select(col("vec_id"), col("embedding")), probePerHalf)
      .withColumn("_pairs", expr(
        "flatten(transform(_t1, a -> transform(_t2, b -> " +
          "struct(a.s + b.s AS ps, " +
          "CAST(-a.cell AS BIGINT) AS negc1, " +
          "CAST(-b.cell AS BIGINT) AS negc2))))"))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("_qn"),
        explode(expr(s"slice(reverse(array_sort(_pairs)), 1, $nprobe)")).as("_p"))
      .select(col("q_id"), col("q_emb"), col("_qn"),
        (-col("_p.negc1")).cast("int").as("cell1"),
        (-col("_p.negc2")).cast("int").as("cell2"))
    probes.join(assigned, Seq("cell1", "cell2"))
      .where(col("nn_id") =!= col("q_id"))
      .withColumn("_score", dot("q_emb", "embedding") / (col("_qn") * col("_vn")))
  }

  /** Topic clustering for dataset mixing — k-means (Lloyd) with the
    * same deterministic seeding as the IVF coarse quantizer (centroid
    * c₀ = mean of vec_id ≡ c mod k: no RNG, identical on any cluster),
    * cosine assignment. Each round is ONE shuffle (the (cell, pos)
    * partial-avg aggregate); assignment itself is a pure projection
    * over the broadcast centroid row. Per-round centroid tables (k
    * rows) are localCheckpoint-pinned so iteration N+1 doesn't replay
    * rounds 1..N, superseded pins freed immediately; the final
    * generation comes back as a driver-local relation with every pin
    * freed ([[lloydCentroids]]), so the returned plan holds no
    * persisted state.
    *
    * FULL-oracle contract since r9 — [[cellMeans]]' micro-unit
    * integer centroid means are bit-identical cross-engine, so DuckDB
    * replays the whole training round-for-round. The spec additionally
    * asserts determinism, an EMPIRICALLY non-decreasing objective
    * (cosine assignment with arithmetic-mean centroids is not Lloyd-
    * monotone in theory — the cosine-optimal centroid is the mean of
    * the NORMALIZED vectors; hence the spec's small tolerance) and
    * the no-cartesian plan shape. */
  def kmeans(vectors: DataFrame, k: Int = 10, iters: Int = 3): DataFrame = {
    // non-finite vectors excluded at intake (the ivf discipline): one
    // NaN poisons the cell micro-sums into an ANSI cast error mid-
    // training. An excluded vector has no assignment row — this is an
    // assignment report, not survivorship; dimStats finds the corrupt
    // vectors upstream.
    val base = vectors.where(allFinite(col("embedding")))
      .select(col("vec_id"), col("embedding"))
    val cent = lloydCentroids(base, k, iters)
    withBestCell(base, centroidArray(cent))
      .select(col("vec_id"),
        col("_best.cell").as("cluster"),
        round(col("_best.s"), 4).as("cos_to_centroid"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    * at web-scale through semantic deduplication"): k-means the
    * embedding space, call two items semantic duplicates when their
    * cosine INSIDE THE SAME CLUSTER clears `threshold`, and per
    * duplicate group keep exactly one exemplar — the member with the
    * LOWEST cosine to its cluster centroid (the paper's §3 keeper
    * choice: low-centroid-similarity exemplars preserve diversity;
    * ties break on vec_id). Pairing is a cluster equi-join — O(m²)
    * per cluster of size m, which is the paper's own scaling story: k
    * grows with N (SemDeDup runs 50k clusters on LAION) so m = N/k
    * stays bounded, and [[kmeans]]'s TRAINED centroids keep cells
    * data-even where untrained mod-k cells would not. Embeddings join
    * pre-normed once and shuffle only on the cluster key; duplicate
    * groups are transitive-closure components
    * ([[graft.dedup.Dedup.connectedComponents]], pointer jumping).
    * FULL-oracle contract since r9 (micro-unit kmeans + recursive-CTE
    * closure in DuckDB); the spec additionally plants jittered copies
    * and proves group recovery + the keeper rule.
    *
    * PIN CONTRACT: the returned DataFrame's plan carries LIVE
    * localCheckpoint pins (the kmeans assignment here, plus
    * connectedComponents' final label generation). CheckpointBridge
    * .free walks the plan and releases every reachable pin, so either
    * route the result through a pin-owning memo
    * (PipelineQueries.memoized + resetShared — the registered
    * query's path) or call free(result) once consumed. */
  def semanticDedup(vectors: DataFrame, k: Int = 0, iters: Int = 2,
                    threshold: Double = 0.95): DataFrame = {
    val base = vectors.select(col("vec_id"), col("embedding"))
    // k <= 0 → auto ~√N clusters (ivf's sizing, same reasoning: a
    // FIXED k makes the within-cell pair join score N·(N/k) pairs —
    // quadratic in corpus size, the exact shape the sf1 spike caught
    // in fixed-cell IVF; at √N clusters it is N·√N with the paper's
    // own bounded-cell-size posture). Same 16 floor / 4096 cap.
    val nClusters =
      if (k > 0) k
      else math.min(4096,
        math.max(16, math.ceil(math.sqrt(base.count().toDouble)).toInt))
    // the assignment table feeds FOUR plan subtrees (both sides of the
    // cluster self-join, the label join, the keeper argmin) and each
    // would re-run the N·k cosine assignment — pin it once, like
    // ngramJaccard pins its shingle table
    val km = kmeans(base, nClusters, iters).localCheckpoint()
    // connectedComponents runs EAGER jobs while km's pin is live and
    // the caller has no handle yet — a CC failure must free km here
    // or the N-row assignment checkpoint leaks per failed call (CC
    // frees only its OWN pins before rethrowing; r12 review)
    try {
      val v = base.join(km.select("vec_id", "cluster"), "vec_id")
        .withColumn("_n", norm("embedding"))
      val pairs = v.select(col("cluster"), col("vec_id").as("i"),
          col("embedding").as("_ea"), col("_n").as("_na"))
        .join(v.select(col("cluster"), col("vec_id").as("j"),
          col("embedding").as("_eb"), col("_n").as("_nb")), "cluster")
        .where(col("i") < col("j") &&
          dot(col("_ea"), col("_eb")) / (col("_na") * col("_nb")) >= threshold)
        .select("i", "j")
      val groups = graft.dedup.Dedup.connectedComponents(pairs)
        .select(col("id").as("vec_id"), col("lbl").as("sem_group"))
      val labeled = km.join(groups, Seq("vec_id"), "left")
        .withColumn("sem_group", coalesce(col("sem_group"), col("vec_id")))
      val keepers = labeled.groupBy("sem_group")
        .agg(min(struct(col("cos_to_centroid"), col("vec_id"))).as("_k"))
        .select(col("sem_group"), col("_k.vec_id").as("_keep_id"))
      val verdicts = labeled.join(keepers, "sem_group")
        .select(col("vec_id"), col("cluster"), col("sem_group"),
          col("cos_to_centroid"), (col("vec_id") === col("_keep_id")).as("keep"))
      // SURVIVORSHIP must not lose documents: kmeans excludes
      // non-finite vectors (no defined assignment), but a dedup
      // verdict table that silently DROPS a doc makes downstream
      // curation lose it — the NULL-key-dedup data-loss shape. A
      // corrupt embedding cannot be proven a duplicate of anything:
      // kept, own group, no cluster/cos (the exact/IVF report's
      // no-verdict-row discipline).
      vectors.select(col("vec_id")).join(verdicts, Seq("vec_id"), "left")
        .select(col("vec_id"), col("cluster"),
          coalesce(col("sem_group"), col("vec_id")).as("sem_group"),
          col("cos_to_centroid"),
          coalesce(col("keep"), lit(true)).as("keep"))
    } catch { case e: Throwable =>
      try org.apache.spark.sql.graftbridge.CheckpointBridge.free(km)
      catch { case c: Throwable => e.addSuppressed(c) }
      throw e
    }
  }

  /** The Lloyd loop shared by [[kmeans]] and [[ivf]]'s coarse-quantizer
    * training: deterministic mod-k seeding, `iters` rounds of (assign →
    * per-cell means), per-round k-row checkpoints pinned and freed when
    * superseded. The FINAL generation is collected to a driver-LOCAL
    * relation (k·d doubles — index metadata, the same driver-side
    * footprint [[centroidArray]]'s broadcast implies anyway) and its
    * pin freed too, so training leaves NOTHING in the block manager:
    * a service constructing many ivf/kmeans plans accumulates no
    * persisted state, and the returned table broadcasts from a
    * LocalRelation with no lineage back into the training jobs. */
  private[sim] def lloydCentroids(base: DataFrame, k: Int, iters: Int): DataFrame = {
    // pmod, not `%` (r13 review — the Pq.codebooks class): a NEGATIVE
    // vec_id under `%` seeds a negative cell id, silently doubling the
    // seed-cluster count and breaking the √N cell sizing.
    //
    // r17 round structure: each round's k·d-double centroid generation
    // is COLLECTED to the driver and fed back as a LocalRelation
    // (k·d doubles is index metadata — the same driver footprint
    // [[centroidArray]]'s broadcast implies anyway), so one round is
    // exactly ONE Spark job: the assignment-pass aggregate whose
    // collect returns the next generation. The former per-round
    // localCheckpoint(true) + broadcast-of-checkpoint form scheduled
    // two jobs per round plus block-manager writes and free RPCs — at
    // bench scale that latency DOMINATED training (the corpus pass is
    // map-side arithmetic), and at 100 TB the collect moves the same
    // k·d doubles to the driver that the checkpoint's broadcast
    // consumer did. Values are bit-identical: the per-round math
    // (cellMeans micro-units, CodebookTopK assignment) is unchanged;
    // only the transport of the k-row table between rounds moved.
    // Nothing is ever pinned, so there is nothing to free on failure.
    val spark = base.sparkSession
    val seeded = cellMeans(base
      .withColumn("cell", pmod(col("vec_id"), lit(k)).cast("int")))
    val schema = seeded.schema
    def local(rows: Array[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    var cent = seeded.collect()
    for (_ <- 1 to iters) {
      val assigned = withBestCell(base, centroidArray(local(cent)))
        .select(col("vec_id"), col("embedding"), col("_best.cell").as("cell"))
      cent = cellMeans(assigned).collect()
    }
    local(cent)
  }

  /** Embedding near-dup at scale: the same per-vector nearest-neighbor
    * report as [[nearestNeighborReport]], but routed through the IVF
    * cell join — every vector probes only its `nprobe` nearest cells
    * instead of broadcasting the whole corpus. Approximate (the true NN
    * can live in an unprobed cell; recall vs the exact report is
    * spec-asserted), and the only shape that survives 100 TB: the
    * broadcast is the capped centroid table (≤4096·d doubles — a few
    * MB), the join is an equi-join on cell id. */
  def nearestNeighborReportIvf(vectors: DataFrame, threshold: Double,
                               nCells: Int = 0, nprobe: Int = 4): DataFrame = {
    val found = ivf(vectors, vectors, 1, nCells, nprobe)
      .select(col("q_id").as("vec_id"), col("nn_id"),
        col("score").as("cos"), (col("score") >= threshold).as("is_dup"))
    // a vector ALONE in the intersection of its probed cells has no
    // candidate after the self-pair filter and would vanish from the
    // report — but the exact nearestNeighborReport emits one row per
    // vector, and a dup-rate denominator must not shift between the
    // exact and IVF paths: emit the lonely vector's no-neighbor row
    // (NULL nn, is_dup = false) explicitly
    vectors.select(col("vec_id")).join(found, Seq("vec_id"), "left")
      .withColumn("is_dup", coalesce(col("is_dup"), lit(false)))
  }

  /** Embedding near-dup via SRP (random-hyperplane) LSH — the third
    * candidate-generation arm next to the full report and the IVF cell
    * join: 64-bit [[SrpSig64]] signatures, split into `bands` band
    * keys; vectors sharing a band bucket become candidates (postings-
    * list emission off ONE groupBy shuffle, the [[graft.dedup.Dedup]]
    * pattern — no self-join), pre-filtered by signature hamming
    * distance, then verified with the EXACT cosine so every reported
    * pair is true. P[bit differs] = θ/π makes the clean-band
    * probability (1−θ/π)^(64/bands) per band: 8-bit bands catch
    * near-identical vectors (cos ≳ 0.99) with ~100% recall; for a
    * larger corpus widen to 16-bit bands (fewer, cleaner buckets) and
    * accept recall only at higher similarity — same dial as SimHash's
    * band width. The shuffle carries (vec_id, sig) pairs, never
    * embeddings; embeddings join back for the verify on the candidate
    * set only.
    *
    * `starAbove` is the degenerate-bucket ceiling ported from
    * [[graft.dedup.Dedup.minhashLsh]]: a (band, key) bucket larger
    * than it emits STAR pairs (sorted-min member to each other, K−1
    * edges) instead of all K(K−1)/2 — the escape hatch for a corpus
    * with 10⁶ near-identical embeddings (one boilerplate image/text
    * embedded a million times lands them all in one bucket, and
    * O(10¹²) candidate pairs is the blow-up mode of any LSH arm).
    * Same recall contract as MinHash's: connectivity is preserved for
    * mutual near-dup floods (the case that creates giant buckets), the
    * pair REPORT loses non-star pairs of such buckets — opt-in,
    * default off. */
  def srpDupPairs(vectors: DataFrame, threshold: Double = 0.9,
                  bands: Int = 8, maxHamming: Int = -1,
                  starAbove: Int = Int.MaxValue): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    require(bands >= 2 && 64 % bands == 0,
      s"bands ($bands) must divide 64 and be at least 2 " +
        "(bands=1 would need a 2^64 modulus, past Long's shift range)")
    val width = 64 / bands
    // the hamming pre-filter is the SECOND recall dial after band
    // width: a true pair at exactly `threshold` has P[bit differs] =
    // acos(t)/π per bit, so default to mean + 4σ of that binomial —
    // at t=0.9 that is ~21 bits, passing ≈ all true pairs while still
    // rejecting the hamming≈32 mass of unrelated bucket collisions
    val hamCut =
      if (maxHamming >= 0) maxHamming
      else {
        val p = math.acos(math.min(1.0, math.max(-1.0, threshold))) / math.Pi
        math.min(64, math.ceil(64 * p + 4 * math.sqrt(64 * p * (1 - p)))).toInt
      }
    // non-finite vectors excluded before signing (r12 sim review): a
    // NaN vector's SRP bits are arbitrary, and if it lands in a bucket
    // its verify cosine is NaN — which PASSES `cos >= threshold` under
    // Spark's NaN-is-largest ordering, emitting a false pair with a
    // NaN score. No defined angle, no pair; dimStats finds the vector.
    val fin = vectors.where(allFinite(col("embedding")))
    val sigs = fin.select(col("vec_id").as("doc_id"),
      ColumnBridge.column(SrpSig64(ColumnBridge.expression(col("embedding")))).as("sig"))
    // bucket/emission scaffolding shared with Dedup.simhash — ONE copy
    val cand = graft.dedup.Dedup.bandedSigPairs(
      sigs, bands = bands, width = width, starAbove = starAbove, hamCut = hamCut)
    val e = fin.select(col("vec_id"), col("embedding"),
      norm("embedding").as("_n"))
    cand
      .join(e.select(col("vec_id").as("i"), col("embedding").as("ei"),
        col("_n").as("ni")), "i")
      .join(e.select(col("vec_id").as("j"), col("embedding").as("ej"),
        col("_n").as("nj")), "j")
      .withColumn("cos", round(dot(col("ei"), col("ej")) / (col("ni") * col("nj")), 4))
      .where(col("cos") >= threshold)
      .select(col("i"), col("j"), col("cos"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two retrieval
    * rankings — the standard hybrid-search combiner (BM25 lexical +
    * vector cosine): each list contributes `⌊10⁶/(kConst+rank)⌋` to
    * every doc it ranks, integer floor division so the fused score is
    * exact bigint arithmetic in any engine (the float 1/(k+r) sum
    * would be summation-order-dependent). FULL OUTER join: a doc
    * ranked by only one side still fuses (rank absence contributes 0),
    * which is the point of RRF — neither modality can veto.
    *
    * Scale shape: both inputs are already top-k lists (bounded, ≤ a
    * few hundred rows), so the join and the final TakeOrderedAndProject
    * are metadata-sized regardless of corpus scale — the heavy lifting
    * happened inside the per-modality retrievers. */
  def rrfFuse(lex: DataFrame, vec: DataFrame,
              kConst: Int = 60, topK: Int = 20): DataFrame = {
    require(kConst >= 1 && topK >= 1, s"kConst/topK must be positive")
    lex.select(col("doc_id"), col("rank").cast("bigint").as("rank_lex"))
      .join(vec.select(col("doc_id"), col("rank").cast("bigint").as("rank_vec")),
        Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_lex"), col("rank_vec"),
        (coalesce(expr(s"1000000 div ($kConst + rank_lex)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($kConst + rank_vec)"), lit(0L)))
          .as("rrf_micro"))
      .orderBy(desc("rrf_micro"), asc("doc_id"))
      .limit(topK)
  }

  /** Embedding near-dup: every vector's exact nearest neighbor with a
    * duplicate flag at `threshold` cosine. Brute-force is the baseline
    * (full oracle); [[nearestNeighborReportIvf]] is the scale path for
    * the same report. */
  def nearestNeighborReport(vectors: DataFrame, threshold: Double): DataFrame = {
    // pair scoring rides the ONE broadcast-cosine scaffold
    // ([[scoredPairs]] — r13 review: this surface hand-rolled the
    // identical fin/norm/broadcast/dot shape with different column
    // names, the drift trap the scaffold exists to close; its
    // allFinite guard IS the r12 NaN-argmax fix, kept by reuse).
    // Excluded vectors still get their one-row-per-vector no-neighbor
    // row (NULL nn, is_dup false) through the same left join the IVF
    // variant uses, so the dup-rate denominator never shifts between
    // the exact and IVF paths.
    val scored = scoredPairs(vectors, vectors,
      pairFilter = col("q_id") =!= col("nn_id"), spread = true)
    // top-1 as an argmax aggregate, not a window: lexicographic max of
    // (score, -id) == best score with smallest-id tiebreak, computed
    // with map-side partial max — no pair row ever shuffles. The
    // argmax groups on nn_id — the STREAMED side of the scaffold's
    // broadcast join (cosine and the q≠nn pair set are symmetric, so
    // "best q per nn" IS the nearest-neighbor report): grouping on
    // the broadcast side's q_id instead holds partial-agg state for
    // ALL N ids in EVERY partition and shuffles partitions×N partial
    // rows, where streamed-side grouping completes each vector's
    // argmax locally (measured ~20% at sf0.1; the gap grows with
    // partition count at scale).
    val top = scored.groupBy("nn_id")
      .agg(max(struct(col("_score").as("s"), (-col("q_id")).as("negid"))).as("m"))
      .select(col("nn_id").as("vec_id"), (-col("m.negid")).as("nn_id"),
        round(col("m.s"), 4).as("cos"),
        (round(col("m.s"), 4) >= threshold).as("is_dup"))
    vectors.select(col("vec_id")).join(top, Seq("vec_id"), "left")
      .withColumn("is_dup", coalesce(col("is_dup"), lit(false)))
  }
}
