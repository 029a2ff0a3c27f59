package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.dedup.Dedup
import graft.sim.Ann
import graft.text.TextOps
import graft.multimodal.MM
import graft.analytics.Tools
import graft.{Oracle, Query, RowsOnly}

/** SURVEY §2G–J — the LLM-training-data pipeline operators as verified
  * queries over `documents` / `embeddings`.
  *
  * Oracle policy: full DuckDB oracles wherever the computation is
  * engine-portable (exact dedup, n-gram Jaccard, all text ops, mm_meta,
  * brute-force ANN and the nearest-neighbor dedup report — vector math
  * is a sequential double fold in both engines, bit-identical).
  * MinHash-LSH / SimHash / IVF depend on xxhash64 and float averaging
  * with no DuckDB equivalent → rows-only (driver records the weaker
  * check), with specs asserting their candidate-join plans instead.
  */
object PipelineQueries {

  private def docs(s: SparkSession, d: String): DataFrame = Tables.load(s, d, "documents")
  private def emb(s: SparkSession, d: String): DataFrame = Tables.load(s, d, "embeddings")

  /** The shingle table, the capped-ngram pair list and its
    * connected-components labels feed SEVERAL registered queries
    * (`dedup_ngram_jaccard`, `dedup_clusters`, `pipeline_curation`,
    * `dedup_minhash_lsh`) in any one session — Verify, Bench, or a user
    * composing the pipeline. Catalyst shares nothing across separate
    * queries, so each would re-tokenize the corpus and re-run the pair
    * join; memoize the pinned result per (session, dir) instead — the
    * single-JVM stand-in for the shingle/pair tables a corpus-scale
    * pipeline materializes once per snapshot and feeds to every
    * consumer. Each build returns a PINNED frame (a `localCheckpoint`
    * it takes itself, or a builder's own final pin, or a driver-local
    * relation), so [[resetShared]] can free it. Keyed by `sessionUUID`
    * (stable, unique per session — identityHashCode can collide after
    * GC) so checkpoints never leak across sessions (a localCheckpoint
    * dies with its context, and [[graft.core.Once]] sweeps its entry). */
  private val memos = new graft.core.Once[DataFrame]
  private def memoized(s: SparkSession, d: String, what: String)
                      (build: => DataFrame): DataFrame =
    memos(s, memoKey(s, d, what))(build)

  private def memoKey(s: SparkSession, d: String, what: String): String =
    s"${org.apache.spark.sql.graftbridge.SessionBridge.sessionUUID(s)}|$d|$what"

  /** Drop every memoized table, RELEASING its checkpoint blocks —
    * clearing the map alone strands the blocks in the block manager
    * until driver GC notices (the r4 bench regression: a 100-query JVM
    * accumulated every pinned table ever built). Bench hygiene: the
    * timed pass must pay the first computation of each shared table
    * inside the timed window — charged to the explicit `memo_setup`
    * line via [[prewarmShared]] (r9; first-consumer attribution made
    * per-query numbers move with registration order) — not inherit it
    * from the warmup pass, otherwise the dedup family times a cache
    * probe instead of the operator. Callers must not run this
    * concurrently with an executing consumer (freeing pins under a
    * running job is a use-after-free by definition) — Bench calls it
    * between passes only. */
  def resetShared(): Unit = {
    import org.apache.spark.sql.graftbridge.CheckpointBridge
    // drain removes each entry before its release and frees only BUILT
    // entries: a never-forced one is dropped with no checkpoint job
    memos.drain { df =>
      if (!df.sparkSession.sparkContext.isStopped)
        try CheckpointBridge.free(df)
        catch { case _: Throwable => () } // best-effort hygiene
    }
  }

  private def shingleTab(s: SparkSession, d: String): DataFrame =
    // Par.spread BEFORE the build (r17): the localCheckpoint pin
    // freezes the build's partitioning into every consumer, and the
    // flat sf corpus builds on ONE scan partition — so the memo build
    // (the per-doc shingle transform, memo_setup's biggest line) ran
    // single-threaded AND every consumer's scan-side probe over the
    // pin (decontaminate's explode+hash: measured a 2.1 s single-task
    // job) inherited the single partition
    memoized(s, d, "shingles")(
      Dedup.shingles(graft.core.Par.spread(docs(s, d), "doc_id")).localCheckpoint())

  /** The MULTI-consumer shared memos, in build order, by their memo
    * key. Bench charges their builds to an explicit `memo_setup` line
    * so per-query numbers stop depending on registration order — before
    * r9 the build landed on whichever consumer happened to run first,
    * so an unrelated insertion could shift ~1.5 s between queries (the
    * r8 ngram_novelty/dedup_substring "movers"). Single-consumer memos
    * (contain_shingles, label_prop, semantic_dedup, video_fps) stay
    * attributed to their one query — they ARE that query's cost. */
  private val sharedMemos: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    ("shingles", shingleTab _), ("presence_pairs", presencePairs _),
    ("ngram_pairs", ngramPairs _), ("ngram_clusters", ngramClusters _),
    ("quant_emb", quantEmb _), ("bpe_rules", bpeRules _))

  /** The shared memos currently built for (s, d). Read after a warmup
    * run of some queries, it is exactly the set those queries consume —
    * the layered ngram chain only to the depth they read — so no
    * consumer list is kept by hand. */
  def builtShared(s: SparkSession, d: String): Seq[String] =
    sharedMemos.map(_._1).filter { what =>
      memos.peek(memoKey(s, d, what)).nonEmpty
    }

  /** Rebuild `names` (from [[builtShared]]) through their accessors,
    * after a [[resetShared]] freed them. */
  def prewarmShared(s: SparkSession, d: String, names: Seq[String]): Unit =
    sharedMemos.foreach { case (what, build) => if (names.contains(what)) build(s, d) }

  /** The jittered-twin embedding corpus (base ∪ every-10th vector
    * scaled ×1.01 plus a small per-dimension pmod jitter, ids offset
    * by 10⁶) — ONE copy of the planting shared by `dedup_semantic`
    * and `dedup_embedding_srp`: the jitter formula IS those queries'
    * spec'd near-dup ground truth, so a drifted second copy would
    * decouple a query from its recall contract. */
  private def twinEmb(s: SparkSession, d: String): DataFrame = {
    val base = emb(s, d).select("vec_id", "embedding")
    val planted = base.where(col("vec_id") % 10 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, (x, j) -> " +
          "CAST(x * 1.01D + 0.001D * pmod(vec_id + j, 7) AS FLOAT))")
          .as("embedding"))
    base.unionByName(planted)
  }

  /** Last-char-changed text twins — ONE copy of the near-dup planting
    * shared by `mm_phash` and `mm_video_dedup` (the twinEmb
    * discipline: the planting IS those queries' spec'd ground truth,
    * and two hand-synced copies mirrored byte-for-byte in their
    * oracles could drift silently). Each doc_id % mod == residue doc
    * gets a copy at doc_id + offset with its final text char swapped
    * for '~'. */
  private[graft] def plantTextTwins(base: DataFrame, mod: Int, residue: Int,
                             offset: Long): DataFrame =
    base.unionByName(base.where(col("doc_id") % mod === residue)
      .select((col("doc_id") + offset).as("doc_id"),
        concat(expr("substring(text, 1, length(text) - 1)"), lit("~"))
          .as("text")))

  /** pass@k in ppm as a SQL CASE over (task, n, c, k) — ONE copy
    * shared by the `eval_pass_at_k` query and the hand-payload spec
    * that pins the wide-n arithmetic. The k=5 falling factorials are
    * widened to DECIMAL(38,0): n⁵·10⁶ ≤ 10³⁶ < 10³⁸ keeps the
    * products exact up to n = 10⁶ samples per task (the first int64
    * cut capped n at 100, which sf1's 1000-per-task corpus already
    * exceeds — the guard fired on a VALID eval set). The DuckDB
    * oracle mirrors with HUGEINT (int128, max ~1.7·10³⁸): same
    * exactness, that engine's widener. `div` on decimals returns
    * BIGINT, so the column type stays long in both engines. Past 10⁶
    * the guard still raises loudly — subsampling per task is the
    * documented escape (Chen et al. themselves estimate from a fixed
    * n per task). ONLY k = 1 and k = 5 have arms — any other k raises
    * rather than silently computing the k=5 value (r12 review: the
    * promotion to a shared expression made silent misuse reachable;
    * r13: a NULL k raises too — three-valued logic made both guard
    * arms AND the k=1 arm UNKNOWN, falling through to the k=5 ELSE). */
  private[graft] val passAtKPpm: String =
    """CASE
      |  WHEN n > 1000000 THEN raise_error(concat(
      |    'eval_pass_at_k: n = ', n,
      |    ' past the exact decimal(38) falling-factorial bound (1e6 at k<=5)',
      |    ' - subsample per task'))
      |  WHEN n IS NULL OR c IS NULL THEN raise_error(concat(
      |    'eval_pass_at_k: NULL n or c - three-valued logic skips the ',
      |    'widening guard and every value arm silently yields NULL ppm ',
      |    '(r13 review); aggregate counts upstream must be NOT NULL'))
      |  WHEN k IS NULL THEN raise_error(concat(
      |    'eval_pass_at_k: k is NULL - a NULL k made every guard arm ',
      |    'UNKNOWN and fell through to silently compute the k=5 value ',
      |    '(r13 review); tag each task with an explicit k'))
      |  WHEN k != 1 AND k != 5 THEN raise_error(concat(
      |    'eval_pass_at_k: k = ', k,
      |    ' but this expression hard-codes the k=1 and k=5 falling-',
      |    'factorial arms - extend the arms before extending the explode'))
      |  WHEN n - c < k THEN 1000000L
      |  WHEN k = 1 THEN 1000000L - ((n - c) * 1000000L div n)
      |  ELSE 1000000L -
      |    ((CAST(n-c AS DECIMAL(38,0)) * (n-c-1) * (n-c-2) * (n-c-3) * (n-c-4) * 1000000)
      |      div (CAST(n AS DECIMAL(38,0)) * (n-1) * (n-2) * (n-3) * (n-4)))
      |END""".stripMargin

  /** Per-source dedup telemetry over a doc relation and a near-dup
    * pair list — extracted from the `dedup_report` registration so the
    * NULL-text denominator rule is hand-payload-testable. The df join
    * is LEFT on digest (r15 verdict item 2): md5(NULL text) is a NULL
    * digest, which an INNER join drops — every NULL-text doc then
    * vanished from its source's n_docs DENOMINATOR while its siblings
    * kept their dup counts (both engines mirrored the drop, so the
    * gate couldn't see it — the same-hand-oracle blindness class). A
    * NULL-text doc is a non-dup report row: df NULL fails `>= 2`, and
    * no shingles means it can never join the near-dup pair graph. */
  private[graft] def dedupReport(docSrc: DataFrame, pairs: DataFrame): DataFrame = {
    val dg = docSrc.select(col("doc_id"), col("source"),
      md5(col("text")).as("digest"))
    val dfTab = dg.groupBy("digest").agg(count(lit(1)).as("df"))
    val near = pairs
      .select(explode(array(col("i"), col("j"))).as("doc_id"))
      .distinct()
      .withColumn("_nd", lit(1L))
    dg.join(dfTab, Seq("digest"), "left")
      .join(near, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_exact_dup"),
        sum(when(col("_nd").isNotNull, 1L).otherwise(0L)).as("n_near_dup"))
      .withColumn("exact_ppm", expr("n_exact_dup * 1000000 div n_docs"))
      .withColumn("near_ppm", expr("n_near_dup * 1000000 div n_docs"))
  }

  /** (cand_id, _c, ref_id, _r) — ONE copy of the adjacent-doc
    * candidate/reference pairing every generation-eval report shares
    * (eval_rouge_n / eval_bleu / eval_chrf / eval_edit_ratio):
    * candidate doc d against reference d+1, one payload column
    * carried per side. A real harness feeds its own pairing through
    * the PUBLIC [[graft.text.GenerationEval.evalPairs]] surface (the
    * contract is code since r13); this private helper only builds the
    * registered queries' synthetic pairing — swapping it edits ONE
    * place instead of four silently-driftable copies (r12 review). */
  private def adjacentPairs(src: DataFrame, payload: String): DataFrame =
    // Par.spread on the pair rows: every consumer metric (rouge /
    // bleu / chrf / edit) is a CPU-heavy per-pair projection, and the
    // flat single-file sf corpus otherwise leaves the pair table on
    // the scan's ONE partition (wall ≈ task, the Par scaladoc class)
    graft.core.Par.spread(
      src.select(col("doc_id").as("cand_id"), col(payload).as("_c"))
        .join(src.select((col("doc_id") - 1).as("cand_id"),
          col("doc_id").as("ref_id"), col(payload).as("_r")), "cand_id"),
      "cand_id")

  /** DISTINCT (source, shingle digest) presence pairs — ONE copy
    * of the presence semantics shared by `ngram_novelty` and
    * `source_overlap` (their two reports must agree on what "a source
    * contains a shingle" means); only 8-byte xxhash64 digests shuffle
    * (internal-only digest, the Dedup.crossDocSubstrings digest-choice
    * note: the consumers report COUNTS, so the md5 the DuckDB oracle
    * keeps and this hash agree up to ~1e-8 collision odds). */
  private def presencePairs(s: SparkSession, d: String): DataFrame = {
    // memoized like every other declared multi-consumer table:
    // ngram_novelty references it twice and source_overlap three
    // times IN ONE PLAN (Catalyst does no cross-subtree CSE), so the
    // unpinned form re-ran the explode+md5+distinct shuffle per
    // reference and again per sibling query. Dependency resolved
    // BEFORE the builder for clarity (a build may nest another key's).
    val sh = shingleTab(s, d)
    val dd = docs(s, d).select("doc_id", "source")
    memoized(s, d, "presence_pairs")(
      sh.join(dd, "doc_id")
        .select(col("source"), explode(col("shs")).as("_sh"))
        .select(col("source"), xxhash64(col("_sh")).as("g"))
        .distinct()
        .localCheckpoint())
  }

  /** Capped-ngram near-dup pairs with the registered parameters
    * (threshold 0.5, maxDf 8, minShared 2). Dependencies resolved
    * before the builder for clarity. */
  private def ngramPairs(s: SparkSession, d: String): DataFrame = {
    val sh = shingleTab(s, d)
    memoized(s, d, "ngram_pairs")(
      Dedup.ngramJaccard(docs(s, d), 0.5, pruneUnique = false,
        maxDf = Some(8), minShared = 2, shingleTable = Some(sh))
        .localCheckpoint())
  }

  /** (doc_id, cluster) component labels over [[ngramPairs]]. Pinned by
    * construction — connectedComponents hands back its checkpointed
    * final generation (and frees every superseded round itself). */
  private def ngramClusters(s: SparkSession, d: String): DataFrame = {
    val pairs = ngramPairs(s, d)
    memoized(s, d, "ngram_clusters")(
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("lbl").as("cluster")))
  }

  /** The int8-quantized embedding corpus (the stored ANN index at
    * scale), pinned once per (session, dir) — `ann_quantized` and
    * `ann_quantized_ivf` otherwise each re-quantize it per plan
    * subtree (centroids + assignment + scoring = 3× in the IVF path,
    * the r4 14-second query). */
  private def quantEmb(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "quant_emb")(graft.sim.Quantize.quantized(emb(s, d)).localCheckpoint())

  /** The trained BPE merge table (8 rules), collapsed to a DRIVER-LOCAL
    * relation and shared — the trained-model collect pattern: a
    * pipeline trains the tokenizer once per corpus snapshot and every
    * apply consumes the same rules. No localCheckpoint: a
    * driver-local DF has no checkpoint blocks to pin or free. */
  private def bpeRules(s: SparkSession, d: String): DataFrame =
    memoized(s, d, "bpe_rules") {
      val trained = TextOps.bpeTrain(docs(s, d), 8)
      s.createDataFrame(
        java.util.Arrays.asList(trained.collect(): _*), trained.schema)
    }

  val queries: Seq[Query] = Seq(
    // ---- §2G dedup ----
    Query("dedup_exact", (s, d) => Dedup.exact(docs(s, d)).orderBy("keeper"),
      Oracle("""SELECT keeper, n_copies FROM (
        |  SELECT min(doc_id) AS keeper, count(*) AS n_copies FROM documents
        |  WHERE text IS NOT NULL GROUP BY md5(text)
        |  UNION ALL
        |  SELECT doc_id, 1 FROM documents WHERE text IS NULL)
        |ORDER BY keeper""".stripMargin)),
    // df-ceiling on: shingles in more than 8 docs stay out of the
    // self-join (the O(df²) blow-up mode at web scale), candidates need
    // ≥2 shared rare shingles, and every reported pair is verified
    // against the FULL shingle sets — the oracle mirrors the same
    // capped-candidates + exact-verify semantics, so this is a full
    // oracle row, not rows-only.
    Query("dedup_ngram_jaccard", (s, d) => ngramPairs(s, d).orderBy("i", "j"),
      // ^ LEFT JOIN m (r15 review): the inner form dropped NULL-digest
      // shard rows (NULL never equi-joins), making the oracle's own
      // 'b.digest IS NULL THEN kept' arm dead code and diverging from
      // Dedup.incremental's kept row on a NULL-text capture
      Oracle(ddNgramPairs + " ORDER BY i, j")),
    // C4/CCNet-style line-level dedup: 6-word spans occurring in more
    // than one doc removed from every doc, cleaned text digested —
    // copies lose their shared spans, unique remainders survive
    Query("dedup_lines", (s, d) =>
      Dedup.lineDedup(docs(s, d), spanWords = 6, maxDf = 1)
        .orderBy("doc_id"),
      Oracle("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |n AS (SELECT doc_id, ts,
        |             greatest(1, CAST(ceil(len(ts) / 6.0) AS BIGINT)) AS n_lines
        |      FROM tok),
        |x AS (SELECT doc_id, ts, n_lines, unnest(range(1, n_lines + 1)) AS i FROM n),
        |spans AS (SELECT doc_id, i - 1 AS pos,
        |                 array_to_string(ts[(i-1)*6 + 1 : (i-1)*6 + 6], ' ') AS line
        |          FROM x),
        |df AS (SELECT line, count(*) AS df
        |       FROM (SELECT DISTINCT doc_id, line FROM spans) GROUP BY 1),
        |kept AS (SELECT s.doc_id, s.pos, s.line
        |         FROM spans s JOIN df USING (line) WHERE df <= 1),
        |k AS (SELECT doc_id, count(*) AS n_kept,
        |             md5(string_agg(line, ' ' ORDER BY pos)) AS clean_digest
        |      FROM kept GROUP BY 1)
        |SELECT n.doc_id, n.n_lines, coalesce(k.n_kept, 0) AS n_kept,
        |       coalesce(k.clean_digest, md5('')) AS clean_digest
        |FROM n LEFT JOIN k USING (doc_id) ORDER BY doc_id""".stripMargin)),
    // URL-level dedup over deterministically synthesized capture URLs
    // (documents carry no url column): residues 0/1 canonicalize to
    // the same page (case/scheme/www/port/tracking-param/fragment
    // noise), 2 and 3 stay distinct (no query string / different path)
    Query("dedup_url", (s, d) => {
      val caps = docs(s, d).select(col("doc_id"), expr(
        """CASE CAST(doc_id % 4 AS INT)
          |  WHEN 0 THEN concat('https://WWW.Example.com:443/doc/',
          |    CAST(doc_id div 4 AS STRING),
          |    '?utm_source=feed&utm_campaign=x&id=7#frag')
          |  WHEN 1 THEN concat('https://www.example.com/doc/',
          |    CAST(doc_id div 4 AS STRING), '?id=7')
          |  WHEN 2 THEN concat('HTTP://Example.COM/doc/',
          |    CAST(doc_id div 4 AS STRING), '/')
          |  ELSE concat('https://example.com/doc/',
          |    CAST(doc_id div 4 AS STRING), '/alt')
          |END""".stripMargin).as("url"))
      Dedup.urlDedup(caps).orderBy("keeper")
    },
      Oracle("""WITH caps AS (
        |  SELECT doc_id,
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN 'https://WWW.Example.com:443/doc/' || (doc_id // 4)
        |                  || '?utm_source=feed&utm_campaign=x&id=7#frag'
        |      WHEN 1 THEN 'https://www.example.com/doc/' || (doc_id // 4) || '?id=7'
        |      WHEN 2 THEN 'HTTP://Example.COM/doc/' || (doc_id // 4) || '/'
        |      ELSE 'https://example.com/doc/' || (doc_id // 4) || '/alt'
        |    END AS url
        |  FROM documents),
        |nofrag AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(url, '(?s)#.*$', ''),
        |                 '(?i)^https?://', '') AS u
        |  FROM caps),
        |cased AS (SELECT doc_id,
        |  lower(regexp_extract(u, '^[^/?]*')) ||
        |    regexp_extract(u, '(?s)^[^/?]*(.*)$', 1) AS u
        |  FROM nofrag),
        |canon AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(regexp_replace(
        |    u,
        |    '^www\.', ''),
        |    '^([^/:]+):(80|443)([/?]|$)', '\1\3'),
        |    '([?&])(?i:utm_[a-z0-9_]+)=[^&#]*', '\1', 'g'),
        |    '([?&])&+', '\1', 'g'),
        |    '^([^?]*?)/+\?', '\1?'),
        |    '[?&]+$', ''),
        |    '^([^?]*?)/+$', '\1') AS canonical_url
        |  FROM cased)
        |SELECT canonical_url, min(doc_id) AS keeper, count(*) AS n_copies
        |FROM canon GROUP BY 1 ORDER BY keeper""".stripMargin)),
    // asymmetric containment over a corpus augmented with planted
    // QUOTES (the front half of every doc_id%7==3 doc, id+500000):
    // contained-in-a-longer-doc pairs that Jaccard's union denominator
    // structurally scores below any useful threshold
    Query("dedup_containment", (s, d) => {
      val corpus = docs(s, d).select("doc_id", "text")
      val quotes = corpus.where(col("doc_id") % 7 === 3)
        .select((col("doc_id") + 500000).as("doc_id"),
          expr("array_join(slice(split(text, ' '), 1, " +
            "greatest(3, (size(split(text, ' ')) + 1) div 2)), ' ')").as("text"))
      val aug = corpus.unionByName(quotes)
      // the AUGMENTED corpus's shingle table pins through the memo
      // (one per session, released by resetShared) — the bare call
      // would localCheckpoint a fresh copy per invocation that
      // nothing ever frees (the r4 block-manager accumulation mode)
      val sh = memoized(s, d, "contain_shingles")(Dedup.shingles(aug).localCheckpoint())
      Dedup.ngramContainment(aug, 0.9, shingleTable = Some(sh))
        .orderBy("i", "j")
    },
      Oracle(s"""WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000,
        |         array_to_string(ts[1:greatest(3, (len(ts) + 1) // 2)], ' ')
        |  FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
        |  WHERE doc_id % 7 = 3),
        |${ddShingles("aug")},
        |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
        |kept AS (SELECT s FROM (SELECT s, count(*) AS df FROM ex GROUP BY s)
        |         WHERE df BETWEEN 2 AND 8),
        |exk AS (SELECT ex.doc_id, ex.s FROM ex JOIN kept USING (s)),
        |cand AS (SELECT a.doc_id AS i, b.doc_id AS j
        |         FROM exk a JOIN exk b ON a.s = b.s AND a.doc_id < b.doc_id
        |         GROUP BY 1, 2 HAVING count(*) >= 2),
        |v AS (SELECT i, j, len(list_intersect(sa.shs, sb.shs)) AS inter,
        |             len(sa.shs) AS ni, len(sb.shs) AS nj
        |      FROM cand c JOIN sh sa ON c.i = sa.doc_id JOIN sh sb ON c.j = sb.doc_id)
        |SELECT i, j, containment FROM (
        |  SELECT i, j, round(inter * 1.0 / least(ni, nj), 4) AS containment FROM v)
        |WHERE containment >= 0.9 ORDER BY i, j""".stripMargin)),
    // cluster resolution: the pair report made actionable — connected
    // components (min-label propagation + pointer jumping) over the
    // capped-ngram pairs, keeper = min doc_id of the component.
    // Transitive closure is the point: the oracle reproduces it with a
    // recursive CTE over the same pair list.
    Query("dedup_clusters", (s, d) =>
      ngramClusters(s, d)
        .select(col("doc_id"), col("cluster"),
          (col("doc_id") === col("cluster")).as("keep"))
        .orderBy("doc_id"),
      // transitive closure of the same pair list: min reachable doc_id =
      // the cluster id the pointer-jumping Spark path converges to
      Oracle(s"""WITH RECURSIVE pairs AS (
         |$ddNgramPairs
         |),
         |edges AS (SELECT i AS a, j AS b FROM pairs
         |          UNION ALL SELECT j AS a, i AS b FROM pairs),
         |reach AS (
         |  SELECT a AS id, b AS r FROM edges
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a)
         |SELECT id AS doc_id, least(id, min(r)) AS cluster,
         |       (least(id, min(r)) = id) AS keep
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),
    // duplication-neighborhood centrality: integer micro-PageRank over
    // the capped-ngram pair graph — the hub-document signal a keeper
    // policy can rank on (vs the min-id keeper); exact long arithmetic,
    // one shuffle per round, 3 rounds
    Query("graph_pagerank", (s, d) =>
      Dedup.pagerank(ngramPairs(s, d).select("i", "j"), iters = 3)
        .orderBy("node"),
      // the same pair graph, 3 unrolled micro-PageRank rounds — every
      // floor division mirrored, so the micro units agree exactly
      Oracle {
        val rounds = (1 to 3).map { r =>
          val prev = if (r == 1) "p0" else s"it${r - 1}"
          s"""c$r AS (SELECT dst AS node,
             |  CAST(sum((p * 850000) // (1000000 * deg)) AS BIGINT) AS s
             |  FROM edges JOIN $prev ON $prev.node = edges.src
             |  JOIN deg USING (src) GROUP BY 1),
             |it$r AS (SELECT nodes.node,
             |  CAST(150000 // n + coalesce(s, 0) AS BIGINT) AS p
             |  FROM nodes CROSS JOIN nn LEFT JOIN c$r USING (node))""".stripMargin
        }.mkString(",\n")
        s"""WITH pairs AS (
           |$ddNgramPairs
           |),
           |edges AS (SELECT i AS src, j AS dst FROM pairs
           |          UNION SELECT j AS src, i AS dst FROM pairs),
           |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
           |        FROM edges GROUP BY 1),
           |nodes AS (SELECT DISTINCT src AS node FROM edges),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
           |p0 AS (SELECT node, CAST(1000000 // n AS BIGINT) AS p
           |       FROM nodes CROSS JOIN nn),
           |$rounds
           |SELECT node, p AS p_micro FROM it3 ORDER BY node""".stripMargin
      }),
    // The dedup TELEMETRY every curation run reports before anyone
    // trusts its output: per source, how much of the corpus is
    // exact-duplicate (md5 digest df ≥ 2) vs near-duplicate (appears
    // in the ngram pair graph), in ppm. Digest df via groupBy+join
    // (map-side partial combine — a boilerplate digest shared by half
    // a source must pre-aggregate, not flood one partition); near-dup
    // membership is one distinct over the pair list. Only digests and
    // doc ids shuffle, never text.
    Query("dedup_report", (s, d) =>
      dedupReport(docs(s, d), ngramPairs(s, d)).orderBy("source"),
      // same digest df + pair-graph membership, rolled up per source
      Oracle(s"""WITH pairs AS (
         |$ddNgramPairs
         |),
         |near AS (SELECT DISTINCT i AS doc_id FROM pairs
         |         UNION SELECT DISTINCT j FROM pairs),
         |dg AS (SELECT doc_id, source, md5(text) AS digest FROM documents),
         |dfx AS (SELECT digest, count(*) AS df FROM dg GROUP BY 1),
         |g AS (SELECT source, count(*) AS n_docs,
         |        CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |          AS n_exact_dup,
         |        CAST(sum(CASE WHEN near.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_near_dup
         |      FROM dg LEFT JOIN dfx USING (digest) LEFT JOIN near USING (doc_id)
         |      GROUP BY 1)
         |SELECT source, n_docs, n_exact_dup, n_near_dup,
         |       n_exact_dup * 1000000 // n_docs AS exact_ppm,
         |       n_near_dup * 1000000 // n_docs AS near_ppm
         |FROM g ORDER BY source""".stripMargin)),
    // Corpus-diversity audit (the "what does each source add that
    // nothing else has" table a mixture designer reads next to
    // mixture_report): per source, distinct 3-gram shingles and the
    // NOVEL ones no other source contains, in ppm. Presence pairs
    // (source, digest) distinct in one aggregate, shingle→source
    // count in a second — only 16-byte md5 digests ever shuffle, the
    // shingle text stays in its scan (the decontaminate discipline).
    Query("ngram_novelty", (s, d) => {
      val pres = presencePairs(s, d)
      val counts = pres.groupBy("g").agg(count(lit(1)).as("n_src"))
      pres.join(counts, "g")
        .groupBy("source")
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("n_src") === 1, 1L).otherwise(0L)).as("n_novel"))
        // distinct-shingle counts are token-order: guard the ppm
        // multiply like quality_ablation/mixture_report (past
        // Long.Max/10⁶ the product wraps negative silently)
        .withColumn("novel_ppm",
          when(col("n_novel") > lit(Long.MaxValue / 1000000L),
            raise_error(lit("ngram_novelty: shingle ppm overflows int64 " +
              "— pre-aggregate in kiloshingles")))
          .otherwise(expr("n_novel * 1000000 div n_shingles")))
        .orderBy("source")
    },
      // same shingling, presence via the shared DISTINCT-pair CTE
      Oracle(s"""WITH $ddPresencePairs,
        |c AS (SELECT g, count(*) AS n_src FROM pres GROUP BY 1)
        |SELECT source, count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_novel,
        |       CAST(sum(CASE WHEN n_src = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         * 1000000 // count(*) AS novel_ppm
        |FROM pres JOIN c USING (g) GROUP BY 1 ORDER BY source""".stripMargin)),
    // The companion matrix to ngram_novelty: pairwise source-overlap —
    // how many distinct shingles sources A and B share, plus the
    // containment ppm in each direction (the "is source B just a
    // crawl of source A" question). The self-join is keyed on the
    // shingle digest with per-digest fanout bounded by the SOURCE
    // count (≤ C(n_sources, 2) pairs per digest, a constant) — never
    // a doc-level pair explosion; only digests shuffle.
    Query("source_overlap", (s, d) => {
      val pres = presencePairs(s, d)
      val sizes = pres.groupBy("source").agg(count(lit(1)).as("n"))
      val a = pres.select(col("source").as("src_a"), col("g"))
      val b = pres.select(col("source").as("src_b"), col("g"))
      a.join(b, "g").where(col("src_a") < col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(sizes.select(col("source").as("src_a"),
          col("n").as("_na"))), "src_a")
        .join(broadcast(sizes.select(col("source").as("src_b"),
          col("n").as("_nb"))), "src_b")
        .select(col("src_a"), col("src_b"), col("n_shared"),
          // shared-shingle counts are token-order — same loud int64
          // guard as ngram_novelty's ppm (one check covers both
          // directions: n_shared is the common numerator)
          when(col("n_shared") > lit(Long.MaxValue / 1000000L),
            raise_error(lit("source_overlap: shingle ppm overflows int64 " +
              "— pre-aggregate in kiloshingles")))
            .otherwise(expr("n_shared * 1000000 div _na")).as("contain_a_ppm"),
          expr("n_shared * 1000000 div _nb").as("contain_b_ppm"))
        .orderBy("src_a", "src_b")
    },
      // same presence pairs, digest-keyed self-join, both containments
      Oracle(s"""WITH $ddPresencePairs,
        |sz AS (SELECT source, count(*) AS n FROM pres GROUP BY 1),
        |ov AS (SELECT a.source AS src_a, b.source AS src_b,
        |              count(*) AS n_shared
        |       FROM pres a JOIN pres b ON a.g = b.g AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT src_a, src_b, n_shared,
        |       n_shared * 1000000 // na.n AS contain_a_ppm,
        |       n_shared * 1000000 // nb.n AS contain_b_ppm
        |FROM ov JOIN sz na ON na.source = src_a
        |        JOIN sz nb ON nb.source = src_b
        |ORDER BY src_a, src_b""".stripMargin)),
    // The threshold-sweep table every quality-filter ablation plots
    // (what fraction of docs/tokens survives each cutoff): per-doc
    // classifier scores bucket into 500k-µ cells, ONE aggregate
    // collapses the corpus to ≤7 bucket rows, and the survival
    // cumsum runs top-down over that bounded table only — the same
    // bounded-cell discipline as histogram_equi_depth, so no window
    // ever sees a data-cardinality child.
    Query("quality_ablation", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      // THE classifier's features and weights (shared TextOps copy),
      // so the sweep ablates the registered quality_classifier itself
      val scored = TextOps.qualityFeatures(docs(s, d))
        .select(col("n_tokens").as("_n"),
          TextOps.scoreMicro().as("score_micro"))
      val buckets = scored
        .withColumn("bucket", least(expr("score_micro div 500000"), lit(6L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"), sum("_n").as("n_tokens"))
      val tot = buckets.agg(sum("n_docs").as("_td"), sum("n_tokens").as("_tt"))
      val w = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      buckets
        .withColumn("kept_docs", sum("n_docs").over(w))
        .withColumn("kept_tokens", sum("n_tokens").over(w))
        .crossJoin(broadcast(tot))
        .select((col("bucket") * 500000L).as("cutoff_micro"),
          col("kept_docs"), col("kept_tokens"),
          expr("kept_docs * 1000000 div _td").as("doc_ppm"),
          // token volumes cross Long.Max/10⁶ (~9.2e12) inside the
          // 100 TB design point — guard loudly (doc counts never do)
          when(col("kept_tokens") > lit(Long.MaxValue / 1000000L),
            raise_error(lit("quality_ablation: token ppm overflows int64 " +
              "— pre-aggregate in kilotokens")))
          .otherwise(expr("kept_tokens * 1000000 div _tt")).as("token_ppm"))
        .orderBy("cutoff_micro")
    },
      // same micro-unit classifier score, bucketed, survival cumsum
      // over the bounded bucket table
      Oracle(s"""WITH $ddQualityScore,
        |b AS (SELECT least(score_micro // 500000, 6) AS bucket,
        |             count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
        |      FROM qsc GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS td,
        |             CAST(sum(n_tokens) AS BIGINT) AS tt FROM b),
        |k AS (SELECT bucket,
        |        CAST(sum(n_docs) OVER (ORDER BY bucket DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          AS kept_docs,
        |        CAST(sum(n_tokens) OVER (ORDER BY bucket DESC
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |          AS kept_tokens
        |      FROM b)
        |SELECT bucket * 500000 AS cutoff_micro, kept_docs, kept_tokens,
        |       kept_docs * 1000000 // td AS doc_ppm,
        |       kept_tokens * 1000000 // tt AS token_ppm
        |FROM k, t ORDER BY cutoff_micro""".stripMargin)),
    // Sparse trusted labels spread through near-dup structure: docs
    // with doc_id % 3 == 0 seed their lang; two clamped majority-vote
    // rounds over the ngram pair graph (ties to the smallest label —
    // set-deterministic). The oracle unrolls both rounds.
    Query("label_propagation", (s, d) => {
      // no localCheckpoint: labelPropagation returns its final pinned
      // frontier generation (per-round checkpoint discipline) — route
      // it through the session memo so resetShared frees the pin.
      // The ngramPairs dependency resolves BEFORE the builder for
      // clarity.
      val pairs = ngramPairs(s, d).select("i", "j")
      memoized(s, d, "label_prop") {
        val seeds = docs(s, d).where(col("doc_id") % 3 === 0)
          .select(col("doc_id").as("node"), col("lang").as("label"))
        Dedup.labelPropagation(pairs, seeds, rounds = 2)
      }.orderBy("node")
    },
      // the same pair graph, 2 unrolled clamped majority-vote rounds;
      // ties to the smallest label on both sides
      Oracle(s"""WITH pairs AS (
         |$ddNgramPairs
         |),
         |edges AS (SELECT i AS src, j AS dst FROM pairs
         |          UNION SELECT j AS src, i AS dst FROM pairs),
         |seeds AS (SELECT doc_id AS node, lang AS label FROM documents
         |          WHERE doc_id % 3 = 0),
         |v1 AS (SELECT e.dst AS node, s.label, count(*) AS cnt
         |       FROM edges e JOIN seeds s ON s.node = e.src GROUP BY 1, 2),
         |l1 AS (SELECT node, label FROM (
         |         SELECT node, label, row_number() OVER (
         |           PARTITION BY node ORDER BY cnt DESC, label) AS rn
         |         FROM v1 WHERE node NOT IN (SELECT node FROM seeds))
         |       WHERE rn = 1),
         |lab1 AS (SELECT node, label, 0 AS round FROM seeds
         |         UNION ALL SELECT node, label, 1 FROM l1),
         |v2 AS (SELECT e.dst AS node, l.label, count(*) AS cnt
         |       FROM edges e JOIN lab1 l ON l.node = e.src GROUP BY 1, 2),
         |l2 AS (SELECT node, label FROM (
         |         SELECT node, label, row_number() OVER (
         |           PARTITION BY node ORDER BY cnt DESC, label) AS rn
         |         FROM v2 WHERE node NOT IN (SELECT node FROM lab1))
         |       WHERE rn = 1)
         |SELECT node, label, round FROM lab1
         |UNION ALL SELECT node, label, 2 FROM l2 ORDER BY node""".stripMargin)),
    // the ingest-time gate every corpus refresh runs: a new shard
    // classified against the kept corpus. The shard is planted from the
    // corpus deterministically — verbatim copies (dup_in_corpus), twin
    // pairs sharing a fresh text (dup_in_batch for the larger id),
    // genuinely new texts (kept). The corpus scan is bloom-pruned by
    // the shard digest set BEFORE its exchange (plan-asserted).
    Query("dedup_incremental", (s, d) => {
      val corpus = docs(s, d)
      val a = corpus.where(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val twin = corpus.where(col("doc_id") % 5 === 1)
        .select(col("doc_id"), concat(lit("batch:"), col("text")).as("text"))
      val b1 = twin.select((col("doc_id") + 200000).as("doc_id"), col("text"))
      val b2 = twin.select((col("doc_id") + 300000).as("doc_id"), col("text"))
      val c = corpus.where(col("doc_id") % 5 === 2)
        .select((col("doc_id") + 400000).as("doc_id"),
          concat(lit("uniq:"), col("doc_id").cast("string"), lit(":"), col("text"))
            .as("text"))
      Dedup.incremental(corpus, a.unionByName(b1).unionByName(b2).unionByName(c))
        .orderBy("doc_id")
    },
      Oracle("""WITH shard AS (
        |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 200000, 'batch:' || text FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id + 300000, 'batch:' || text FROM documents WHERE doc_id % 5 = 1
        |  UNION ALL
        |  SELECT doc_id + 400000, 'uniq:' || CAST(doc_id AS VARCHAR) || ':' || text
        |  FROM documents WHERE doc_id % 5 = 2),
        |b AS (SELECT doc_id, md5(text) AS digest FROM shard),
        |c AS (SELECT DISTINCT md5(text) AS digest FROM documents),
        |m AS (SELECT digest, min(doc_id) AS min_id FROM b GROUP BY 1)
        |SELECT b.doc_id, b.digest,
        |       CASE WHEN b.digest IS NULL THEN 'kept'
        |            WHEN c.digest IS NOT NULL THEN 'dup_in_corpus'
        |            WHEN b.doc_id > m.min_id THEN 'dup_in_batch'
        |            ELSE 'kept' END AS status
        |FROM b LEFT JOIN c USING (digest) LEFT JOIN m USING (digest)
        |ORDER BY doc_id""".stripMargin)),
    Query("dedup_minhash_lsh", (s, d) =>
      Dedup.minhashLsh(docs(s, d), 0.5, shingleTable = Some(shingleTab(s, d)))
        .orderBy("i", "j"),
      RowsOnly("xxhash64 MinHash signatures have no portable SQL form; " +
        "specs assert recall and the candidate-join plan")),
    Query("dedup_simhash", (s, d) => Dedup.simhash(docs(s, d)).orderBy("i", "j"),
      RowsOnly("xxhash64 SimHash fingerprints have no portable SQL form; " +
        "specs assert recall and the candidate-join plan")),
    Query("dedup_embedding", (s, d) =>
      Ann.nearestNeighborReport(emb(s, d), 0.45).orderBy("vec_id"),
      // the trailing left join mirrors the Spark report's one-row-per-
      // vector denominator contract (a vector with no scoreable pair —
      // single-vector corpus, or every neighbor excluded — still gets
      // its is_dup = false row); value-identical on the registered
      // corpus where every vector has a neighbor
      Oracle(s"""WITH scored AS (
          |  SELECT a.vec_id, b.vec_id AS nn_id, ${ddCos("a.embedding", "b.embedding")} AS sc
          |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
          |top AS (SELECT vec_id, nn_id, sc,
          |          row_number() OVER (PARTITION BY vec_id ORDER BY sc DESC, nn_id) AS rn
          |        FROM scored),
          |t1 AS (SELECT vec_id, nn_id, round(sc, 4) AS cos,
          |              round(sc, 4) >= 0.45 AS is_dup
          |       FROM top WHERE rn = 1)
          |SELECT e.vec_id, t1.nn_id, t1.cos, coalesce(t1.is_dup, false) AS is_dup
          |FROM embeddings e LEFT JOIN t1 ON t1.vec_id = e.vec_id
          |ORDER BY e.vec_id""".stripMargin)),
    // the 100 TB path for the same report: IVF cell join, no full-corpus
    // broadcast. FULL oracle since r9 (micro-exact Lloyd replay);
    // recall vs the exact report + plan shape additionally spec'd.
    Query("dedup_embedding_ivf", (s, d) =>
      Ann.nearestNeighborReportIvf(emb(s, d), 0.45).orderBy("vec_id"),
      // the IVF-routed nearest-neighbor dedup report: every vector
      // queries its own index (k=1), lonely vectors keep their explicit
      // no-neighbor row — full oracle since r9
      Oracle(s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |$ddAutoCells,
         |${ddLloyd("(SELECT k FROM kk)", 2)},
         |${ddIvfProbe("")},
         |top AS (SELECT q_id, nn_id, sc,
         |          row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, nn_id) AS rank
         |        FROM qscored),
         |found AS (SELECT q_id AS vec_id, nn_id, round(sc, 4) AS cos,
         |                 (round(sc, 4) >= 0.45) AS is_dup FROM top WHERE rank = 1)
         |SELECT b.vec_id, f.nn_id, f.cos, coalesce(f.is_dup, false) AS is_dup
         |FROM base b LEFT JOIN found f USING (vec_id) ORDER BY b.vec_id""".stripMargin)),
    // the whole pipeline family composed as one plan: language gate →
    // quality gate → exact-dedup survivorship → near-dup cluster
    // survivorship, one audit row per document
    Query("pipeline_curation", (s, d) =>
      Curation.curate(docs(s, d),
          precomputedClusters = Some(ngramClusters(s, d)))
        .orderBy("doc_id"),
      // every arm mirrors its standalone oracle (langid ratio, quality
      // fold with the BIGINT cast, md5 keepers, recursive-CTE clusters),
      // joined back per document like the Spark plan
      Oracle(s"""WITH RECURSIVE pairs AS (
         |$ddNgramPairs
         |),
         |edges AS (SELECT i AS a, j AS b FROM pairs
         |          UNION ALL SELECT j AS a, i AS b FROM pairs),
         |reach AS (
         |  SELECT a AS id, b AS r FROM edges
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
         |cl AS (SELECT id AS doc_id, least(id, min(r)) AS cluster FROM reach GROUP BY id),
         |lang AS (SELECT doc_id,
         |           CASE WHEN round(len(list_filter(list_filter(string_split(text, ' '), x -> len(x) > 0), x -> x IN ($markerIn)))
         |                      * 1.0 / greatest(len(list_filter(string_split(text, ' '), x -> len(x) > 0)), 1), 4) >= 0.05
         |                THEN 'en' ELSE 'other' END AS pred_lang
         |         FROM documents),
         |tokq AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS t FROM documents),
         |freqs AS (SELECT doc_id, t, count(*) AS cnt FROM tokq GROUP BY 1, 2),
         |st AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens, count(*) AS n_distinct
         |       FROM freqs GROUP BY doc_id),
         |q AS (SELECT doc_id, n_tokens,
         |             round(least(n_tokens / 100.0, 1.0) * (n_distinct * 1.0 / n_tokens), 4) AS quality
         |      FROM st),
         |ek AS (SELECT min(doc_id) AS doc_id FROM documents
         |       WHERE text IS NOT NULL GROUP BY md5(text)
         |       UNION ALL SELECT doc_id FROM documents WHERE text IS NULL)
         |SELECT d.doc_id, l.pred_lang,
         |       CAST(coalesce(q.n_tokens, 0) AS BIGINT) AS n_tokens,
         |       coalesce(q.quality, 0.0) AS quality,
         |       (ek.doc_id IS NOT NULL) AS exact_keeper,
         |       cl.cluster,
         |       (l.pred_lang = 'en' AND coalesce(q.quality, 0.0) >= 0.3
         |        AND coalesce(q.n_tokens, 0) >= 10
         |        AND ek.doc_id IS NOT NULL
         |        AND (cl.cluster IS NULL OR cl.cluster = d.doc_id)) AS kept
         |FROM documents d
         |JOIN lang l ON d.doc_id = l.doc_id
         |LEFT JOIN q ON d.doc_id = q.doc_id
         |LEFT JOIN ek ON d.doc_id = ek.doc_id
         |LEFT JOIN cl ON d.doc_id = cl.doc_id
         |ORDER BY d.doc_id""".stripMargin)),
    // benchmark decontamination: docs sharing ≥2 distinct trigram
    // shingles with the benchmark set (doc_id ≡ 0 mod 41) are flagged —
    // the eval-leakage scrub; benchmark shingle set broadcasts
    Query("decontaminate", (s, d) => {
      val all = docs(s, d)
      // the benchmark set is a slice of the corpus, so its shingles
      // are a FILTER of the memoized shingle table — identical rows
      // to re-shingling the slice, without the raw-text rebuild
      DataPrep.decontaminate(all, all.where(col("doc_id") % 41 === 0),
          shingleTable = Some(shingleTab(s, d)),
          benchShingleTable = Some(
            shingleTab(s, d).where(col("doc_id") % 41 === 0)))
        .orderBy("doc_id")
    },
      // same shingle construction as ddNgramPairs; benchmark = doc_id ≡ 0
      // (mod 41), overlap counted over DISTINCT shingles per doc
      Oracle(s"""WITH ${ddShingles("documents")},
        |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
        |bs AS (SELECT DISTINCT s FROM ex WHERE doc_id % 41 = 0),
        |hits AS (SELECT e.doc_id, count(*) AS shared FROM ex e JOIN bs USING (s) GROUP BY 1)
        |SELECT d.doc_id, CAST(coalesce(h.shared, 0) AS BIGINT) AS shared_ngrams,
        |       coalesce(h.shared, 0) >= 2 AS contaminated
        |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin)),
    // keyword extraction: top-3 TF-IDF terms per doc, micro-log idf
    // (integer-exact cross-engine), doc-partitioned ranking window
    Query("text_tfidf", (s, d) =>
      TextOps.tfidf(docs(s, d), topK = 3).orderBy("doc_id", "rnk"),
      Oracle("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |              FROM documents),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf
        |       FROM toks WHERE token <> '' GROUP BY 1, 2),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS nd FROM documents),
        |sc AS (SELECT t.doc_id, t.token, t.tf, d.df,
        |         t.tf * (CAST(floor(log10(nd + 1) * 1e6) AS BIGINT)
        |               - CAST(floor(log10(d.df + 1) * 1e6) AS BIGINT)) AS score_micro
        |       FROM tf t JOIN df d USING (token), n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY score_micro DESC, token) AS rnk FROM sc)
        |SELECT doc_id, token, tf, df, score_micro, CAST(rnk AS BIGINT) AS rnk
        |FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin)),
    // lexical retrieval: Okapi BM25 top-20 for a fixed query, every
    // score a sum of exact bigint floor-divisions (rational k1/b
    // constants cleared against 10·L) — no float forms anywhere
    Query("text_bm25", (s, d) =>
      TextOps.bm25(docs(s, d), Seq("hash", "join", "vector"), topK = 20),
      Oracle("""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |            FROM documents),
        |t2 AS (SELECT doc_id, token FROM tk WHERE token <> ''),
        |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM t2 GROUP BY 1),
        |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM t2
        |       WHERE token IN ('hash', 'join', 'vector') GROUP BY 1, 2),
        |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM t2) AS l,
        |              (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n),
        |c AS (SELECT t.doc_id,
        |        ((CAST(floor(log10(n + 1) * 1e6) AS BIGINT)
        |          - CAST(floor(log10(df + 1) * 1e6) AS BIGINT))
        |         * t.tf * 22 * l) // (10 * l * t.tf + 3 * l + 9 * dl.dl * n)
        |          AS contrib
        |      FROM tf t JOIN df USING (token) JOIN dl USING (doc_id), st)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
        |       CAST(sum(contrib) AS BIGINT) AS score_micro
        |FROM c GROUP BY 1 ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin)),
    // DSIR importance scoring: log(p_en-target/p_corpus) under the
    // fixed 8192-bucket hashed-unigram models (the broadcastable
    // constant-size model is DSIR's own scale trick); micro-log exact
    Query("sample_importance", (s, d) =>
      // Par.spread: the per-token hash-feature walk is single-
      // partition on the flat corpus (measured 0.36 + 0.67 s
      // single-task jobs)
      TextOps.importanceScore(graft.core.Par.spread(docs(s, d), "doc_id"),
          col("lang") === "en")
        .orderBy("doc_id"),
      // the hash mirrors Spark's pmod exactly — ((k % m + m) % m), not
      // bare sign-preserving %, so the contract holds for negative keys
      Oracle("""WITH tok AS (SELECT doc_id, lang = 'en' AS t,
        |                    unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |tk AS (SELECT doc_id, t,
        |         list_reduce([CAST(0 AS BIGINT)] ||
        |           list_transform(string_split(token, ''),
        |             c -> CAST(ascii(c) AS BIGINT)),
        |           (h, c) -> (h * 31 + c) % 1000000007) % 8192 AS bucket
        |       FROM tok WHERE token <> ''),
        |model AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cr,
        |                 CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS ct
        |          FROM tk GROUP BY 1),
        |consts AS (SELECT CAST(sum(cr) AS BIGINT) AS nr,
        |                  CAST(sum(ct) AS BIGINT) AS nt FROM model),
        |per AS (SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |          CAST(sum(CAST(floor(log10(ct + 1) * 1e6) AS BIGINT)
        |                 - CAST(floor(log10(cr + 1) * 1e6) AS BIGINT)) AS BIGINT) AS s
        |        FROM tk JOIN model USING (bucket) GROUP BY 1),
        |w AS (SELECT doc_id, n_tokens,
        |        s + n_tokens * (CAST(floor(log10(nr + 8192) * 1e6) AS BIGINT)
        |                      - CAST(floor(log10(nt + 8192) * 1e6) AS BIGINT))
        |          AS logw_micro
        |      FROM per, consts)
        |SELECT doc_id, n_tokens, logw_micro, logw_micro > 0 AS target_like
        |FROM w ORDER BY doc_id""".stripMargin)),
    // fixed-size per-language eval-set draw: k = 16 docs per lang by
    // Knuth-hash order — deterministic across engines/partitionings,
    // ranked so any prefix is itself a valid smaller draw; rides the
    // bounded-state heap aggregate, never a per-group window sort
    Query("sample_reservoir", (s, d) =>
      DataPrep.sampleReservoir(docs(s, d), "doc_id", "lang", k = 16)
        .orderBy("lang", "draw"),
      Oracle("""WITH h AS (SELECT lang, doc_id,
        |  ((((doc_id % 2147483648) + 2147483648) % 2147483648)
        |    * 2654435761) % 4294967296 AS hk FROM documents),
        |r AS (SELECT lang, doc_id,
        |        row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id)
        |          AS draw
        |      FROM h)
        |SELECT lang, CAST(draw AS BIGINT) AS draw, doc_id FROM r
        |WHERE draw <= 16 ORDER BY lang, draw""".stripMargin)),
    // dataset mixing: per-language keep rates decided by a pure key
    // hash — reproducible across runs/engines/partitionings, zero
    // shuffle (the 100 TB form of "sample src_web at 10%")
    Query("sample_stratified", (s, d) =>
      DataPrep.sampleStratified(docs(s, d), "doc_id", "lang",
          Map("en" -> 0.9, "de" -> 0.5, "fr" -> 0.25, "es" -> 0.25, "zh" -> 0.1))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      Oracle("""SELECT doc_id, lang, source FROM documents
        |WHERE ((((doc_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296 <
        |      (CASE lang WHEN 'en' THEN 0.9 WHEN 'de' THEN 0.5 WHEN 'fr' THEN 0.25
        |                 WHEN 'es' THEN 0.25 WHEN 'zh' THEN 0.1 ELSE 0.0 END) * 4294967296
        |ORDER BY doc_id""".stripMargin)),
    // topic clustering for dataset mixing: deterministic-seed Lloyd
    // k-means, one shuffle per round, assignment a pure projection
    // over the broadcast centroid row. FULL oracle since r9: micro-
    // unit integer centroid means are engine-exact, so the whole
    // 3-round training replays in DuckDB
    Query("cluster_kmeans", (s, d) =>
      Ann.kmeans(emb(s, d), k = 10, iters = 3).orderBy("vec_id"),
      // full Lloyd replay: cellMeans' micro-unit centroid means made the
      // training integer-exact cross-engine (r9), so the former
      // rows-only float-mean obstacle is gone — 3 unrolled rounds, k=10
      Oracle(s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |${ddLloyd("10", 3)}
         |SELECT vec_id, cell AS cluster, round(cs, 4) AS cos_to_centroid
         |FROM a4 ORDER BY vec_id""".stripMargin)),
    // SemDeDup over the corpus seeded with jittered copies: semantic
    // groups recovered inside kmeans cells, one low-centroid-cosine
    // exemplar kept per group. FULL oracle since r9 (micro-unit
    // kmeans + recursive-CTE closure); recall additionally spec-proved
    Query("dedup_semantic", (s, d) => {
      // no localCheckpoint: semanticDedup pins its kmeans assignment and
      // the CC label generation inside the returned plan — the memo
      // makes resetShared's CheckpointBridge.free walk them, instead
      // of a fresh pair of pinned tables leaking per invocation
      memoized(s, d, "semantic_dedup")(
          Ann.semanticDedup(twinEmb(s, d), iters = 2, threshold = 0.95))
        .orderBy("vec_id")
    },
      // SemDeDup end-to-end: the jittered-twin planting, sqrt(N) auto-k
      // Lloyd (2 rounds), within-cluster cosine pairs, recursive-CTE
      // transitive closure, min-(cos, id) keeper — every stage the exact
      // engine-portable form of the Spark plan
      Oracle(s"""WITH RECURSIVE raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
         |twin AS (
         |  SELECT vec_id, CAST(de AS FLOAT[]) AS fe FROM raw
         |  UNION ALL
         |  SELECT vec_id + 1000000 AS vec_id,
         |         [CAST(de[i] * 1.01 + 0.001 * ((vec_id + (i-1)) % 7) AS FLOAT)
         |          for i in range(1, len(de)+1)] AS fe
         |  FROM raw WHERE vec_id % 10 = 0),
         |kk AS (SELECT least(4096, greatest(16, CAST(ceil(sqrt(count(*))) AS INT))) AS k
         |       FROM twin),
         |base AS (SELECT vec_id, CAST(fe AS DOUBLE[]) AS e FROM twin),
         |${ddLloyd("(SELECT k FROM kk)", 2)},
         |km AS (SELECT vec_id, cell AS cluster, round(cs, 4) AS cos_to_centroid, e FROM a3),
         |prs AS (
         |  SELECT x.vec_id AS i, y.vec_id AS j
         |  FROM km x JOIN km y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |  WHERE list_dot_product(x.e, y.e)
         |        / (greatest(sqrt(list_dot_product(x.e, x.e)), 1e-12)
         |           * greatest(sqrt(list_dot_product(y.e, y.e)), 1e-12)) >= 0.95),
         |edges AS (SELECT i AS a, j AS b FROM prs UNION ALL SELECT j AS a, i AS b FROM prs),
         |reach AS (
         |  SELECT a AS id, b AS r FROM edges
         |  UNION
         |  SELECT reach.id, e2.b FROM reach JOIN edges e2 ON reach.r = e2.a),
         |grp AS (SELECT id AS vec_id, least(id, min(r)) AS sem_group FROM reach GROUP BY id),
         |lab AS (SELECT km.vec_id, km.cluster, coalesce(grp.sem_group, km.vec_id) AS sem_group,
         |               km.cos_to_centroid
         |        FROM km LEFT JOIN grp USING (vec_id)),
         |keep AS (SELECT sem_group,
         |           min(struct_pack(c := cos_to_centroid, v := vec_id)) AS mk
         |         FROM lab GROUP BY sem_group)
         |SELECT lab.vec_id, lab.cluster, lab.sem_group, lab.cos_to_centroid,
         |       (lab.vec_id = keep.mk.v) AS keep
         |FROM lab JOIN keep USING (sem_group) ORDER BY lab.vec_id""".stripMargin)),
    // SRP (random-hyperplane) LSH near-dup arm over a corpus seeded
    // with deterministic jittered copies (cos ≈ 0.9999 vs their
    // original; the natural pair max is ~0.51, so threshold 0.9
    // isolates the planted pairs): band-bucket candidates, hamming
    // pre-filter, exact-cosine verify — the shuffle carries 64-bit
    // signatures, never embeddings
    Query("dedup_embedding_srp", (s, d) =>
      Ann.srpDupPairs(twinEmb(s, d), 0.9).orderBy("i", "j"),
      // DuckDB's lambda index is 1-based where Spark's is 0-based, hence
      // (vec_id + j - 1); recall of the banding at cos 0.9999 is
      // effectively exact (miss probability ~(1-0.986^8)^8 ≈ 2e-8 per
      // pair, deterministic given the fixed hyperplanes), so the exact
      // all-pairs oracle is the contract, not an approximation
      Oracle("""WITH pl AS (SELECT vec_id + 1000000 AS vec_id,
        |              list_transform(embedding, (x, j) ->
        |                CAST(CAST(x AS DOUBLE) * 1.01 + 0.001 * ((vec_id + j - 1) % 7) AS FLOAT))
        |                AS embedding
        |            FROM embeddings WHERE vec_id % 10 = 0),
        |u AS (SELECT vec_id, embedding FROM embeddings UNION ALL SELECT * FROM pl),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                                   CAST(embedding AS DOUBLE[]))) AS n
        |      FROM u),
        |p AS (SELECT a.vec_id AS i, b.vec_id AS j,
        |             round(list_dot_product(a.v, b.v) / (a.n * b.n), 4) AS cos
        |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT i, j, cos FROM p WHERE cos >= 0.9 ORDER BY i, j""".stripMargin)),
    // ExactSubstr cross-doc repeated spans: distinct word-8-grams
    // md5-digested, df computed on the digest, per-doc shared fraction
    Query("dedup_substring", (s, d) =>
      Dedup.crossDocSubstrings(docs(s, d)).orderBy("doc_id"),
      Oracle("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        |           WHERE len(string_split(text, ' ')) >= 8),
        |g AS (SELECT DISTINCT doc_id, h FROM (
        |        SELECT doc_id, unnest(list_transform(range(1, len(ws) - 6),
        |          i -> md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' ||
        |                   ws[i+4] || ' ' || ws[i+5] || ' ' || ws[i+6] || ' ' || ws[i+7]))) AS h
        |        FROM w)),
        |df AS (SELECT h, count(*) AS df FROM g GROUP BY 1),
        |r AS (SELECT doc_id, count(*) AS n_grams,
        |             CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
        |             round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 4)
        |               AS shared_frac
        |      FROM g JOIN df USING (h) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_grams, 0) AS n_grams,
        |       coalesce(n_shared, 0) AS n_shared, shared_frac
        |FROM documents d LEFT JOIN r USING (doc_id) ORDER BY d.doc_id""".stripMargin)),
    // domain-mixture resampling: target shares in percent, thresholds
    // derived from per-source counts (integer-exact), Knuth-hash pick
    Query("sample_mixture", (s, d) =>
      DataPrep.sampleMixture(docs(s, d), "doc_id", "source",
          Map("src0" -> 40, "src1" -> 30, "src2" -> 20, "src3" -> 10))
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("doc_id"),
      Oracle("""WITH w AS (SELECT * FROM (VALUES ('src0', 40), ('src1', 30), ('src2', 20), ('src3', 10))
        |      t(source, w)),
        |c AS (SELECT w.source, w.w, coalesce(n.ns, 0) AS ns
        |      FROM w LEFT JOIN (SELECT source, count(*) AS ns
        |                        FROM documents GROUP BY 1) n USING (source)),
        |tt AS (SELECT min((ns * 100) // w) AS t FROM c),
        |thr AS (SELECT source, ((((w * t) // 100)) * 4294967296) // ns AS thr
        |        FROM c, tt WHERE ns > 0)
        |SELECT d.doc_id, d.source, d.lang, d.n_chars
        |FROM documents d JOIN thr USING (source)
        |WHERE ((((doc_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296 < thr
        |ORDER BY d.doc_id""".stripMargin)),
    // temperature-scaled mixture over a skew-tagged corpus (residue
    // classes 50/30/20): at α = ½ the small source keeps the largest
    // fraction — the upsample-the-tail behavior the rule exists for
    Query("sample_temperature", (s, d) =>
      DataPrep.sampleTemperature(
          docs(s, d).withColumn("source_grp",
            when(col("doc_id") % 10 < 5, "big")
              .when(col("doc_id") % 10 < 8, "mid").otherwise("small")),
          "doc_id", "source_grp", targetPct = 40)
        .select("doc_id", "source_grp", "source", "n_chars")
        .orderBy("doc_id"),
      Oracle("""WITH tagged AS (
        |  SELECT doc_id, source, n_chars,
        |         CASE WHEN doc_id % 10 < 5 THEN 'big'
        |              WHEN doc_id % 10 < 8 THEN 'mid'
        |              ELSE 'small' END AS source_grp
        |  FROM documents),
        |c AS (SELECT source_grp, count(*) AS ns,
        |             CAST(floor(sqrt(count(*) * 1000000)) AS BIGINT) AS w
        |      FROM tagged GROUP BY 1),
        |z AS (SELECT sum(w) AS z, (sum(ns) * 40) // 100 AS t FROM c),
        |thr AS (SELECT source_grp,
        |               least(4294967296,
        |                     (((t // z) * w + ((t % z) * w) // z) * 4294967296) // ns)
        |                 AS thr
        |        FROM c, z)
        |SELECT d.doc_id, d.source_grp, d.source, d.n_chars
        |FROM tagged d JOIN thr USING (source_grp)
        |WHERE ((((doc_id % 2147483648) + 2147483648) % 2147483648) * 2654435761) % 4294967296 < thr
        |ORDER BY d.doc_id""".stripMargin)),
    // concat-and-chunk context packing, windows partitioned per
    // 100-doc bucket (no global running sum)
    Query("pack_sequences", (s, d) =>
      DataPrep.packSequences(docs(s, d), ctxTokens = 256, bucketSize = 100)
        .orderBy("doc_id"),
      Oracle("""WITH t AS (
        |  SELECT doc_id, doc_id // 100 AS bucket,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, bucket, n_tokens,
        |        sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id) AS cum
        |      FROM t)
        |SELECT doc_id, bucket, n_tokens,
        |       CAST(bucket * 1048576 + (cum - n_tokens) // 256 AS BIGINT) AS seq_id,
        |       CAST((cum - n_tokens) % 256 AS BIGINT) AS seq_offset
        |FROM c ORDER BY doc_id""".stripMargin)),
    // int8 scalar quantization audit: scale, quantized checksum/range,
    // reconstruction MSE per vector — all per-row codegen'd projections
    Query("embedding_quantize", (s, d) =>
      graft.sim.Quantize.int8Report(emb(s, d)).orderBy("vec_id"),
      // the identical guarded scale / explicit-floor clamp / dot-product
      // identity as Quantize.int8Report — double folds are bit-identical
      // across the engines
      Oracle("""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT vec_id, v,
        |        greatest(list_max(list_transform(v, x -> abs(x))) / 127, 1e-12) AS scale
        |      FROM e),
        |q AS (SELECT vec_id, v, scale,
        |        list_transform(v, x ->
        |          greatest(least(CAST(floor(x / scale + 0.5) AS BIGINT), 127), -127)) AS qv
        |      FROM s),
        |qd AS (SELECT vec_id, v, scale, qv, CAST(qv AS DOUBLE[]) AS qdv FROM q)
        |SELECT vec_id, round(scale, 6) AS scale,
        |       CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |       CAST(list_min(qv) AS BIGINT) AS q_min,
        |       CAST(list_max(qv) AS BIGINT) AS q_max,
        |       round((list_dot_product(v, v)
        |              - 2 * scale * list_dot_product(qdv, v)
        |              + scale * scale * list_dot_product(qdv, qdv))
        |             / len(v) * 1000000, 4) AS mse_ppm
        |FROM qd ORDER BY vec_id""".stripMargin)),
    // ---- §2H similarity ----
    Query("ann_bruteforce", (s, d) =>
      Ann.bruteForce(emb(s, d), emb(s, d).where(col("vec_id") < 10), 5)
        .orderBy("q_id", "rank"),
      Oracle(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
          |scored AS (
          |  SELECT q.q_id, e.vec_id AS nn_id, ${ddCos("q.q_emb", "e.embedding")} AS sc
          |  FROM q, embeddings e WHERE e.vec_id <> q.q_id),
          |top AS (SELECT q_id, nn_id, sc,
          |          row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, nn_id) AS rank
          |        FROM scored)
          |SELECT q_id, nn_id, round(sc, 4) AS score, rank FROM top
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),
    // PQ-ANN: 64x corpus compression (m=8 subspace codes vs float32),
    // ADC table-lookup scoring, float re-score of the 4k candidate
    // slice. FULL oracle since r9 (micro-exact codebook means); the
    // spec'd recall vs the float baseline remains the semantic contract
    Query("ann_pq", (s, d) =>
      graft.sim.Pq.pqSearch(emb(s, d), emb(s, d).where(col("vec_id") < 10), 5)
        .orderBy("q_id", "rank"),
      // PQ-ANN end-to-end: micro-exact per-subspace Lloyd (3 rounds,
      // m=8, ksub=16), corpus encoding, ADC table scoring (the ones-
      // vector dot keeps the sub-order sequential sum), top-32
      // candidates, exact float re-score of the slice — full oracle
      // since r9 (the micro-unit cell means made training bit-identical
      // cross-engine)
      Oracle(s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |${ddPq(8, 8, 16, 2)},
         |q AS (SELECT vec_id AS q_id, ne FROM nrm WHERE vec_id < 10),
         |tab AS (SELECT q.q_id, b.sub, b.code,
         |          list_dot_product(q.ne[b.sub*8+1 : b.sub*8+8], b.c) AS ip
         |        FROM q, b2 b),
         |adc AS (SELECT t.q_id, c.nn_id,
         |          list_dot_product(list(t.ip ORDER BY t.sub),
         |            [${Seq.fill(8)("1.0").mkString(", ")}]) AS adc
         |        FROM enc c JOIN tab t ON t.sub = c.sub AND t.code = c.code
         |        WHERE c.nn_id <> t.q_id
         |        GROUP BY 1, 2),
         |cand AS (SELECT q_id, nn_id FROM (
         |           SELECT q_id, nn_id,
         |             row_number() OVER (PARTITION BY q_id ORDER BY adc DESC, nn_id) AS rn
         |           FROM adc) WHERE rn <= 32),
         |fl AS (SELECT vec_id, e, greatest(sqrt(list_dot_product(e, e)), 1e-12) AS n FROM base),
         |ref AS (SELECT c.q_id, c.nn_id,
         |          list_dot_product(fq.e, fv.e) / (fq.n * fv.n) AS sc
         |        FROM cand c JOIN fl fv ON fv.vec_id = c.nn_id
         |                    JOIN fl fq ON fq.vec_id = c.q_id),
         |top AS (SELECT q_id, nn_id, sc,
         |          row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, nn_id) AS rank
         |        FROM ref)
         |SELECT q_id, nn_id, round(sc, 4) AS score, rank FROM top
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),
    // hybrid retrieval: BM25 lexical top-50 fused with vector-cosine
    // top-50 (query = vec 0) by reciprocal-rank fusion — integer
    // floor-division contributions, full-outer so neither modality
    // vetoes. The rank windows run over the ALREADY-bounded top-k
    // lists (<= 50 rows), not the corpus
    Query("ann_hybrid", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val lex = TextOps.bm25(docs(s, d), Seq("hash", "join", "vector"), topK = 50)
        .withColumn("rank", row_number().over(
          Window.orderBy(desc("score_micro"), asc("doc_id"))))
      val vec = Ann.bruteForce(emb(s, d),
          emb(s, d).where(col("vec_id") === 0), 50)
        .select(col("nn_id").as("doc_id"), col("rank"))
      Ann.rrfFuse(lex, vec).orderBy(desc("rrf_micro"), asc("doc_id"))
    },
      Oracle(s"""WITH tk0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
          |             FROM documents),
          |t2 AS (SELECT doc_id, token FROM tk0 WHERE token <> ''),
          |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM t2 GROUP BY 1),
          |tf AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS tf FROM t2
          |       WHERE token IN ('hash', 'join', 'vector') GROUP BY 1, 2),
          |df AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
          |st AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM t2) AS l,
          |              (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n),
          |c AS (SELECT t.doc_id,
          |        ((CAST(floor(log10(n + 1) * 1e6) AS BIGINT)
          |          - CAST(floor(log10(df + 1) * 1e6) AS BIGINT))
          |         * t.tf * 22 * l) // (10 * l * t.tf + 3 * l + 9 * dl.dl * n)
          |          AS contrib
          |      FROM tf t JOIN df USING (token) JOIN dl USING (doc_id), st),
          |lexs AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS score_micro
          |         FROM c GROUP BY 1),
          |lex AS (SELECT doc_id, row_number() OVER
          |          (ORDER BY score_micro DESC, doc_id) AS rank_lex
          |        FROM lexs QUALIFY rank_lex <= 50),
          |q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0),
          |vs AS (SELECT e.vec_id AS doc_id, ${ddCos("q.q_emb", "e.embedding")} AS s
          |       FROM embeddings e, q WHERE e.vec_id <> 0),
          |vec AS (SELECT doc_id, row_number() OVER
          |          (ORDER BY s DESC, doc_id) AS rank_vec
          |        FROM vs QUALIFY rank_vec <= 50),
          |f AS (SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
          |             l.rank_lex, v.rank_vec
          |      FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id)
          |SELECT doc_id, rank_lex, rank_vec,
          |       CAST(coalesce(1000000 // (60 + rank_lex), 0)
          |          + coalesce(1000000 // (60 + rank_vec), 0) AS BIGINT) AS rrf_micro
          |FROM f ORDER BY rrf_micro DESC, doc_id LIMIT 20""".stripMargin)),
    // embedding-space health audit: per-dimension stats (one map-side-
    // partial aggregate, 64 rows out), integer micro-unit means
    Query("embedding_stats", (s, d) =>
      graft.sim.Quantize.dimStats(emb(s, d)).orderBy("dim"),
      Oracle("""WITH x AS (SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
        |                  unnest(range(0, len(embedding))) AS dim
        |           FROM embeddings),
        |f AS (SELECT dim, v, (NOT isnan(v) AND NOT isinf(v)) AS fin FROM x),
        |g AS (SELECT CAST(dim AS BIGINT) AS dim, count(*) AS n,
        |             CAST(sum(CASE WHEN fin THEN 0 ELSE 1 END) AS BIGINT)
        |               AS n_nonfinite,
        |             sum(CASE WHEN fin
        |                 THEN CAST(floor(v * 1000000) AS BIGINT) END) AS sm,
        |             min(CASE WHEN fin THEN v END) AS mn,
        |             max(CASE WHEN fin THEN v END) AS mx
        |      FROM f GROUP BY 1)
        |SELECT dim, n, n_nonfinite,
        |       round(sm / (n - n_nonfinite) / 1000000.0, 4) AS mean_v,
        |       round(mn, 4) AS min_v, round(mx, 4) AS max_v,
        |       coalesce((mx - mn) < 0.0001, false) AS collapsed
        |FROM g ORDER BY dim""".stripMargin)),
    // radius search: all corpus vectors within cos >= 0.25 of each
    // query — data-dependent result sizes, so top-k doesn't apply;
    // threshold filters at the scan, before anything shuffles
    Query("ann_range_search", (s, d) =>
      Ann.rangeSearch(emb(s, d), emb(s, d).where(col("vec_id") < 10), 0.25)
        .orderBy("q_id", "nn_id"),
      Oracle(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
          |scored AS (
          |  SELECT q.q_id, e.vec_id AS nn_id, ${ddCos("q.q_emb", "e.embedding")} AS sc
          |  FROM q, embeddings e WHERE e.vec_id <> q.q_id)
          |SELECT q_id, nn_id, round(sc, 4) AS score FROM scored
          |WHERE sc >= 0.25 ORDER BY q_id, nn_id""".stripMargin)),
    Query("ann_ivf", (s, d) =>
      Ann.ivf(emb(s, d), emb(s, d).where(col("vec_id") < 10), 5)
        .orderBy("q_id", "rank"),
      // IVF search end-to-end: √N-cell Lloyd coarse quantizer (the same
      // unrolled micro-exact rounds), nprobe=4 best-cell probes, probed-
      // cell cosine top-5 — full oracle since r9
      Oracle(s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |$ddAutoCells,
         |${ddLloyd("(SELECT k FROM kk)", 2)},
         |${ddIvfProbe("WHERE b.vec_id < 10")},
         |top AS (SELECT q_id, nn_id, sc,
         |          row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, nn_id) AS rank
         |        FROM qscored)
         |SELECT q_id, nn_id, round(sc, 4) AS score, rank FROM top
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),
    // IMI two-level coarse quantizer (Babenko & Lempitsky 2012): the
    // routing escape past the flat 4096-cell cap — K² effective cells
    // priced at two K-codebook scans; assignment N^1.25 instead of
    // N^1.5 (r13 verdict item 1, the one measured scale frontier)
    Query("ann_ivf_imi", (s, d) =>
      Ann.ivfImi(emb(s, d), emb(s, d).where(col("vec_id") < 10), 5)
        .orderBy("q_id", "rank"),
      // IMI search end-to-end, CTE-for-CTE with the Spark plan: per-half
      // micro-exact Lloyd quantizers (ceil(sqrt(sqrt(N))) cells each —
      // nested sqrt is correctly-rounded IEEE, bit-identical cross-
      // engine where pow(n, .25) is not), per-half top-4 cells, the 16
      // candidate pairs ranked by combined half-cosine (ps DESC, cell1,
      // cell2 — Spark's reverse(array_sort(struct(ps, negc1, negc2)))),
      // top-8 pairs probed via the (cell1, cell2) equi-join, cosine
      // top-5. Halves via 1-based inclusive list slices ≡ Spark slice.
      Oracle(s"""WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
         |kk AS (SELECT least(4096, greatest(4, CAST(ceil(sqrt(sqrt(count(*)))) AS INT))) AS k FROM base),
         |b1 AS (SELECT vec_id, e[1:len(e) // 2] AS e FROM base),
         |b2 AS (SELECT vec_id, e[len(e) // 2 + 1:len(e)] AS e FROM base),
         |${ddLloyd("(SELECT k FROM kk)", 2, "h1", "b1")},
         |${ddLloyd("(SELECT k FROM kk)", 2, "h2", "b2")},
         |asg AS (SELECT b.vec_id AS nn_id, b.e,
         |          greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12) AS vn,
         |          x.cell AS cell1, y.cell AS cell2
         |        FROM base b JOIN h1a3 x ON x.vec_id = b.vec_id
         |                    JOIN h2a3 y ON y.vec_id = b.vec_id),
         |q1 AS (SELECT b.vec_id AS q_id, m.cell,
         |         list_dot_product(b.e, m.c)
         |           / (greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12) * m.cn) AS s,
         |         row_number() OVER (PARTITION BY b.vec_id ORDER BY
         |           list_dot_product(b.e, m.c)
         |             / (greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12) * m.cn) DESC,
         |           m.cell) AS prn
         |       FROM b1 b, h1m2 m WHERE b.vec_id < 10),
         |q2 AS (SELECT b.vec_id AS q_id, m.cell,
         |         list_dot_product(b.e, m.c)
         |           / (greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12) * m.cn) AS s,
         |         row_number() OVER (PARTITION BY b.vec_id ORDER BY
         |           list_dot_product(b.e, m.c)
         |             / (greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12) * m.cn) DESC,
         |           m.cell) AS prn
         |       FROM b2 b, h2m2 m WHERE b.vec_id < 10),
         |pq AS (SELECT a.q_id, a.cell AS cell1, b.cell AS cell2, a.s + b.s AS ps
         |       FROM (SELECT * FROM q1 WHERE prn <= 4) a
         |       JOIN (SELECT * FROM q2 WHERE prn <= 4) b USING (q_id)),
         |probes AS (SELECT q_id, cell1, cell2 FROM (
         |            SELECT *, row_number() OVER (PARTITION BY q_id
         |              ORDER BY ps DESC, cell1, cell2) AS rn FROM pq)
         |          WHERE rn <= 8),
         |qv AS (SELECT vec_id AS q_id, e AS qe,
         |         greatest(sqrt(list_dot_product(e, e)), 1e-12) AS qn
         |       FROM base WHERE vec_id < 10),
         |qscored AS (SELECT p.q_id, a.nn_id,
         |             list_dot_product(v.qe, a.e) / (v.qn * a.vn) AS sc
         |           FROM probes p JOIN qv v USING (q_id)
         |           JOIN asg a ON a.cell1 = p.cell1 AND a.cell2 = p.cell2
         |           WHERE a.nn_id <> p.q_id),
         |top AS (SELECT q_id, nn_id, sc,
         |          row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, nn_id) AS rank
         |        FROM qscored)
         |SELECT q_id, nn_id, round(sc, 4) AS score, rank FROM top
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),
    // ANN over the int8-quantized corpus: FULL oracle since r9 (the
    // quantizer was engine-portable by construction); the spec'd top-1
    // recall vs the float baseline remains the semantic contract
    Query("ann_quantized", (s, d) =>
      graft.sim.Quantize.annInt8(emb(s, d), emb(s, d).where(col("vec_id") < 10), 5,
          quantizedVectors = Some(quantEmb(s, d)))
        .orderBy("q_id", "rank"),
      // int8 brute force: the quantizer arithmetic was engine-portable
      // by construction (explicit floor, amax/127 scale); scoring the
      // reconstructed corpus is the same portable cosine fold
      Oracle(s"""WITH $ddQuantBase,
         |q AS (SELECT vec_id AS q_id, e AS qe,
         |        greatest(sqrt(list_dot_product(e, e)), 1e-12) AS qn
         |      FROM base WHERE vec_id < 10),
         |scored AS (SELECT q.q_id, r.vec_id AS nn_id,
         |             list_dot_product(q.qe, r.e)
         |               / (q.qn * greatest(sqrt(list_dot_product(r.e, r.e)), 1e-12)) AS sc
         |           FROM q, base r WHERE r.vec_id <> q.q_id),
         |top AS (SELECT q_id, nn_id, sc,
         |          row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, nn_id) AS rank
         |        FROM scored)
         |SELECT q_id, nn_id, round(sc, 4) AS score, rank FROM top
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),
    // IVF candidate generation over the pinned int8 corpus + float
    // re-scoring of the candidates (faiss SQ8+refine). FULL oracle
    // since r9; top-1 recall vs the float baseline additionally spec'd
    Query("ann_quantized_ivf", (s, d) =>
      graft.sim.Quantize.annInt8Ivf(emb(s, d), emb(s, d).where(col("vec_id") < 10), 5,
          quantizedVectors = Some(quantEmb(s, d)))
        .orderBy("q_id", "rank"),
      // SQ8 + refine: IVF candidates (top-32, the shared rerankWidth
      // floor at k = 5) over the reconstructed int8 corpus, exact float
      // re-score of the candidate slice only
      Oracle(s"""WITH $ddQuantBase,
         |$ddAutoCells,
         |${ddLloyd("(SELECT k FROM kk)", 2)},
         |${ddIvfProbe("WHERE b.vec_id < 10")},
         |cand AS (SELECT q_id, nn_id FROM (
         |           SELECT q_id, nn_id,
         |             row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, nn_id) AS rank
         |           FROM qscored) WHERE rank <= 32),
         |fl AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fe,
         |         greatest(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |           CAST(embedding AS DOUBLE[]))), 1e-12) AS fn
         |       FROM embeddings),
         |ref AS (SELECT c.q_id, c.nn_id,
         |          list_dot_product(fq.fe, fv.fe) / (fq.fn * fv.fn) AS sc
         |        FROM cand c JOIN fl fv ON fv.vec_id = c.nn_id
         |                    JOIN fl fq ON fq.vec_id = c.q_id),
         |top AS (SELECT q_id, nn_id, sc,
         |          row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, nn_id) AS rank
         |        FROM ref)
         |SELECT q_id, nn_id, round(sc, 4) AS score, rank FROM top
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),
    // ---- §2I text ----
    Query("text_langid", (s, d) => TextOps.langId(docs(s, d)).orderBy("doc_id"),
      Oracle(s"""SELECT doc_id,
         |       round(len(list_filter(list_filter(string_split(text, ' '), x -> len(x) > 0), x -> x IN ($markerIn)))
         |             * 1.0 / greatest(len(list_filter(string_split(text, ' '), x -> len(x) > 0)), 1), 4) AS en_ratio,
         |       CASE WHEN round(len(list_filter(list_filter(string_split(text, ' '), x -> len(x) > 0), x -> x IN ($markerIn)))
         |                  * 1.0 / greatest(len(list_filter(string_split(text, ' '), x -> len(x) > 0)), 1), 4) >= 0.05
         |            THEN 'en' ELSE 'other' END AS pred_lang
         |FROM documents ORDER BY doc_id""".stripMargin)),
    Query("text_quality", (s, d) => TextOps.quality(docs(s, d)).orderBy("doc_id"),
      Oracle(s"""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS t FROM documents),
         |freqs AS (SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |st AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens, count(*) AS n_distinct, max(cnt) AS max_freq,
         |              CAST(sum(CASE WHEN t IN ($markerIn) THEN cnt ELSE 0 END) AS BIGINT) AS n_stop
         |       FROM freqs GROUP BY doc_id),
         |pd AS (SELECT doc_id,
         |              len(regexp_extract_all(text, '[^a-z0-9 ]')) * 1.0 / length(text) AS punct_ratio
         |       FROM documents)
         |SELECT st.doc_id, n_tokens,
         |       round(n_distinct * 1.0 / n_tokens, 4) AS distinct_ratio,
         |       round(max_freq * 1.0 / n_tokens, 4) AS repetition,
         |       round(n_stop * 1.0 / n_tokens, 4) AS stopword_ratio,
         |       round(punct_ratio, 4) AS punct_ratio,
         |       round(least(n_tokens / 100.0, 1.0) * (n_distinct * 1.0 / n_tokens), 4) AS quality
         |FROM st JOIN pd ON st.doc_id = pd.doc_id ORDER BY st.doc_id""".stripMargin)),
    Query("text_tokens", (s, d) => TextOps.tokens(docs(s, d)).orderBy("doc_id"),
      Oracle("""SELECT doc_id, length(text) AS n_chars,
        |       len(string_split(text, ' ')) AS ws_tokens,
        |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens,
        |       round(length(text) * 1.0 / len(string_split(text, ' ')), 4) AS chars_per_token
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // the keep/drop quality gate with integer micro-unit features —
    // fixed weights stand in for a trained linear model's coefficients
    Query("quality_classifier", (s, d) =>
      TextOps.qualityClassifier(docs(s, d)).orderBy("doc_id"),
      Oracle("""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS t FROM documents),
        |s AS (SELECT doc_id, count(*) AS n, count(DISTINCT t) AS nd,
        |             CAST(sum(CASE WHEN t IN ('the', 'a', 'of', 'and', 'in', 'to', 'is')
        |                      THEN 1 ELSE 0 END) AS BIGINT) AS ns
        |      FROM tok GROUP BY 1),
        |f0 AS (SELECT doc_id,
        |             least(n, 64) * 15625 AS f_len_micro,
        |             (ns * 1000000) // n AS f_stop_micro,
        |             (nd * 1000000) // n AS f_dist_micro
        |      FROM s),
        |f AS (SELECT d.doc_id,
        |             coalesce(f0.f_len_micro, 0) AS f_len_micro,
        |             coalesce(f0.f_stop_micro, 0) AS f_stop_micro,
        |             coalesce(f0.f_dist_micro, 0) AS f_dist_micro
        |      FROM documents d LEFT JOIN f0 ON f0.doc_id = d.doc_id)
        |SELECT doc_id, f_len_micro, f_stop_micro, f_dist_micro,
        |       f_len_micro * 1 + f_stop_micro * 4 + f_dist_micro * 1 AS score_micro,
        |       f_len_micro * 1 + f_stop_micro * 4 + f_dist_micro * 1 >= 1500000
        |         AS keep
        |FROM f ORDER BY doc_id""".stripMargin)),
    // tokenizer-training prep: top-64 vocab with corpus coverage; the
    // selection is the bounded-state TopKStruct heap (map-side k-row
    // partials), never a window sort over the distinct-token table
    Query("vocab_build", (s, d) => TextOps.vocabBuild(docs(s, d), 64).orderBy("rank"),
      Oracle("""WITH t AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS cnt FROM t WHERE len(token) > 0 GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
        |r AS (SELECT token, cnt,
        |             row_number() OVER (ORDER BY cnt DESC, token DESC) AS rank,
        |             sum(cnt) OVER (ORDER BY cnt DESC, token DESC) AS cum
        |      FROM c)
        |SELECT rank, token, cnt,
        |       round(cnt / total, 4) AS pct,
        |       round(cum / total, 4) AS cum_pct
        |FROM r, tot WHERE rank <= 64 ORDER BY rank""".stripMargin)),
    // the C4 badwords gate: any blocklisted token drops the doc; the
    // list rides the projection as a literal array — scan-speed filter
    Query("text_blocklist", (s, d) =>
      TextOps.blocklist(docs(s, d), Seq("slow", "broken", "spam"))
        .orderBy("doc_id"),
      Oracle("""WITH t AS (SELECT doc_id,
        |             list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |           FROM documents)
        |SELECT doc_id,
        |       CAST(len(list_filter(toks,
        |         x -> list_contains(['slow', 'broken', 'spam'], x))) AS BIGINT) AS n_hits,
        |       CAST(len(list_intersect(list_distinct(toks),
        |         ['slow', 'broken', 'spam'])) AS BIGINT) AS n_distinct_hits,
        |       len(list_filter(toks,
        |         x -> list_contains(['slow', 'broken', 'spam'], x))) > 0 AS dropped
        |FROM t ORDER BY doc_id""".stripMargin)),
    // sliding-window chunking (width 32, stride 24 → overlap 8): every
    // token covered, short tail chunks, pure projection + explode
    Query("text_chunk", (s, d) =>
      TextOps.chunk(docs(s, d), 32, 24).orderBy("doc_id", "chunk_idx"),
      Oracle("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |c AS (SELECT doc_id, ts,
        |             greatest(0, (len(ts) - 32 + 23) // 24) AS cm FROM t),
        |x AS (SELECT doc_id, ts, unnest(range(0, cm + 1)) AS i FROM c)
        |SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
        |       CAST(i * 24 AS BIGINT) AS tok_start,
        |       CAST(least(32, len(ts) - i * 24) AS BIGINT) AS tok_len,
        |       array_to_string(ts[i*24 + 1 : i*24 + least(32, len(ts) - i*24)], ' ')
        |         AS chunk_text
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin)),
    // content-defined chunking (FastCDC family): boundaries from a
    // rolling content hash, so edits shift at most one chunk's digest
    // — the storage-style dedup report (dup chunks / dup bytes per doc)
    Query("dedup_cdc", (s, d) =>
      Dedup.cdcChunks(docs(s, d)).orderBy("doc_id"),
      // same boundary rule via list comprehensions: the Rabin fold of
      // each 4-gram decides the cuts, chunks substr out, digests count
      Oracle("""WITH a0 AS (SELECT doc_id, text, length(text) AS n,
        |    list_transform(string_split(text, ''),
        |      c -> CAST(ascii(c) AS BIGINT)) AS a
        |  FROM documents),
        |b AS (SELECT doc_id, text, n,
        |    CASE WHEN n >= 4 THEN
        |      [p for p in range(4, n + 1) if
        |        (((a[p - 3] * 31 + a[p - 2]) * 31 + a[p - 1]) * 31 + a[p])
        |          % 1000000007 % 64 = 0]
        |    ELSE [] END AS cuts
        |  FROM a0),
        |sl AS (SELECT doc_id, text,
        |    [1] || [CAST(p + 1 AS BIGINT) for p in cuts] AS starts,
        |    cuts || [CAST(n AS BIGINT)] AS ends
        |  FROM b),
        |ch AS (SELECT doc_id, unnest([
        |    substr(text, CAST(starts[i] AS INT),
        |           CAST(ends[i] - starts[i] + 1 AS INT))
        |    for i in range(1, len(starts) + 1)
        |    if ends[i] >= starts[i]]) AS chunk
        |  FROM sl),
        |cd AS (SELECT doc_id, md5(chunk) AS digest,
        |              CAST(length(chunk) AS BIGINT) AS chunk_len
        |       FROM ch WHERE length(chunk) > 0),
        |df AS (SELECT digest, count(*) AS dfreq FROM cd GROUP BY 1),
        |rep AS (SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_chunks,
        |    CAST(sum(chunk_len) AS BIGINT) AS n_bytes,
        |    CAST(sum(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_dup_chunks,
        |    CAST(sum(CASE WHEN dfreq >= 2 THEN chunk_len ELSE 0 END) AS BIGINT)
        |      AS dup_bytes,
        |    round(sum(CASE WHEN dfreq >= 2 THEN chunk_len ELSE 0 END)
        |          * 1.0 / sum(chunk_len), 4) AS dup_frac
        |  FROM cd JOIN df USING (digest) GROUP BY 1)
        |SELECT d.doc_id, coalesce(n_chunks, 0) AS n_chunks,
        |       coalesce(n_bytes, 0) AS n_bytes,
        |       coalesce(n_dup_chunks, 0) AS n_dup_chunks,
        |       coalesce(dup_bytes, 0) AS dup_bytes, dup_frac
        |FROM documents d LEFT JOIN rep USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    // SoftDeDup (Hernandez et al.-style repetition reweighting):
    // instead of dropping near-dup copies, every member of a cluster
    // trains at weight 1/cluster_size — integer micro-units, unique
    // docs at full weight. Composes the memoized cluster labels; the
    // down-weighting preserves corpus coverage while equalizing the
    // effective epoch count of repeated content
    Query("dedup_soft", (s, d) => {
      val labeled = docs(s, d).select("doc_id")
        .join(ngramClusters(s, d), Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      val sizes = labeled.groupBy("cluster")
        .agg(count(lit(1)).as("cluster_size"))
      labeled.join(sizes, "cluster")
        .select(col("doc_id"), col("cluster"), col("cluster_size"),
          expr("1000000 div cluster_size").as("weight_micro"))
        .orderBy("doc_id")
    },
      // the same recursive-CTE clusters, reweighted instead of culled
      Oracle(s"""WITH RECURSIVE pairs AS (
         |$ddNgramPairs
         |),
         |edges AS (SELECT i AS a, j AS b FROM pairs
         |          UNION ALL SELECT j AS a, i AS b FROM pairs),
         |reach AS (
         |  SELECT a AS id, b AS r FROM edges
         |  UNION
         |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
         |cl AS (SELECT id AS doc_id, least(id, min(r)) AS cluster
         |       FROM reach GROUP BY id),
         |lab AS (SELECT d.doc_id, coalesce(cl.cluster, d.doc_id) AS cluster
         |        FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
         |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM lab GROUP BY 1)
         |SELECT doc_id, cluster, cluster_size,
         |       CAST(1000000 // cluster_size AS BIGINT) AS weight_micro
         |FROM lab JOIN sz USING (cluster) ORDER BY doc_id""".stripMargin)),
    // cluster survivorship by QUALITY policy: within each near-dup
    // cluster keep the highest-quality doc (doc_id breaks ties), not
    // blindly the min id — the dedup decision real pipelines ship
    Query("dedup_keep_best", (s, d) => {
      val q = TextOps.quality(docs(s, d)).select(col("doc_id"), col("quality"))
      val labeled = q.join(ngramClusters(s, d), Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
      val best = labeled.groupBy("cluster")
        .agg(max(struct(col("quality").as("q"), (-col("doc_id")).as("negid")))
          .as("_b"))
      labeled.join(best, "cluster")
        .select(col("doc_id"), col("cluster"), col("quality"),
          (col("quality") === col("_b.q") &&
            col("doc_id") === -col("_b.negid")).as("keep"))
        .orderBy("doc_id")
    },
      Oracle(s"""WITH RECURSIVE pairs AS (
          |$ddNgramPairs
          |),
          |edges AS (SELECT i AS a, j AS b FROM pairs
          |          UNION ALL SELECT j AS a, i AS b FROM pairs),
          |reach AS (
          |  SELECT a AS id, b AS r FROM edges
          |  UNION
          |  SELECT reach.id, e.b FROM reach JOIN edges e ON reach.r = e.a),
          |cl AS (SELECT id AS doc_id, least(id, min(r)) AS cluster
          |       FROM reach GROUP BY id),
          |tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS t FROM documents),
          |freqs AS (SELECT doc_id, t, count(*) AS cnt FROM tok GROUP BY 1, 2),
          |st AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
          |              count(*) AS n_distinct
          |       FROM freqs GROUP BY doc_id),
          |q AS (SELECT doc_id,
          |             round(least(n_tokens / 100.0, 1.0)
          |                   * (n_distinct * 1.0 / n_tokens), 4) AS quality
          |      FROM st),
          |lab AS (SELECT q.doc_id, coalesce(cl.cluster, q.doc_id) AS cluster,
          |               q.quality
          |        FROM q LEFT JOIN cl ON q.doc_id = cl.doc_id),
          |r AS (SELECT *, row_number() OVER (PARTITION BY cluster
          |                ORDER BY quality DESC, doc_id) AS rn FROM lab)
          |SELECT doc_id, cluster, quality, rn = 1 AS keep
          |FROM r ORDER BY doc_id""".stripMargin)),
    // MOSS winnowing fingerprints (word-4-grams, window 8): per-doc
    // selected-min hash set reported as count + sorted-set digest; the
    // window min is partitioned by doc — never a global sort
    Query("text_winnowing", (s, d) =>
      // Par.spread: the k-gram hash walk is single-partition on the
      // flat corpus (measured 0.55 s single-task job before its
      // windowed min)
      TextOps.winnowing(graft.core.Par.spread(docs(s, d), "doc_id"), 4, 8)
        .orderBy("doc_id"),
      Oracle("""WITH w0 AS (SELECT doc_id, string_split(text, ' ') AS wd FROM documents),
        |g AS (SELECT doc_id,
        |        [md5(wd[i] || ' ' || wd[i+1] || ' ' || wd[i+2] || ' ' || wd[i+3])
        |         for i in range(1, len(wd) - 2)] AS hs
        |      FROM w0 WHERE len(wd) >= 11),
        |p AS (SELECT doc_id, unnest(hs) AS h,
        |             unnest(range(0, len(hs))) AS pos, len(hs) AS ng
        |      FROM g),
        |m AS (SELECT doc_id, pos,
        |             min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                          ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS sel,
        |             ng
        |      FROM p),
        |s AS (SELECT DISTINCT doc_id, sel FROM m WHERE pos <= ng - 8)
        |SELECT doc_id, count(*) AS n_fps,
        |       md5(array_to_string(list_sort(list(sel)), ',')) AS fp_digest,
        |       min(sel) AS min_fp
        |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin)),
    // Gopher-style word-n-gram repetition gate: fraction of repeated
    // 2-grams, top-2-gram share, 3-gram repeats; pass under thresholds
    Query("text_repetition", (s, d) =>
      // Par.spread: the per-doc n-gram repetition walk ran twice on
      // one task (measured 0.73 + 0.65 s single-task jobs)
      TextOps.repetition(graft.core.Par.spread(docs(s, d), "doc_id"))
        .orderBy("doc_id"),
      Oracle("""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws FROM documents),
        |g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |                i -> ws[i] || ' ' || ws[i+1])) AS g FROM w),
        |c2 AS (SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY 1, 2),
        |s2 AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n2, count(*) AS d2, max(cnt) AS m2
        |       FROM c2 GROUP BY 1),
        |g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(ws) - 1),
        |                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g FROM w),
        |c3 AS (SELECT doc_id, g, count(*) AS cnt FROM g3 GROUP BY 1, 2),
        |s3 AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n3, count(*) AS d3
        |       FROM c3 GROUP BY 1)
        |SELECT d.doc_id, coalesce(n2, 0) AS n_2grams,
        |       round(1 - d2 / CAST(n2 AS DOUBLE), 4) AS dup_2gram_frac,
        |       round(m2 / CAST(n2 AS DOUBLE), 4) AS top_2gram_frac,
        |       CASE WHEN n2 IS NULL THEN 0.0
        |            ELSE coalesce(round(1 - d3 / CAST(n3 AS DOUBLE), 4), 0.0)
        |       END AS dup_3gram_frac,
        |       coalesce(round(m2 / CAST(n2 AS DOUBLE), 4) <= 0.05
        |        AND round(1 - d2 / CAST(n2 AS DOUBLE), 4) <= 0.05, true) AS rep_pass
        |FROM documents d LEFT JOIN s2 USING (doc_id) LEFT JOIN s3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),
    // CCNet-style LM filter with the corpus unigram model: integer
    // micro-log contributions -> exact long sums, no float-order risk
    Query("text_unigram_logprob", (s, d) => TextOps.unigramLogProb(docs(s, d)).orderBy("doc_id"),
      Oracle("""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok FROM documents),
        |v AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY 1),
        |vm AS (SELECT tok, CAST(floor(log10(cnt) * 1000000) AS BIGINT) AS mlog FROM v),
        |n AS (SELECT count(*) AS nn FROM tok),
        |s AS (SELECT doc_id, count(*) AS n_tokens, CAST(sum(mlog) AS BIGINT) AS sum_mlog
        |      FROM tok JOIN vm USING (tok) GROUP BY 1)
        |SELECT d.doc_id, coalesce(s.n_tokens, 0) AS n_tokens,
        |       coalesce(s.sum_mlog, 0) AS sum_mlog,
        |       round(s.sum_mlog / 1000000.0 / s.n_tokens - log10(n.nn), 4)
        |         AS avg_log10p
        |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id, n
        |ORDER BY d.doc_id""".stripMargin)),
    // character-entropy spam signal, integer-exact like the LM score
    Query("text_entropy", (s, d) => TextOps.charEntropy(docs(s, d)).orderBy("doc_id"),
      Oracle("""WITH ch AS (SELECT doc_id,
        |              unnest(list_filter(string_split(text, ''), x -> x != '')) AS ch
        |            FROM documents),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |s AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars,
        |             CAST(sum(c * CAST(floor(log2(c) * 1000000) AS BIGINT)) AS BIGINT) AS clogc
        |      FROM c GROUP BY 1)
        |SELECT d.doc_id, coalesce(s.n_chars, 0) AS n_chars,
        |       round(log2(s.n_chars) - s.clogc / 1000000.0 / s.n_chars, 4)
        |         AS entropy_bits
        |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),
    // the dataset card: corpus composition by (lang, source) with
    // rollup subtotals — ONE codegen'd ROLLUP pass (doc counts, token
    // totals, mean length), the summary table every released training
    // corpus ships
    Query("corpus_stats", (s, d) =>
      docs(s, d)
        .rollup(col("lang"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("bigint")).as("total_tokens"),
          round(avg(col("n_chars")), 4).as("avg_chars"))
        .orderBy("lang", "source"),
      Oracle("""SELECT lang, source, count(*) AS n_docs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |       round(avg(n_chars), 4) AS avg_chars
        |FROM documents GROUP BY ROLLUP (lang, source)
        |ORDER BY lang, source""".stripMargin)),
    // PII scrub over a corpus seeded with synthetic emails/phones
    // (every 3rd doc) — counts + redacted-text fingerprint per doc
    Query("text_pii_scrub", (s, d) => {
      val seeded = docs(s, d).withColumn("text",
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com or call 555-"),
            (col("doc_id") % 900 + 100).cast("string"), lit("-"),
            ((col("doc_id") * 13) % 9000 + 1000).cast("string")))
          .otherwise(col("text")))
      // Par.spread before the regex scrub (r17): CPU-heavy per-row
      // pass on the flat corpus's ONE scan partition, evaluated twice
      // by the range sampler (measured 2 × ~0.6 s single-task jobs)
      TextOps.piiScrub(graft.core.Par.spread(seeded, "doc_id")).orderBy("doc_id")
    },
      // same deterministic PII seeding, same RE2-simple patterns, same
      // rolling-hash fold over the redacted text
      Oracle("""WITH seeded AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN
        |      text || ' contact user' || doc_id || '@example.com or call 555-' ||
        |      (doc_id % 900 + 100) || '-' || ((doc_id * 13) % 9000 + 1000)
        |    ELSE text END AS text
        |  FROM documents),
        |scrubbed AS (
        |  SELECT doc_id, text,
        |    regexp_replace(text, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g') AS email_done,
        |    regexp_replace(regexp_replace(text, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
        |                   '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS clean
        |  FROM seeded)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(email_done, '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  list_reduce([CAST(0 AS BIGINT)] || list_transform(string_split(clean, ''),
        |                c -> CAST(ascii(c) AS BIGINT)),
        |              (h, c) -> (h * 31 + c) % 1000000007) AS scrubbed_fp,
        |  (len(regexp_extract_all(text, '[a-z0-9._]+@[a-z0-9.]+')) +
        |   len(regexp_extract_all(email_done, '[0-9]{3}-[0-9]{3}-[0-9]{4}'))) > 0 AS had_pii
        |FROM scrubbed ORDER BY doc_id""".stripMargin)),
    Query("text_fingerprint", (s, d) =>
      // Par.spread: same single-partition double-eval class as
      // text_pii_scrub (measured 0.29 + 0.42 s single-task jobs)
      TextOps.fingerprint(graft.core.Par.spread(docs(s, d), "doc_id"))
        .orderBy("doc_id"),
      Oracle("""SELECT doc_id,
        |       list_reduce([CAST(0 AS BIGINT)] || list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT)),
        |                   (h, c) -> (h * 31 + c) % 1000000007) AS fp,
        |       list_reduce([CAST(0 AS BIGINT)] || list_transform(string_split(substring(text, 1, 64), ''), c -> CAST(ascii(c) AS BIGINT)),
        |                   (h, c) -> (h * 31 + c) % 1000000007) AS prefix_fp
        |FROM documents ORDER BY doc_id""".stripMargin)),
    // ---- §2J multimodal ----
    Query("mm_meta", (s, d) => MM.meta(docs(s, d)).orderBy("doc_id"),
      Oracle(s"""$ddPayloadCtes,
         |$ddWalkCte,
         |parsed AS (
         |  SELECT x.doc_id,
         |    octet_length(payload) AS n_bytes,
         |    CASE WHEN ${ddHx("1", 8)} = '89504E470D0A1A0A' THEN 'png'
         |         WHEN ${ddHx("1", 2)} = 'FFD8' THEN 'jpeg'
         |         WHEN ${ddHx("1", 4)} = '52494646'
         |              AND ${ddHx("9", 4)} = '57415645' THEN 'wav'
         |         ELSE 'unknown' END AS format,
         |    CASE WHEN ${ddHx("1", 8)} = '89504E470D0A1A0A' THEN ${ddBei("17", 4)}
         |         WHEN ${ddHx("1", 2)} = 'FFD8' THEN ${ddBei("wk.sof + 7", 2)} END AS width,
         |    CASE WHEN ${ddHx("1", 8)} = '89504E470D0A1A0A' THEN ${ddBei("21", 4)}
         |         WHEN ${ddHx("1", 2)} = 'FFD8' THEN ${ddBei("wk.sof + 5", 2)} END AS height,
         |    CASE WHEN ${ddHx("1", 4)} = '52494646'
         |          AND ${ddHx("9", 4)} = '57415645' THEN ${ddLei("25", 4)} END AS sample_rate
         |  FROM hexed x LEFT JOIN walk wk ON x.doc_id = wk.doc_id)
         |SELECT doc_id, n_bytes, format, width, height, sample_rate,
         |       coalesce(CASE WHEN format IN ('png','jpeg') THEN width > 0 AND height > 0
         |                     WHEN format = 'wav' THEN sample_rate > 0 ELSE false END,
         |                false) AS decode_ok
         |FROM parsed ORDER BY doc_id""".stripMargin)),
    // video-level near-dup: per-video DISTINCT frame-fingerprint sets,
    // pairwise Jaccard off the capped postings lists (the ngram
    // machinery re-targeted at frame fps — padding frames' shared fp
    // is exactly the df-ceiling case). Twins at +416000 (a multiple of
    // lcm(13, 32)·1000, preserving frame geometry) with the last text
    // char changed — at most one frame HEAD shifts, so twin sets stay
    // near-identical
    Query("mm_video_dedup", (s, d) => {
      val aug = plantTextTwins(docs(s, d).select("doc_id", "text"),
        mod = 11, residue = 2, offset = 416000L)
      // memoized: ngramJaccard references the shingle table THREE
      // times in one plan (candidate join + both verify sides) and
      // Catalyst does no cross-subtree CSE — unpinned, the
      // synthesize→frameSample→collect_list chain ran per reference
      // (the dedup_containment pin discipline; single-consumer, so
      // the build stays attributed to this query)
      val fpSets = memoized(s, d, "video_fps")(
        MM.frameSample(MM.synthesizeVideo(aug), every = 1)
          .groupBy("doc_id")
          .agg(array_sort(array_distinct(collect_list(col("fp").cast("string"))))
            .as("shs"))
          .localCheckpoint())
      Dedup.ngramJaccard(aug, 0.8, pruneUnique = false, maxDf = Some(8),
          minShared = 2, shingleTable = Some(fpSets))
        .orderBy("i", "j")
    },
      // same container synthesis + header walk as MM.frameSample: frame
      // geometry from the GVID header, every 3rd frame's offset and
      // 4-byte head fingerprint
      // same GVID walk over the twin-augmented corpus, then the capped
      // postings-list Jaccard over the per-video distinct fp sets
      Oracle(s"""WITH aug AS (SELECT doc_id, text FROM documents
          | UNION ALL
          | SELECT doc_id + 416000, substr(text, 1, length(text) - 1) || '~'
          | FROM documents WHERE doc_id % 11 = 2),
          |${ddGvidCtes("aug")},
          |idx AS (SELECT doc_id, h, fs, unnest(range(0, n_frames, 1)) AS fi
          |        FROM geo),
          |fpt AS (SELECT doc_id, ${ddBei("9 + fi * fs", 4)} AS fp FROM idx),
          |sets AS (SELECT doc_id,
          |           list_distinct(list(CAST(fp AS VARCHAR))) AS shs
          |         FROM fpt GROUP BY 1),
          |ex AS (SELECT doc_id, unnest(shs) AS s FROM sets),
          |kept AS (SELECT s FROM (SELECT s, count(*) AS df FROM ex GROUP BY s)
          |         WHERE df BETWEEN 2 AND 8),
          |exk AS (SELECT ex.doc_id, ex.s FROM ex JOIN kept USING (s)),
          |cand AS (SELECT a.doc_id AS i, b.doc_id AS j
          |         FROM exk a JOIN exk b ON a.s = b.s AND a.doc_id < b.doc_id
          |         GROUP BY 1, 2 HAVING count(*) >= 2),
          |v AS (SELECT i, j, len(list_intersect(sa.shs, sb.shs)) AS inter,
          |             len(sa.shs) AS ni, len(sb.shs) AS nj
          |      FROM cand c JOIN sets sa ON c.i = sa.doc_id
          |                  JOIN sets sb ON c.j = sb.doc_id)
          |SELECT i, j, jaccard FROM (
          |  SELECT i, j, round(inter * 1.0 / (ni + nj - inter), 4) AS jaccard
          |  FROM v)
          |WHERE jaccard >= 0.8 ORDER BY i, j""".stripMargin)),
    // privacy metadata scrub: the JPEG COM segment spliced out by byte
    // surgery, verified by re-walking the STRIPPED image (original
    // dims must survive, no metadata marker left); clean files pass
    // through untouched
    Query("mm_exif_strip", (s, d) =>
      MM.exifStrip(MM.synthesizePayload(docs(s, d))).orderBy("doc_id"),
      // synthesizes the same header-wearing payloads as MM.synthesizePayload,
      // then parses width/height/sample_rate back FROM THE BYTES (hex-image
      // arithmetic + the same bounded JPEG segment walk as MM.decode)
      // same splice in DuckDB: walk, cut the COM bytes, re-walk the
      // stripped hex with a second set of substr helpers over `sh`
      Oracle {
        def sHx(i: String, len: Int) = s"substr(sh, 2 * ($i) - 1, ${2 * len})"
        def sBei(i: String, len: Int) = ddHex2Int(sHx(i, len))
        s"""$ddPayloadCtes,
           |s1 AS (SELECT doc_id, h, CAST(octet_length(payload) AS BIGINT) AS nb,
           |         5 + ${ddBei("5", 2)} AS n1,
           |         (substr(h, 1, 4) = 'FFD8') AS jpg
           |       FROM hexed),
           |s2 AS (SELECT *, n1 + 2 + ${ddBei("n1 + 2", 2)} AS n2 FROM s1),
           |s3 AS (SELECT *,
           |    CASE WHEN NOT jpg THEN NULL
           |         WHEN ${ddHx("3", 2)} = 'FFC0' THEN 3
           |         WHEN ${ddHx("n1", 2)} = 'FFC0' THEN n1
           |         WHEN ${ddHx("n2", 2)} = 'FFC0' THEN n2 END AS sof,
           |    CASE WHEN NOT jpg THEN NULL
           |         WHEN ${ddHx("3", 2)} = 'FFFE' THEN 3
           |         WHEN ${ddHx("n1", 2)} = 'FFFE' THEN n1
           |         WHEN ${ddHx("n2", 2)} = 'FFFE' THEN n2 END AS com
           |  FROM s2),
           |s4 AS (SELECT *,
           |    CASE WHEN jpg THEN ${ddBei("sof + 7", 2)} END AS w0,
           |    CASE WHEN jpg THEN ${ddBei("sof + 5", 2)} END AS h0,
           |    CASE WHEN com IS NOT NULL THEN ${ddBei("com + 2", 2)} END AS comlen
           |  FROM s3),
           |s5 AS (SELECT *,
           |    CASE WHEN com IS NULL THEN h
           |         ELSE substr(h, 1, CAST((com - 1) * 2 AS INT))
           |           || substr(h, CAST((com + 2 + comlen - 1) * 2 + 1 AS INT)) END AS sh
           |  FROM s4),
           |s6 AS (SELECT *, 5 + ${sBei("5", 2)} AS sn1 FROM s5),
           |s7 AS (SELECT *, sn1 + 2 + ${sBei("sn1 + 2", 2)} AS sn2 FROM s6),
           |s8 AS (SELECT *,
           |    CASE WHEN NOT jpg THEN NULL
           |         WHEN ${sHx("3", 2)} = 'FFC0' THEN 3
           |         WHEN ${sHx("sn1", 2)} = 'FFC0' THEN sn1
           |         WHEN ${sHx("sn2", 2)} = 'FFC0' THEN sn2 END AS ssof
           |  FROM s7)
           |SELECT doc_id, nb AS n_before,
           |       CAST(coalesce(comlen + 2, 0) AS BIGINT) AS removed_bytes,
           |       CAST(length(sh) // 2 AS BIGINT) AS n_after,
           |       CASE WHEN NOT jpg THEN true
           |            WHEN com IS NULL THEN sof IS NOT NULL
           |            ELSE (sof IS NOT NULL AND ssof IS NOT NULL
           |              AND ${sBei("ssof + 7", 2)} = w0
           |              AND ${sBei("ssof + 5", 2)} = h0
           |              AND ${sHx("3", 2)} <> 'FFFE'
           |              AND ${sHx("sn1", 2)} <> 'FFFE') END AS strip_ok
           |FROM s8 ORDER BY doc_id""".stripMargin
      }),
    // image-level near-dup: aHash fingerprints over the stub decode,
    // banded hamming pairs. Twins planted at +768000 (a multiple of
    // lcm(512, 5, 3), so every doc_id-derived payload param is
    // preserved) with the LAST body byte changed — a byte the 64-point
    // decimation grid never samples for n > 64, so each twin pairs
    // with its original at hamming 0
    Query("mm_phash", (s, d) => {
      val aug = plantTextTwins(docs(s, d).select("doc_id", "text"),
        mod = 9, residue = 1, offset = 768000L)
      MM.phashPairs(MM.phash(MM.synthesizePayload(aug)))
        .orderBy("i", "j")
    },
      // byte-exact payload mirror over the twin-augmented corpus, then
      // the same decimation grid / integer mean compare / band
      // rendezvous as the Spark plan (all-pairs would be quadratic at
      // sf0.1 — the oracle bands too)
      Oracle {
        val aug = """(SELECT doc_id, text FROM documents
                    | UNION ALL
                    | SELECT doc_id + 768000, substr(text, 1, length(text) - 1) || '~'
                    | FROM documents WHERE doc_id % 9 = 1)""".stripMargin
        val pxAt = ddHex2Int("substr(h, CAST(2 * (1 + (k * n) // 64) - 1 AS INT), 2)")
        s"""${ddPayloadCtesFrom(aug)},
           |img AS (SELECT doc_id, h, octet_length(payload) AS n FROM hexed
           |        WHERE substr(h, 1, 16) = '89504E470D0A1A0A'
           |           OR substr(h, 1, 4) = 'FFD8'),
           |grid AS (SELECT doc_id,
           |           list_transform(range(0, 64), k -> $pxAt) AS px
           |         FROM img),
           |gs AS (SELECT doc_id, px, list_sum(px) AS s FROM grid),
           |hashes AS (SELECT doc_id,
           |  list_reduce([CAST(0 AS BIGINT)] || list_transform(range(0, 32),
           |    k -> CASE WHEN px[k + 1] * 64 > s THEN 1 ELSE 0 END),
           |    (a, x) -> a * 2 + x) AS hh,
           |  list_reduce([CAST(0 AS BIGINT)] || list_transform(range(32, 64),
           |    k -> CASE WHEN px[k + 1] * 64 > s THEN 1 ELSE 0 END),
           |    (a, x) -> a * 2 + x) AS hl
           |  FROM gs),
           |bands AS (SELECT doc_id, hh, hl, k,
           |    CASE k WHEN 0 THEN hh // 65536 WHEN 1 THEN hh % 65536
           |           WHEN 2 THEN hl // 65536 ELSE hl % 65536 END AS key
           |  FROM hashes, (SELECT unnest([0, 1, 2, 3]) AS k) b),
           |cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j,
           |    a.hh AS hhi, a.hl AS hli, b.hh AS hhj, b.hl AS hlj
           |  FROM bands a JOIN bands b
           |    ON a.k = b.k AND a.key = b.key AND a.doc_id < b.doc_id)
           |SELECT i, j, hamming FROM (
           |  SELECT i, j, CAST(bit_count(xor(hhi, hhj))
           |                  + bit_count(xor(hli, hlj)) AS BIGINT) AS hamming
           |  FROM cand)
           |WHERE hamming <= 6 ORDER BY i, j""".stripMargin
      }),
    // the batch decode stage (stubbed decoder, real mapPartitions
    // plumbing); registered exploded to scalar (doc_id, k, feat) rows
    // so the oracle — the same stride means computed with the mm byte
    // helpers — compares without array columns
    Query("mm_feature_extract", (s, d) =>
      MM.featureExtract(MM.synthesizePayload(docs(s, d)))
        .select(col("doc_id"), posexplode(col("feat")))
        .toDF("doc_id", "k", "feat")
        .orderBy("doc_id", "k"),
      // the stub decoder's per-stride byte means recomputed byte-by-byte
      // with the same hex-image arithmetic the other mm oracles use —
      // integer byte sums are exact in double, so CAST(avg AS FLOAT)
      // lands on the identical float32 the Spark stub emits
      Oracle(s"""$ddPayloadCtes,
         |by AS (SELECT doc_id, h, unnest(range(1, length(h) // 2 + 1)) AS i FROM hexed),
         |bv AS (SELECT doc_id, CAST((i - 1) % 8 AS INT) AS k,
         |              ${ddBei("i", 1)} AS v
         |       FROM by)
         |SELECT doc_id, k, CAST(avg(v) AS FLOAT) AS feat
         |FROM bv GROUP BY 1, 2 ORDER BY doc_id, k""".stripMargin)),
    // resize-to-fit as header surgery on the payload BYTES (new BE dims
    // spliced into IHDR / SOF0), self-verified by re-decoding the
    // patched payload
    Query("mm_resize", (s, d) =>
      MM.resizeToFit(MM.synthesizePayload(docs(s, d)), 128).orderBy("doc_id"),
      // same synthesis; splice new BE dims into the header hex, then
      // re-parse the PATCHED image to prove the surgery (mirrors
      // MM.resizeToFit byte for byte)
      Oracle(s"""$ddPayloadCtes,
         |$ddWalkCte,
         |dims AS (
         |  SELECT x.doc_id, x.h, wk.sof,
         |    (${ddHx("1", 8)} = '89504E470D0A1A0A') AS is_png,
         |    (${ddHx("1", 2)} = 'FFD8') AS is_jpeg,
         |    CASE WHEN ${ddHx("1", 8)} = '89504E470D0A1A0A' THEN ${ddBei("17", 4)}
         |         WHEN ${ddHx("1", 2)} = 'FFD8' THEN ${ddBei("wk.sof + 7", 2)} END AS w,
         |    CASE WHEN ${ddHx("1", 8)} = '89504E470D0A1A0A' THEN ${ddBei("21", 4)}
         |         WHEN ${ddHx("1", 2)} = 'FFD8' THEN ${ddBei("wk.sof + 5", 2)} END AS ht
         |  FROM hexed x LEFT JOIN walk wk ON x.doc_id = wk.doc_id),
         |sized AS (
         |  SELECT *,
         |    CASE WHEN greatest(w, ht) IS NULL THEN NULL
         |         WHEN greatest(w, ht) <= 128 THEN w
         |         ELSE greatest(1, CAST(floor(w * 128 / CAST(greatest(w, ht) AS DOUBLE)) AS BIGINT)) END AS new_w,
         |    CASE WHEN greatest(w, ht) IS NULL THEN NULL
         |         WHEN greatest(w, ht) <= 128 THEN ht
         |         ELSE greatest(1, CAST(floor(ht * 128 / CAST(greatest(w, ht) AS DOUBLE)) AS BIGINT)) END AS new_h
         |  FROM dims),
         |patched AS (
         |  SELECT doc_id, w, ht, new_w, new_h, sof,
         |    CASE WHEN is_png THEN
         |           substr(h, 1, 32) || lpad(upper(to_hex(new_w)), 8, '0') ||
         |           lpad(upper(to_hex(new_h)), 8, '0') || substr(h, 49, length(h))
         |         WHEN is_jpeg AND sof IS NOT NULL THEN
         |           substr(h, 1, 2 * (sof + 4)) || lpad(upper(to_hex(new_h)), 4, '0') ||
         |           lpad(upper(to_hex(new_w)), 4, '0') || substr(h, 2 * (sof + 4) + 9, length(h))
         |         ELSE h END AS h
         |  FROM sized),
         |reread AS (
         |  SELECT doc_id,
         |    CASE WHEN ${ddHx("1", 8)} = '89504E470D0A1A0A' THEN ${ddBei("17", 4)}
         |         WHEN ${ddHx("1", 2)} = 'FFD8' THEN ${ddBei("sof + 7", 2)} END AS rw,
         |    CASE WHEN ${ddHx("1", 8)} = '89504E470D0A1A0A' THEN ${ddBei("21", 4)}
         |         WHEN ${ddHx("1", 2)} = 'FFD8' THEN ${ddBei("sof + 5", 2)} END AS rh
         |  FROM patched)
         |SELECT s.doc_id, s.w AS width, s.ht AS height,
         |       s.new_w AS new_width, s.new_h AS new_height,
         |       (r.rw IS NOT DISTINCT FROM s.new_w AND
         |        r.rh IS NOT DISTINCT FROM s.new_h AND
         |        NOT (coalesce(s.is_png OR s.is_jpeg, false)
         |             AND s.w IS NULL)) AS patch_ok
         |FROM sized s JOIN reread r ON s.doc_id = r.doc_id
         |ORDER BY s.doc_id""".stripMargin)),
    // audio triage facts computed from the fmt/data chunks
    Query("mm_audio_info", (s, d) =>
      MM.audioInfo(MM.synthesizePayload(docs(s, d))).orderBy("doc_id"),
      Oracle(s"""$ddPayloadCtes
         |SELECT doc_id,
         |       ${ddLei("25", 4)} AS sample_rate,
         |       CAST(floor(${ddLei("41", 4)} / 2.0) AS BIGINT) AS n_samples,
         |       CAST(floor(CAST(floor(${ddLei("41", 4)} / 2.0) AS BIGINT) * 1000
         |                  / CAST(${ddLei("25", 4)} AS DOUBLE)) AS BIGINT) AS duration_ms
         |FROM hexed
         |WHERE ${ddHx("1", 4)} = '52494646' AND ${ddHx("9", 4)} = '57415645'
         |  AND ${ddLei("17", 4)} = 16 AND ${ddHx("37", 4)} = '64617461'
         |  AND ${ddLei("25", 4)} > 0
         |ORDER BY doc_id""".stripMargin)),
    // video frame sampling: geometry parsed from the GVID header, every
    // 3rd frame emitted with its byte offset + head fingerprint
    Query("mm_frame_sample", (s, d) =>
      MM.frameSample(MM.synthesizeVideo(docs(s, d))).orderBy("doc_id", "frame_idx"),
      Oracle(s"""WITH ${ddGvidCtes("documents")},
          |idx AS (SELECT doc_id, h, n_frames, fs, unnest(range(0, n_frames, 3)) AS frame_idx
          |        FROM geo)
          |SELECT doc_id, n_frames, frame_idx, 9 + frame_idx * fs AS offset,
          |       ${ddBei("9 + frame_idx * fs", 4)} AS fp
          |FROM idx ORDER BY doc_id, frame_idx""".stripMargin)),
    // shot-boundary pass: per-video frame-fingerprint lag, cuts open
    // scenes, running scene_id — window partitioned by video
    Query("mm_scene_detect", (s, d) =>
      MM.sceneDetect(MM.synthesizeVideo(docs(s, d))).orderBy("doc_id", "frame_idx"),
      Oracle(s"""WITH ${ddGvidCtes("documents")},
          |idx AS (SELECT doc_id, h, n_frames, fs,
          |               unnest(range(0, n_frames, 1)) AS frame_idx
          |        FROM geo),
          |fp AS (SELECT doc_id, frame_idx,
          |              ${ddBei("9 + frame_idx * fs", 4)} AS fp
          |       FROM idx),
          |cu AS (SELECT doc_id, frame_idx, fp,
          |              coalesce(fp <> lag(fp) OVER (PARTITION BY doc_id
          |                                           ORDER BY frame_idx), true) AS is_cut
          |       FROM fp)
          |SELECT doc_id, frame_idx, fp, is_cut,
          |       CAST(sum(CASE WHEN is_cut THEN 1 ELSE 0 END)
          |            OVER (PARTITION BY doc_id ORDER BY frame_idx
          |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |         AS scene_id
          |FROM cu ORDER BY doc_id, frame_idx""".stripMargin)),
    // Class-balance audit + inverse-frequency training weights over
    // the labeled embedding corpus: weight_ppm = total·10⁶ ∕ (k·n) in
    // floor arithmetic (the per-class weight that levels a skewed
    // label mix). Per-class counts are one map-side-partial aggregate;
    // the totals relation is ONE row, broadcast back — nothing big
    // moves twice.
    Query("label_balance", (s, d) => {
      val per = emb(s, d)
        .groupBy("label").agg(count(lit(1)).as("n_vecs"))
      val tot = per.agg(sum("n_vecs").as("_t"), count(lit(1)).as("_k"))
      per.crossJoin(broadcast(tot))
        .withColumn("weight_ppm", expr("_t * 1000000 div (_k * n_vecs)"))
        .select("label", "n_vecs", "weight_ppm")
        .orderBy("label")
    },
      Oracle("""WITH p AS (SELECT label, count(*) AS n_vecs FROM embeddings GROUP BY 1),
        |t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS _t, count(*) AS _k FROM p)
        |SELECT label, n_vecs, _t * 1000000 // (_k * n_vecs) AS weight_ppm
        |FROM p, t ORDER BY label""".stripMargin)),
    // Classifier-eval AUC over the labeled embeddings (score = first
    // component, positive = label ≥ 5) in the SCALABLE exact form: no
    // global row ranking — scores quantize to integer ppm, pos/neg
    // counts aggregate per distinct score, and the Mann-Whitney U sums
    // over the score-histogram (ties count half, doubled to stay
    // integer). The histogram itself is pre-bucketed into ≤4096 range
    // cells (broadcast min/max) so the only orderBy-without-partition
    // cumsum runs over the bounded cell table; per-score neg_below =
    // cell prefix + an in-cell cumsum PARTITIONED by cell — no window
    // ever sees a data-cardinality child, whatever the score domain.
    // auc_ppm is exact floor arithmetic end-to-end.
    Query("eval_auc", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, d)
        .withColumn("score_ppm",
          floor(element_at(col("embedding"), 1).cast("double") * 1000000)
            .cast("bigint"))
        .withColumn("pos", (col("label") >= 5).cast("bigint"))
      val hist = e.groupBy("score_ppm")
        .agg(sum("pos").as("pos_b"), sum(lit(1L) - col("pos")).as("neg_b"))
      // the shared bounded-cell prefix scaffold (Tools.cellPrefix) +
      // an in-cell refinement window partitioned per cell
      val (celled, prefix) =
        Tools.cellPrefix(hist, "score_ppm", 4096, col("neg_b"))
      val wIn = Window.partitionBy("_cell").orderBy("score_ppm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      celled.join(broadcast(prefix), "_cell")
        .withColumn("neg_below",
          col("_before") + sum("neg_b").over(wIn) - col("neg_b"))
        .agg(sum("pos_b").as("n_pos"), sum("neg_b").as("n_neg"),
          sum(expr("pos_b * (2 * neg_below + neg_b)")).as("_u2"))
        .select(col("n_pos"), col("n_neg"),
          // loud guards (the bm25 discipline): a single-class eval set
          // has no defined AUC (Spark would emit NULL where DuckDB
          // errors), and _u2·10⁶ wraps past ~4.3M balanced rows —
          // wrap-to-negative ppm must fail, not mislead
          when(col("n_pos") === 0 || col("n_neg") === 0,
            raise_error(lit("eval_auc: both classes must be present")))
          .when(col("_u2") > lit(Long.MaxValue / 1000000L),
            raise_error(concat(lit("eval_auc: u2 "),
              col("_u2").cast("string"),
              lit(" overflows ppm arithmetic — shard the eval set"))))
          .otherwise(expr("_u2 * 1000000 div (2 * n_pos * n_neg)"))
          .as("auc_ppm"))
    },
      Oracle("""WITH e AS (SELECT
        |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS score_ppm,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos FROM embeddings),
        |h AS (SELECT score_ppm, CAST(sum(pos) AS BIGINT) AS pos_b,
        |    CAST(sum(1 - pos) AS BIGINT) AS neg_b FROM e GROUP BY 1),
        |c AS (SELECT pos_b, neg_b,
        |    CAST(sum(neg_b) OVER (ORDER BY score_ppm ROWS UNBOUNDED PRECEDING)
        |         - neg_b AS BIGINT) AS neg_below FROM h),
        |a AS (SELECT CAST(sum(pos_b) AS BIGINT) AS n_pos,
        |    CAST(sum(neg_b) AS BIGINT) AS n_neg,
        |    CAST(sum(pos_b * (2 * neg_below + neg_b)) AS BIGINT) AS u2 FROM c)
        |SELECT n_pos, n_neg, u2 * 1000000 // (2 * n_pos * n_neg) AS auc_ppm
        |FROM a""".stripMargin)),
    // Confusion matrices at three decision thresholds in ONE aggregate
    // pass (thresholds ride a literal explode, counts are conditional
    // sums, ratios floor ppm) — the eval readout next to eval_auc
    Query("eval_confusion", (s, d) =>
      emb(s, d)
        .withColumn("score_ppm",
          floor(element_at(col("embedding"), 1).cast("double") * 1000000)
            .cast("bigint"))
        .withColumn("pos", (col("label") >= 5).cast("bigint"))
        .select(col("score_ppm"), col("pos"),
          explode(array(lit(-250000L), lit(0L), lit(250000L))).as("thresh"))
        .groupBy("thresh")
        .agg(sum(when(col("score_ppm") >= col("thresh"), col("pos"))
            .otherwise(0L)).as("tp"),
          sum(when(col("score_ppm") >= col("thresh"), lit(1L) - col("pos"))
            .otherwise(0L)).as("fp"),
          sum(when(col("score_ppm") < col("thresh"), col("pos"))
            .otherwise(0L)).as("fn"),
          sum(when(col("score_ppm") < col("thresh"), lit(1L) - col("pos"))
            .otherwise(0L)).as("tn"))
        .withColumn("precision_ppm",
          expr("IF(tp + fp = 0, 0L, tp * 1000000 div (tp + fp))"))
        .withColumn("recall_ppm",
          expr("IF(tp + fn = 0, 0L, tp * 1000000 div (tp + fn))"))
        .orderBy("thresh"),
      Oracle("""WITH e AS (SELECT
        |    CAST(floor(CAST(embedding[1] AS DOUBLE) * 1000000) AS BIGINT) AS score_ppm,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS pos FROM embeddings),
        |t AS (SELECT CAST(unnest([-250000, 0, 250000]) AS BIGINT) AS thresh),
        |j AS (SELECT thresh, score_ppm, pos FROM e, t),
        |a AS (SELECT thresh,
        |    CAST(sum(CASE WHEN score_ppm >= thresh THEN pos ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN score_ppm >= thresh THEN 1 - pos ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN score_ppm < thresh THEN pos ELSE 0 END) AS BIGINT) AS fn,
        |    CAST(sum(CASE WHEN score_ppm < thresh THEN 1 - pos ELSE 0 END) AS BIGINT) AS tn
        |  FROM j GROUP BY 1)
        |SELECT thresh, tp, fp, fn, tn,
        |  CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) END AS precision_ppm,
        |  CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 // (tp + fn) END AS recall_ppm
        |FROM a ORDER BY thresh""".stripMargin)),
    // pass@k — the unbiased estimator of Chen et al. 2021 (Codex,
    // §2.1): per task with n samples of which c correct,
    // pass@k = 1 − C(n−c, k)/C(n, k), evaluated as the falling-
    // factorial ratio Π_{i<k}(n−c−i) / Π_{i<k}(n−i) in EXACT
    // arithmetic (see [[passAtKPpm]] for the decimal widening and its
    // n ≤ 10⁶ bound — the first cut's int64 products capped n at 100,
    // which the sf1 corpus's 1000-samples-per-task already exceeds).
    // Tasks = doc_id mod 50, "correct" = a deterministic content
    // predicate — the plumbing is the operator; a real eval harness
    // lands its own (task, correct) rows. One tiny aggregate
    // (50 tasks), k fanned by a literal explode: no shuffle beyond
    // the task rollup, eval sets of any size reduce map-side.
    Query("eval_pass_at_k", (s, d) => {
      val samples = docs(s, d).select(
        (col("doc_id") % 50).as("task"),
        (col("n_chars") % 7 < 2).cast("long").as("_ok"))
      val byTask = samples.groupBy("task")
        .agg(count(lit(1)).as("n"), sum("_ok").as("c"))
      byTask
        .select(col("task"), col("n"), col("c"),
          explode(array(lit(1), lit(5))).as("k"))
        .withColumn("pass_at_k_ppm", expr(passAtKPpm))
        .orderBy("task", "k")
    },
      Oracle("""WITH s AS (SELECT doc_id % 50 AS task,
        |                  CASE WHEN n_chars % 7 < 2 THEN 1 ELSE 0 END AS ok
        |           FROM documents),
        |t AS (SELECT task, count(*) AS n, CAST(sum(ok) AS BIGINT) AS c
        |      FROM s GROUP BY 1),
        |kk AS (SELECT 1 AS k UNION ALL SELECT 5)
        |SELECT task, n, c, k,
        |  CASE WHEN n - c < k THEN 1000000
        |       WHEN k = 1 THEN 1000000 - ((n - c) * 1000000 // n)
        |       ELSE 1000000 - CAST(
        |         (CAST(n-c AS HUGEINT)*(n-c-1)*(n-c-2)*(n-c-3)*(n-c-4) * 1000000)
        |           // (CAST(n AS HUGEINT)*(n-1)*(n-2)*(n-3)*(n-4)) AS BIGINT)
        |  END AS pass_at_k_ppm
        |FROM t, kk ORDER BY task, k""".stripMargin)),
    // ROUGE-N overlap (Lin 2004), distinct-bigram set form — metric
    // body + scale rationale live in graft.text.GenerationEval.rougeN
    // (the caller-supplied pair surface, r13); here the synthetic
    // adjacent-id pairing rides the SAME Dedup.shingles tokenizer as
    // the dedup family (n = 2).
    Query("eval_rouge_n", (s, d) =>
      // Par.spread BELOW the bigram build: the shingle walk feeds BOTH
      // sides of the adjacent-pair join, so on the flat corpus it ran
      // twice on one task each (measured 2 × ~0.35 s single-task map
      // stages); adjacentPairs' own spread only covers the post-join
      // metric pass
      graft.text.GenerationEval.rougeN(
        adjacentPairs(Dedup.shingles(
          graft.core.Par.spread(docs(s, d), "doc_id"), 2), "shs"))
        .orderBy("cand_id"),
      Oracle("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |sh AS (SELECT doc_id,
        |         list_distinct([ts[i] || ' ' || ts[i+1]
        |                        for i in range(1, len(ts))]) AS shs
        |       FROM tok WHERE len(ts) >= 2),
        |p AS (SELECT c.doc_id AS cand_id, r.doc_id AS ref_id,
        |             CAST(len(c.shs) AS BIGINT) AS n_cand,
        |             CAST(len(r.shs) AS BIGINT) AS n_ref,
        |             CAST(len(list_intersect(c.shs, r.shs)) AS BIGINT) AS n_common
        |      FROM sh c JOIN sh r ON r.doc_id = c.doc_id + 1),
        |m AS (SELECT *, n_common * 1000000 // greatest(n_ref, 1) AS recall_ppm,
        |             n_common * 1000000 // greatest(n_cand, 1) AS precision_ppm FROM p)
        |SELECT cand_id, ref_id, n_cand, n_ref, n_common,
        |       recall_ppm, precision_ppm,
        |       CASE WHEN n_common = 0 THEN 0
        |            ELSE 2 * precision_ppm * recall_ppm
        |                 // (precision_ppm + recall_ppm) END AS f1_ppm
        |FROM m ORDER BY cand_id""".stripMargin)),
    // corpus BLEU (Papineni et al. 2002), add-one-smoothed, exact
    // micro-log10 integer units — metric body + arithmetic rationale
    // in graft.text.GenerationEval.bleu; the adjacent-id pair join is
    // this query's only exchange.
    Query("eval_bleu", (s, d) =>
      graft.text.GenerationEval.bleu(
        adjacentPairs(docs(s, d)
          .select(col("doc_id"), split(col("text"), " ").as("ts")), "ts"))
        .orderBy("cand_id"),
      Oracle("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |lens AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS ln FROM tok),
        |x AS (SELECT doc_id, nn.n AS n,
        |        unnest([array_to_string(ts[i:i+nn.n-1], ' ')
        |                for i in range(1, len(ts) - nn.n + 2)]) AS g
        |      FROM tok, (VALUES (1),(2),(3),(4)) nn(n)),
        |gc AS (SELECT doc_id, n, g, count(*) AS cnt FROM x GROUP BY 1, 2, 3),
        |m AS (SELECT c.doc_id AS cand_id, c.n,
        |        CAST(sum(least(c.cnt, r.cnt)) AS BIGINT) AS mm
        |      FROM gc c JOIN gc r
        |        ON r.n = c.n AND r.g = c.g AND r.doc_id = c.doc_id + 1
        |      GROUP BY 1, 2),
        |w AS (SELECT cand_id,
        |        coalesce(max(CASE WHEN n = 1 THEN mm END), 0) AS m1,
        |        coalesce(max(CASE WHEN n = 2 THEN mm END), 0) AS m2,
        |        coalesce(max(CASE WHEN n = 3 THEN mm END), 0) AS m3,
        |        coalesce(max(CASE WHEN n = 4 THEN mm END), 0) AS m4
        |      FROM m GROUP BY 1),
        |p AS (SELECT c.doc_id AS cand_id, r.doc_id AS ref_id,
        |             c.ln AS c_len, r.ln AS r_len
        |      FROM lens c JOIN lens r ON r.doc_id = c.doc_id + 1),
        |q AS (SELECT p.cand_id, p.ref_id, p.c_len, p.r_len,
        |        coalesce(w.m1, 0) AS m1, coalesce(w.m2, 0) AS m2,
        |        coalesce(w.m3, 0) AS m3, coalesce(w.m4, 0) AS m4,
        |        p.c_len AS t1, greatest(p.c_len - 1, 0) AS t2,
        |        greatest(p.c_len - 2, 0) AS t3, greatest(p.c_len - 3, 0) AS t4
        |      FROM p LEFT JOIN w USING (cand_id))
        |SELECT cand_id, ref_id, c_len, r_len,
        |  m1 * 1000000 // greatest(t1, 1) AS p1_ppm,
        |  m2 * 1000000 // greatest(t2, 1) AS p2_ppm,
        |  m3 * 1000000 // greatest(t3, 1) AS p3_ppm,
        |  m4 * 1000000 // greatest(t4, 1) AS p4_ppm,
        |  (CASE WHEN c_len >= r_len THEN 0
        |        ELSE CAST(floor(((1.0 - CAST(r_len AS DOUBLE) / greatest(c_len, 1))
        |          * 0.43429448190325176) * 1000000) AS BIGINT) END)
        |  + ((  CAST(floor(log10(m1 + 1) * 1000000) AS BIGINT)
        |      - CAST(floor(log10(t1 + 1) * 1000000) AS BIGINT)
        |      + CAST(floor(log10(m2 + 1) * 1000000) AS BIGINT)
        |      - CAST(floor(log10(t2 + 1) * 1000000) AS BIGINT)
        |      + CAST(floor(log10(m3 + 1) * 1000000) AS BIGINT)
        |      - CAST(floor(log10(t3 + 1) * 1000000) AS BIGINT)
        |      + CAST(floor(log10(m4 + 1) * 1000000) AS BIGINT)
        |      - CAST(floor(log10(t4 + 1) * 1000000) AS BIGINT)) // 4)
        |    AS bleu_mlog_micro
        |FROM q ORDER BY cand_id""".stripMargin)),
    // cross-relation pairing through the PUBLIC evalPairs surface with
    // the strict probe ON (r13 verdict item 5): candidate relation ≠
    // reference relation — token sequences vs their REVERSALS (same
    // unigram multiset so p1 = 1e6; higher n-grams nearly disjoint),
    // pair table a doc_id % 3 harness subset. strict = true runs the
    // two anti-join no-silent-drop probes under the driver gate.
    Query("eval_bleu_paired", (s, d) => {
      val toks = docs(s, d)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
      val refs = toks.select(col("doc_id"), reverse(col("ts")).as("ts"))
      val pairs = docs(s, d).where(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("cand_id"), col("doc_id").as("ref_id"))
      graft.text.GenerationEval.bleu(
        graft.text.GenerationEval.evalPairs(pairs, toks, refs,
          payloadCol = "ts", strict = true)).orderBy("cand_id")
    },
      // the cross-relation strict-pair form: reference grams come from
      // the REVERSED token sequence (rx/rgc), the pairing is the
      // doc_id % 3 subset; r_len = c_len (reversal preserves length) so
      // the brevity penalty is identically 0
      Oracle("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |prs AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
        |lens AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS ln FROM tok),
        |x AS (SELECT doc_id, nn.n AS n,
        |        unnest([array_to_string(ts[i:i+nn.n-1], ' ')
        |                for i in range(1, len(ts) - nn.n + 2)]) AS g
        |      FROM tok, (VALUES (1),(2),(3),(4)) nn(n)),
        |gc AS (SELECT doc_id, n, g, count(*) AS cnt FROM x GROUP BY 1, 2, 3),
        |rx AS (SELECT doc_id, nn.n AS n,
        |        unnest([array_to_string(list_reverse(ts)[i:i+nn.n-1], ' ')
        |                for i in range(1, len(ts) - nn.n + 2)]) AS g
        |      FROM tok, (VALUES (1),(2),(3),(4)) nn(n)),
        |rgc AS (SELECT doc_id, n, g, count(*) AS cnt FROM rx GROUP BY 1, 2, 3),
        |m AS (SELECT c.doc_id AS cand_id, c.n,
        |        CAST(sum(least(c.cnt, r.cnt)) AS BIGINT) AS mm
        |      FROM gc c JOIN rgc r
        |        ON r.n = c.n AND r.g = c.g AND r.doc_id = c.doc_id
        |      JOIN prs ON prs.doc_id = c.doc_id
        |      GROUP BY 1, 2),
        |w AS (SELECT cand_id,
        |        coalesce(max(CASE WHEN n = 1 THEN mm END), 0) AS m1,
        |        coalesce(max(CASE WHEN n = 2 THEN mm END), 0) AS m2,
        |        coalesce(max(CASE WHEN n = 3 THEN mm END), 0) AS m3,
        |        coalesce(max(CASE WHEN n = 4 THEN mm END), 0) AS m4
        |      FROM m GROUP BY 1),
        |p AS (SELECT c.doc_id AS cand_id, c.doc_id AS ref_id,
        |             c.ln AS c_len, c.ln AS r_len
        |      FROM lens c JOIN prs ON prs.doc_id = c.doc_id),
        |q AS (SELECT p.cand_id, p.ref_id, p.c_len, p.r_len,
        |        coalesce(w.m1, 0) AS m1, coalesce(w.m2, 0) AS m2,
        |        coalesce(w.m3, 0) AS m3, coalesce(w.m4, 0) AS m4,
        |        p.c_len AS t1, greatest(p.c_len - 1, 0) AS t2,
        |        greatest(p.c_len - 2, 0) AS t3, greatest(p.c_len - 3, 0) AS t4
        |      FROM p LEFT JOIN w USING (cand_id))
        |SELECT cand_id, ref_id, c_len, r_len,
        |  m1 * 1000000 // greatest(t1, 1) AS p1_ppm,
        |  m2 * 1000000 // greatest(t2, 1) AS p2_ppm,
        |  m3 * 1000000 // greatest(t3, 1) AS p3_ppm,
        |  m4 * 1000000 // greatest(t4, 1) AS p4_ppm,
        |  (CASE WHEN c_len >= r_len THEN 0
        |        ELSE CAST(floor(((1.0 - CAST(r_len AS DOUBLE) / greatest(c_len, 1))
        |          * 0.43429448190325176) * 1000000) AS BIGINT) END)
        |  + ((  CAST(floor(log10(m1 + 1) * 1000000) AS BIGINT)
        |      - CAST(floor(log10(t1 + 1) * 1000000) AS BIGINT)
        |      + CAST(floor(log10(m2 + 1) * 1000000) AS BIGINT)
        |      - CAST(floor(log10(t2 + 1) * 1000000) AS BIGINT)
        |      + CAST(floor(log10(m3 + 1) * 1000000) AS BIGINT)
        |      - CAST(floor(log10(t3 + 1) * 1000000) AS BIGINT)
        |      + CAST(floor(log10(m4 + 1) * 1000000) AS BIGINT)
        |      - CAST(floor(log10(t4 + 1) * 1000000) AS BIGINT)) // 4)
        |    AS bleu_mlog_micro
        |FROM q ORDER BY cand_id""".stripMargin)),
    // chrF (Popović 2015), character-level F2 in exact integer ppm —
    // metric body in graft.text.GenerationEval.chrf (one native
    // ChrfClipCounts pass; collision-fails-the-gate-loudly posture in
    // its scaladoc); the adjacent-id pair join is the only exchange.
    Query("eval_chrf", (s, d) =>
      graft.text.GenerationEval.chrf(
        adjacentPairs(docs(s, d).select(col("doc_id"), col("text")), "text"))
        .orderBy("cand_id"),
      Oracle((s"""WITH cs AS (SELECT doc_id, regexp_extract_all(text, '[^ ]') AS ch FROM documents),
          |lens AS (SELECT doc_id, CAST(len(ch) AS BIGINT) AS ln FROM cs),
          |x AS (SELECT doc_id, nn.n AS n,
          |        unnest([array_to_string(ch[i:i+nn.n-1], '')
          |                for i in range(1, len(ch) - nn.n + 2)]) AS g
          |      FROM cs, (VALUES (1),(2),(3),(4),(5),(6)) nn(n)),
          |gc AS (SELECT doc_id, n, g, count(*) AS cnt FROM x GROUP BY 1, 2, 3),
          |m AS (SELECT c.doc_id AS cand_id, c.n,
          |        CAST(sum(least(c.cnt, r.cnt)) AS BIGINT) AS mm
          |      FROM gc c JOIN gc r
          |        ON r.n = c.n AND r.g = c.g AND r.doc_id = c.doc_id + 1
          |      GROUP BY 1, 2),
          |w AS (SELECT cand_id,
          |        ${(1 to 6).map(n =>
               s"coalesce(max(CASE WHEN n = $n THEN mm END), 0) AS m$n")
               .mkString(",\n          |        ")}
          |      FROM m GROUP BY 1),
          |p AS (SELECT c.doc_id AS cand_id, r.doc_id AS ref_id,
          |             c.ln AS c_chars, r.ln AS r_chars
          |      FROM lens c JOIN lens r ON r.doc_id = c.doc_id + 1),
          |q AS (SELECT p.cand_id, p.ref_id, p.c_chars, p.r_chars,
          |        ${(1 to 6).map(n => s"coalesce(w.m$n, 0) AS m$n")
               .mkString(", ")},
          |        ${(1 to 6).map(n =>
               s"greatest(p.c_chars - ${n - 1}, 0) AS tc$n").mkString(", ")},
          |        ${(1 to 6).map(n =>
               s"greatest(p.r_chars - ${n - 1}, 0) AS tr$n").mkString(", ")}
          |      FROM p LEFT JOIN w USING (cand_id)),
          |f AS (SELECT cand_id, ref_id, c_chars, r_chars,
          |        (${(1 to 6).map(n =>
               s"m$n * 1000000 // greatest(tc$n, 1)").mkString(" + ")}) // 6
          |          AS chrp_ppm,
          |        (${(1 to 6).map(n =>
               s"m$n * 1000000 // greatest(tr$n, 1)").mkString(" + ")}) // 6
          |          AS chrr_ppm
          |      FROM q)
          |SELECT cand_id, ref_id, c_chars, r_chars, chrp_ppm, chrr_ppm,
          |  CASE WHEN chrp_ppm + chrr_ppm = 0 THEN 0
          |       ELSE 5 * chrp_ppm * chrr_ppm // (4 * chrp_ppm + chrr_ppm) END
          |    AS chrf2_ppm
          |FROM f ORDER BY cand_id""").stripMargin)),
    // character edit-distance ratio (char-level cousin of TER, Snover
    // et al. 2006) — metric body + the repartition-before-quadratic-DP
    // rationale in graft.text.GenerationEval.editRatio; DuckDB's
    // native levenshtein oracles it exactly (unique metric).
    Query("eval_edit_ratio", (s, d) =>
      graft.text.GenerationEval.editRatio(
        adjacentPairs(docs(s, d).select(col("doc_id"), col("text")), "text"))
        .orderBy("cand_id"),
      Oracle("""WITH p AS (SELECT c.doc_id AS cand_id, r.doc_id AS ref_id,
        |                  c.text AS ct, r.text AS rt
        |           FROM documents c JOIN documents r ON r.doc_id = c.doc_id + 1),
        |e AS (SELECT cand_id, ref_id,
        |        CAST(len(ct) AS BIGINT) AS c_len,
        |        CAST(len(rt) AS BIGINT) AS r_len,
        |        CAST(levenshtein(ct, rt) AS BIGINT) AS edit_dist
        |      FROM p)
        |SELECT cand_id, ref_id, c_len, r_len, edit_dist,
        |       edit_dist * 1000000 // greatest(r_len, 1) AS edit_ratio_ppm
        |FROM e ORDER BY cand_id""".stripMargin)),
    // generation-diversity readout (distinct-n of Li et al. 2016): per
    // doc and n = 1..3, distinct n-grams over total n-grams in ppm —
    // the repetition-collapse detector run over sampled generations.
    // PURE projection (distinct counts via array_distinct over hashed
    // token slices — xxhash64 of the slice skips the joined-string
    // build; identity sound since tokens contain no space, and the
    // oracle re-derives from raw grams so a 64-bit collision fails the
    // gate loudly): nothing shuffles but the 3-row-per-doc explode. A
    // doc shorter than n simply has no n row.
    Query("eval_distinct_n", (s, d) =>
      // Par.spread: the per-doc gram walk (three n-gram sizes ×
      // hash-distinct per doc) is this query's whole cost and ran on
      // the flat sf corpus's ONE scan partition (measured: two equal
      // single-task ~0.55 s jobs — the range sampler re-evaluates its
      // child — 1.23 s wall; spread: 0.85 s, both passes 32-way)
      graft.core.Par.spread(docs(s, d), "doc_id")
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .select(col("doc_id"), explode(expr(
          """transform(sequence(1, least(3, size(ts))), n -> named_struct(
            |  'n', n,
            |  'tot', size(ts) - n + 1,
            |  'dis', size(array_distinct(transform(
            |     sequence(1, size(ts) - n + 1), i -> xxhash64(slice(ts, i, n)))))))"""
            .stripMargin)).as("x"))
        .select(col("doc_id"), col("x.n").as("n"),
          col("x.tot").cast("bigint").as("n_grams"),
          col("x.dis").cast("bigint").as("n_distinct"))
        .withColumn("distinct_ppm", expr("n_distinct * 1000000 div n_grams"))
        .orderBy("doc_id", "n"),
      Oracle("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
        |x AS (SELECT doc_id, nn.n AS n,
        |        unnest([array_to_string(ts[i:i+nn.n-1], ' ')
        |                for i in range(1, len(ts) - nn.n + 2)]) AS g
        |      FROM tok, (VALUES (1),(2),(3)) nn(n)),
        |gc AS (SELECT doc_id, n, g, count(*) AS cnt FROM x GROUP BY 1, 2, 3)
        |SELECT doc_id, n, CAST(sum(cnt) AS BIGINT) AS n_grams,
        |       count(*) AS n_distinct,
        |       count(*) * 1000000 // CAST(sum(cnt) AS BIGINT) AS distinct_ppm
        |FROM gc GROUP BY 1, 2 ORDER BY doc_id, n""".stripMargin)),
    // Calibration / reliability audit of the quality classifier: docs
    // bucketed into 10 equal-width score bins (broadcast bounds, the
    // histogram_fixed shape), per bin the observed positive rate
    // (label = lang 'en') against the mean score — the reliability
    // diagram that says whether a scorer's confidence means anything.
    // Integer floor arithmetic end-to-end; one aggregate pass after
    // the classifier's own rollup.
    Query("eval_calibration", (s, d) => {
      val scored = TextOps.qualityClassifier(docs(s, d))
        .join(docs(s, d).select(col("doc_id"),
          (col("lang") === lit("en")).as("_pos")), "doc_id")
      val b = scored.agg(min("score_micro").as("_lo"), max("score_micro").as("_hi"))
      scored.crossJoin(broadcast(b))
        .withColumn("bin", graft.analytics.Tools.totalOrderBucket(
          col("score_micro"), col("_lo"), col("_hi"), 10))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(score_micro) div count(1)").as("mean_score_micro"),
          expr("(sum(IF(_pos, 1, 0)) * 1000000) div count(1)").as("pos_rate_ppm"))
        .orderBy("bin")
    },
      Oracle(s"""WITH $ddQualityScore,
        |sc AS (SELECT qsc.doc_id, score_micro, (d.lang = 'en') AS pos
        |       FROM qsc JOIN documents d ON d.doc_id = qsc.doc_id),
        |b AS (SELECT min(score_micro) lo, max(score_micro) hi FROM sc)
        |SELECT CAST(floor((score_micro - lo) * 10 / (hi - lo + 1)) AS BIGINT) AS bin,
        |       count(*) AS n_docs,
        |       CAST(sum(score_micro) // count(*) AS BIGINT) AS mean_score_micro,
        |       CAST((sum(CASE WHEN pos THEN 1 ELSE 0 END) * 1000000) // count(*)
        |            AS BIGINT) AS pos_rate_ppm
        |FROM sc, b GROUP BY 1 ORDER BY 1""".stripMargin)),
    // BPE tokenizer training (the algorithm, not just the vocab prep):
    // 8 greedy merge rounds over the word-frequency table — ONE corpus
    // pass, then vocab-cardinality rounds with 1-row argmax collects
    // (driver-local metadata, the k-means-centroid pattern).
    Query("bpe_train", (s, d) => TextOps.bpeTrain(docs(s, d), 8)
      .orderBy("merge_idx"),
      RowsOnly("the greedy per-round argmax loop has no portable single-SQL form; " +
        "the spec replays a reference BPE and demands rule-for-rule equality")),
    // Unigram-LM (SentencePiece) tokenizer training, bpe_train's
    // sibling family: substring-seeded inventory, Viterbi-EM rounds on
    // the vocab-cardinality table with a driver-local piece-cost map,
    // linear prune to the target inventory.
    Query("tokenizer_unigram", (s, d) => TextOps.unigramTrain(docs(s, d))
      .orderBy("cost_micro", "piece"),
      RowsOnly("the per-round collect loop has no portable single-SQL form; " +
        "the spec replays an independent implementation piece-for-piece")),
    // the APPLY half (bpe_apply's sibling): per-doc fertility under
    // the trained unigram segmentation.
    Query("tokenizer_unigram_apply", (s, d) => TextOps.unigramApply(docs(s, d))
      .orderBy("doc_id"),
      RowsOnly("segments under the trained unigram model, which has no SQL form " +
        "(tokenizer_unigram); the spec replays it")),
    // Curriculum phase assignment by difficulty (quality score) WITHOUT
    // a global sort: scores pre-bucket into ≤4096 range cells, the
    // quartile boundary cumsum runs over the bounded cell table only
    // (the eval_auc machinery), phase = cell-prefix quartile. The
    // training-order manifest for curriculum learning, scale-safe.
    Query("curriculum_order", (s, d) => {
      val scored = TextOps.qualityClassifier(docs(s, d))
        .select("doc_id", "score_micro")
      // the shared bounded-cell prefix scaffold (Tools.cellPrefix);
      // phase granularity is cell-level, so no in-cell refinement
      val (celled, prefix) =
        Tools.cellPrefix(scored, "score_micro", 4096, lit(1L))
      val tot = scored.agg(count(lit(1)).as("_t"))
      celled.join(broadcast(prefix), "_cell")
        .crossJoin(broadcast(tot))
        .withColumn("phase", expr("_before * 4 div _t"))
        .select("doc_id", "score_micro", "phase")
        .orderBy("doc_id")
    },
      Oracle(s"""WITH $ddQualityScore,
        |b AS (SELECT min(score_micro) lo, max(score_micro) hi FROM qsc),
        |cd AS (SELECT doc_id, score_micro,
        |              CAST(floor((score_micro - lo) * 4096 / (hi - lo + 1)) AS BIGINT) AS cell
        |       FROM qsc, b),
        |cc AS (SELECT cell, count(*) AS n FROM cd GROUP BY 1),
        |cb AS (SELECT cell, CAST(sum(n) OVER (ORDER BY cell
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS b4
        |       FROM cc),
        |t AS (SELECT count(*) AS nt FROM qsc)
        |SELECT doc_id, score_micro, b4 * 4 // nt AS phase
        |FROM cd JOIN cb USING (cell), t
        |ORDER BY doc_id""".stripMargin)),
    // Ranking eval: NDCG@10 per order priority over the TopKStruct
    // bounded-heap top-10 (by price, the agg_topk machinery — no
    // corpus-wide window sort); graded relevance rel = orderkey % 4,
    // gain 2^rel − 1, and a literal floor-ppm discount table
    // (⌊1e6 / log2(rank+1)⌋) shared digit-for-digit with the oracle.
    // The ideal ranking re-orders the SAME retrieved list by
    // relevance; both rank windows run over ≤10 rows per group.
    Query("eval_ndcg", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      def disc(r: Column): Column =
        when(r === 1, 1000000L).when(r === 2, 630929L).when(r === 3, 500000L)
          .when(r === 4, 430676L).when(r === 5, 386852L).when(r === 6, 356207L)
          .when(r === 7, 333333L).when(r === 8, 315464L).when(r === 9, 301029L)
          .otherwise(289064L)
      val scored = Tables.load(s, d, "orders").select(col("o_orderpriority"),
        col("o_orderkey").as("nn_id"), col("o_totalprice").as("_score"))
      val wIdeal = Window.partitionBy("o_orderpriority")
        .orderBy(col("rel").desc, col("_score").desc, col("nn_id"))
      graft.sim.Ann.topK(scored, "o_orderpriority", 10)
        .withColumn("rel", pmod(col("nn_id"), lit(4)))
        .withColumn("gain", when(col("rel") === 0, 0L).when(col("rel") === 1, 1L)
          .when(col("rel") === 2, 3L).otherwise(7L))
        .withColumn("irank", row_number().over(wIdeal))
        .groupBy("o_orderpriority")
        .agg(sum(col("gain") * disc(col("rank"))).as("dcg"),
          sum(col("gain") * disc(col("irank"))).as("idcg"))
        .withColumn("ndcg_ppm",
          expr("IF(idcg = 0, 1000000L, dcg * 1000000 div idcg)"))
        .orderBy("o_orderpriority")
    },
      Oracle("""WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |                  row_number() OVER (PARTITION BY o_orderpriority
        |                                     ORDER BY o_totalprice DESC, o_orderkey) AS rank
        |           FROM orders),
        |t AS (SELECT *, o_orderkey % 4 AS rel,
        |             CASE o_orderkey % 4 WHEN 0 THEN 0 WHEN 1 THEN 1
        |                                 WHEN 2 THEN 3 ELSE 7 END AS gain
        |      FROM r WHERE rank <= 10),
        |i AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |                                   ORDER BY rel DESC, o_totalprice DESC, o_orderkey)
        |               AS irank
        |      FROM t),
        |dt(rk, disc) AS (VALUES (1, 1000000), (2, 630929), (3, 500000), (4, 430676),
        |                        (5, 386852), (6, 356207), (7, 333333), (8, 315464),
        |                        (9, 301029), (10, 289064))
        |SELECT o_orderpriority,
        |       CAST(sum(gain * d1.disc) AS BIGINT) AS dcg,
        |       CAST(sum(gain * d2.disc) AS BIGINT) AS idcg,
        |       CAST(CASE WHEN sum(gain * d2.disc) = 0 THEN 1000000
        |                 ELSE (sum(gain * d1.disc) * 1000000) // sum(gain * d2.disc)
        |            END AS BIGINT) AS ndcg_ppm
        |FROM i JOIN dt d1 ON d1.rk = i.rank JOIN dt d2 ON d2.rk = i.irank
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Sharded HLL NDV (Apache DataSketches via Spark's hll_* family):
    // each shard builds a fixed-size sketch, shards merge by
    // hll_union_agg — the mergeable-state pattern that replaces the
    // exact distinct's full shuffle at 100 TB (bytes-per-shard
    // constant, one tiny union reduce).
    Query("sketch_hll_shards", (s, d) => {
      // the shard pass aggregates map-side straight off the scan: a
      // keys-only spread ahead of it costs two exchanges
      val li = Tables.load(s, d, "lineitem").select("l_orderkey")
        .withColumn("shard", pmod(col("l_orderkey"), lit(8)))
      val shardSketches = li.groupBy("shard")
        .agg(expr("hll_sketch_agg(l_orderkey, 14)").as("sk"))
      val merged = shardSketches
        .agg(count(lit(1)).as("n_shards"),
          expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_union"))
      // the whole-corpus sketch reads the DISTINCT keys the exact count
      // shuffles anyway (an HLL is blind to duplicates): beside a
      // countDistinct it would build, shuffle and merge a sketch per key
      val whole = li.select("l_orderkey").distinct().agg(
        expr("hll_sketch_estimate(hll_sketch_agg(l_orderkey, 14))").as("est_whole"),
        count(col("l_orderkey")).as("exact_ndv"))
      merged.crossJoin(whole)
        .select(col("n_shards"), col("est_union"), col("est_whole"),
          col("exact_ndv"))
    },
      RowsOnly("DuckDB's HLL is a different sketch; the spec asserts the shard-merged " +
        "and whole-corpus estimates both land within 5% of exact NDV")),
    // GDPR-style pseudonymization with referential integrity: the
    // customer key is replaced by a salted-md5 token in BOTH tables
    // (deterministic — same key, same token, run after run), so
    // foreign keys still join and aggregates still roll up while the
    // raw identifier never leaves the scan projection. The segment
    // revenue computed ONLY through tokens must equal the direct
    // keyed join (oracle).
    Query("pseudonymize_keys", (s, d) => {
      val tok = (c: org.apache.spark.sql.Column) =>
        md5(concat(lit("graft-salt-v1:"), c.cast("string")).cast("binary"))
      val cust = Tables.load(s, d, "customer")
        .select(tok(col("c_custkey")).as("c_tok"), col("c_mktsegment"))
      val ords = Tables.load(s, d, "orders")
        .select(tok(col("o_custkey")).as("o_tok"),
          floor(col("o_totalprice") * 100).cast("bigint").as("cents"))
      ords.join(cust, col("o_tok") === col("c_tok"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("o_tok")).as("n_tokens"),
          sum("cents").as("revenue_cents"))
        .orderBy("c_mktsegment")
    },
      Oracle("""WITH c AS (SELECT md5('graft-salt-v1:' || CAST(c_custkey AS VARCHAR)) AS c_tok,
        |    c_mktsegment FROM customer),
        |o AS (SELECT md5('graft-salt-v1:' || CAST(o_custkey AS VARCHAR)) AS o_tok,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT c_mktsegment, count(*) AS n_orders,
        |  count(DISTINCT o_tok) AS n_tokens,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM o JOIN c ON o_tok = c_tok
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),
    // Sharded frequent-items sketch (DataSketches ApproxTopK via
    // Spark's accumulate/combine/estimate family): per-shard sketch
    // states merge associatively — constant bytes per shard, the
    // heavy-hitters path that replaces an exact global groupBy at
    // 100 TB. With cardinality (5 event types) far under the tracked
    // budget the sketch is EXACT, so this one is full-oracle: the
    // estimate must equal the plain count aggregate bit-for-bit.
    Query("sketch_topk_shards", (s, d) =>
      Tables.load(s, d, "events")
        .withColumn("shard", pmod(col("user_id"), lit(8)))
        .groupBy("shard")
        .agg(expr("approx_top_k_accumulate(event_type, 16)").as("st"))
        .agg(expr("approx_top_k_estimate(approx_top_k_combine(st, 16), 5)")
          .as("top"))
        .select(explode(col("top")).as("e"))
        .select(col("e.item").as("event_type"),
          col("e.count").cast("bigint").as("n_events"))
        .orderBy("event_type"),
      Oracle("""SELECT event_type, count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin)),
    // Bigram LM counts / BPE merge candidates: the top-64 order-2
    // token windows by count, heap-aggregated (never a global sort of
    // the distinct-bigram table)
    Query("text_bigrams", (s, d) =>
      graft.text.TextOps.bigramVocab(docs(s, d), 64).orderBy("rank"),
      Oracle("""WITH d AS (SELECT list_filter(string_split(text, ' '), t -> len(t) > 0) AS w
        |  FROM documents),
        |t AS (SELECT unnest(CASE WHEN len(w) >= 2 THEN
        |    [w[i] || ' ' || w[i+1] for i in range(1, len(w))]
        |    ELSE [] END) AS bigram FROM d),
        |c AS (SELECT bigram, count(*) AS cnt FROM t GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
        |r AS (SELECT bigram, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, bigram DESC) AS rank,
        |    sum(cnt) OVER (ORDER BY cnt DESC, bigram DESC) AS cum FROM c)
        |SELECT rank, bigram, cnt,
        |  round(cnt / total, 4) AS pct, round(cum / total, 4) AS cum_pct
        |FROM r, tot WHERE rank <= 64 ORDER BY rank""".stripMargin)),
    // Balanced per-class sample: every label downsampled to the
    // smallest class's size, rows picked by md5(vec_id) order — a
    // deterministic engine-portable "random" that two runs (and two
    // engines) agree on. One window pass per label + a 1-row
    // broadcast floor; the undersample-to-floor step of classifier
    // training prep.
    Query("sample_balanced", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, d).select("vec_id", "label")
        .withColumn("h", md5(col("vec_id").cast("string").cast("binary")))
      val floor0 = e.groupBy("label").agg(count(lit(1)).as("_n"))
        .agg(min("_n").as("_k"))
      e.withColumn("rn", row_number().over(
          Window.partitionBy("label").orderBy("h", "vec_id")))
        .crossJoin(broadcast(floor0))
        .where(col("rn") <= col("_k"))
        .select(col("label"), col("rn").cast("bigint").as("rn"), col("vec_id"))
        .orderBy("label", "rn")
    },
      Oracle("""WITH e AS (SELECT vec_id, label, md5(CAST(vec_id AS VARCHAR)) AS h
        |  FROM embeddings),
        |k AS (SELECT min(cnt) AS _k FROM
        |    (SELECT count(*) AS cnt FROM e GROUP BY label)),
        |r AS (SELECT label, vec_id,
        |    row_number() OVER (PARTITION BY label ORDER BY h, vec_id) AS rn
        |  FROM e)
        |SELECT label, CAST(rn AS BIGINT) AS rn, vec_id
        |FROM r, k WHERE rn <= _k ORDER BY label, rn""".stripMargin)),
    // group-aware train/valid/test split: assignment is a pure md5
    // hash of the SOURCE (all docs of a source share a split — the
    // leakage guard), rollup per split; group-integrity spec-proved
    Query("split_leakage_safe", (s, d) =>
      DataPrep.splitLeakageSafe(docs(s, d), "source")
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_groups"),
          sum("n_chars").as("total_chars"))
        .orderBy("split"),
      Oracle(s"""WITH a AS (SELECT source, n_chars,
         |    ${ddHex2Int("upper(substr(md5(CAST(source AS VARCHAR)), 1, 15))")} % 100 AS h
         |  FROM documents),
         |s AS (SELECT CASE WHEN h < 80 THEN 'train'
         |                  WHEN h < 90 THEN 'valid'
         |                  ELSE 'test' END AS split, source, n_chars FROM a)
         |SELECT split, count(*) AS n_docs, count(DISTINCT source) AS n_groups,
         |  CAST(sum(n_chars) AS BIGINT) AS total_chars
         |FROM s GROUP BY 1 ORDER BY split""".stripMargin)),
    // Deterministic training-shard assignment: shard = md5(doc_id)
    // folded to 60 bits, mod 16 — the content-independent hash split
    // every epoch-reshuffle pipeline needs (stable across runs and
    // engines, unlike hash()/xxhash64 whose seeds are Spark-private).
    // The manifest (counts, char volume, id range per shard) is one
    // aggregate; at 100 TB the same expression IS the partitionBy
    // column for the sharded write — assignment never leaves codegen.
    Query("shuffle_shard", (s, d) =>
      docs(s, d)
        .withColumn("shard", graft.core.Hashes.md5Fold60("doc_id", 16))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("total_chars"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("shard"),
      Oracle(s"""SELECT ${ddHex2Int("upper(substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))")} % 16 AS shard,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM documents GROUP BY 1 ORDER BY shard""".stripMargin)),
    // tokenizer coverage QA: per language, what fraction of running
    // tokens the top-64 vocabulary covers (the OOV-rate table that
    // decides vocab size per language before a tokenizer ships). The
    // vocab is bounded (k rows) and broadcasts beside the token
    // stream; one (lang) aggregate with map-side partials.
    Query("tokenizer_coverage", (s, d) => {
      val vocab = TextOps.vocabBuild(docs(s, d), 64)
        .select(col("token"), lit(true).as("_in_vocab"))
      docs(s, d)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .join(broadcast(vocab), Seq("token"), "left")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("_in_vocab"), 1L).otherwise(0L)).as("covered"))
        // n_tokens bounds both numerators; guard once (the 9.2e12
        // token-ppm overflow line — see quality_ablation)
        .withColumn("_ppm_ok", col("n_tokens") <= lit(Long.MaxValue / 1000000L))
        .withColumn("covered_ppm",
          when(!col("_ppm_ok"), raise_error(lit(
            "tokenizer_coverage: token ppm overflows int64")))
          .otherwise(expr("covered * 1000000 div n_tokens")))
        .withColumn("oov_ppm", expr("(n_tokens - covered) * 1000000 div n_tokens"))
        .drop("_ppm_ok")
        .orderBy("lang")
    },
      Oracle("""WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS cnt
        |      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |      WHERE token <> '' GROUP BY 1),
        |v AS (SELECT token FROM c ORDER BY cnt DESC, token DESC LIMIT 64),
        |j AS (SELECT lang, t.token IN (SELECT token FROM v) AS iv FROM tok t)
        |SELECT lang, count(*) AS n_tokens,
        |       CAST(sum(CASE WHEN iv THEN 1 ELSE 0 END) AS BIGINT) AS covered,
        |       CAST(sum(CASE WHEN iv THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT) AS covered_ppm,
        |       CAST((count(*) - sum(CASE WHEN iv THEN 1 ELSE 0 END)) * 1000000 // count(*) AS BIGINT) AS oov_ppm
        |FROM j GROUP BY 1 ORDER BY lang""".stripMargin)),
    // language-ID evaluation: the labeled `lang` column vs the
    // marker-heuristic prediction as a confusion table — the accuracy
    // audit behind text_langid's classification. One aggregate.
    Query("langid_eval", (s, d) =>
      TextOps.langId(docs(s, d))
        .join(docs(s, d).select("doc_id", "lang"), "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "pred_lang"),
      Oracle("""WITH p AS (SELECT doc_id, lang,
        |       round(len(list_filter(list_filter(string_split(text, ' '), x -> len(x) > 0),
        |                 x -> x IN ('the', 'a', 'of', 'and', 'in', 'to', 'is')))
        |             * 1.0 / greatest(len(list_filter(string_split(text, ' '), x -> len(x) > 0)), 1), 4) AS er
        |       FROM documents)
        |SELECT lang, CASE WHEN er >= 0.05 THEN 'en' ELSE 'other' END AS pred_lang,
        |       count(*) AS n_docs
        |FROM p GROUP BY 1, 2 ORDER BY lang, pred_lang""".stripMargin)),
    // hard-negative mining: top-5 most-similar DIFFERENT-label vectors
    // per anchor — the confusing-negatives table for contrastive
    // training. The anchor set is a FIXED batch (vec_id < 200), NOT a
    // corpus fraction: exact mining is O(|anchors| × N), so a
    // fractional anchor set would grow quadratically with the corpus
    // (the sf1 spike measured exactly that before this cap). Mining
    // negatives for EVERY anchor at corpus scale goes through the IVF
    // cell probe (dedup_embedding_ivf's shape), not brute force.
    Query("mine_hard_negatives", (s, d) =>
      Ann.hardNegatives(emb(s, d), emb(s, d).where(col("vec_id") < 200), 5)
        .orderBy("q_id", "rank"),
      Oracle(s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS ql
          |           FROM embeddings WHERE vec_id < 200),
          |scored AS (
          |  SELECT q.q_id, e.vec_id AS nn_id, ${ddCos("q.q_emb", "e.embedding")} AS sc
          |  FROM q, embeddings e WHERE e.label <> q.ql),
          |top AS (SELECT q_id, nn_id, sc,
          |          row_number() OVER (PARTITION BY q_id ORDER BY sc DESC, nn_id) AS rank
          |        FROM scored)
          |SELECT q_id, nn_id, round(sc, 4) AS score, rank FROM top
          |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin)),
    // T5 span-corruption geometry (Raffel et al. 2020 §3.1.4: 15%
    // corruption, mean span 3): per doc the corrupt-token count, span
    // count and the resulting encoder/decoder sequence lengths
    // (sentinel per span + final sentinel) — the table that sizes
    // batches for span-corruption pretraining. Pure integer
    // projection, scan speed.
    Query("span_corruption", (s, d) =>
      docs(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .withColumn("n_corrupt", expr("n_tokens * 15 div 100"))
        .withColumn("n_spans",
          expr("IF(n_corrupt = 0, 0, greatest(1, n_corrupt div 3))"))
        .withColumn("input_len", expr("n_tokens - n_corrupt + n_spans"))
        .withColumn("target_len", expr("n_corrupt + n_spans + 1"))
        .orderBy("doc_id"),
      Oracle("""WITH t AS (SELECT doc_id,
        |                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT *, n_tokens * 15 // 100 AS n_corrupt FROM t),
        |s AS (SELECT *, CASE WHEN n_corrupt = 0 THEN 0
        |                     ELSE greatest(1, n_corrupt // 3) END AS n_spans FROM c)
        |SELECT doc_id, n_tokens, n_corrupt, n_spans,
        |       n_tokens - n_corrupt + n_spans AS input_len,
        |       n_corrupt + n_spans + 1 AS target_len
        |FROM s ORDER BY doc_id""".stripMargin)),
    // PCA spectrum of the embedding covariance: only the d(d+1)/2-cell
    // Gramian crosses the wire; eigensolve is driver-local
    Query("embedding_pca", (s, d) =>
      graft.sim.Pca.spectrum(s, emb(s, d)).orderBy("component"),
      RowsOnly("float eigenvalues have no portable SQL form; " +
        "PcaSpec asserts the spectral invariants")),
    // the distributed half of embedding_pca as its own full-oracle
    // row (r14): exact milli-unit Gramian cells + i-side moments +
    // counts over the SAME trianglePairs shape spectrum aggregates —
    // the shuffle-bearing PCA code is hash-gated, only the 64×64
    // driver eigensolve stays spec-only
    Query("embedding_pca_gram", (s, d) =>
      graft.sim.Pca.gramExact(emb(s, d)).orderBy("i", "j"),
      // exact milli-unit upper-triangle Gramian: order-independent
      // BIGINT sums, 0-based (i, j) to match Spark's posexplode; the
      // oracle enumerates the full d×d and filters j >= i (exactness,
      // not plan shape, is what an oracle prices)
      Oracle("""WITH base AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
        |px AS (SELECT u.i, w.j,
        |         CAST(floor(e[u.i + 1] * 1000) AS BIGINT) AS xi,
        |         CAST(floor(e[w.j + 1] * 1000) AS BIGINT) AS xj
        |       FROM base,
        |            unnest(range(0, len(e))) AS u(i),
        |            unnest(range(0, len(e))) AS w(j)
        |       WHERE w.j >= u.i)
        |SELECT i, j, CAST(sum(xi * xj) AS BIGINT) AS gram_milli2,
        |       CAST(sum(xi) AS BIGINT) AS sum_i_milli, count(*) AS n
        |FROM px GROUP BY i, j ORDER BY i, j""".stripMargin)),
    // BPE apply: trained merges replayed over the DISTINCT word table,
    // token counts joined back per doc.
    // Consumes the SHARED trained model (the production contract —
    // train once per snapshot, apply everywhere); bpe_train still
    // times a full independent training
    Query("bpe_apply", (s, d) =>
      TextOps.bpeApply(docs(s, d), trained = Some(bpeRules(s, d)))
        .orderBy("doc_id"),
      RowsOnly("the trained-rule replay has no single-SQL form; " +
        "the spec replays a reference BPE")),
    // Gopher Appendix-A1 document gate, thresholds tuned to where this
    // corpus actually varies (word count / repetition bite; the
    // mean-word-length band and alpha floor pass by construction and
    // prove the rule wiring)
    Query("gopher_rules", (s, d) =>
      TextOps.gopherRules(docs(s, d), minWords = 20L).orderBy("doc_id"),
      Oracle("""WITH tok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS tok FROM documents),
        |c AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |s AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_words,
        |             CAST(sum(cnt * len(tok)) AS BIGINT) AS len_sum,
        |             count(DISTINCT CASE WHEN tok IN ('the','be','to','of','and','that','have','with')
        |                                 THEN tok END) AS stop_hits,
        |             CAST(sum(CASE WHEN regexp_matches(tok, '[a-z]') THEN cnt ELSE 0 END) AS BIGINT) AS alpha,
        |             CAST(max(cnt) AS BIGINT) AS top
        |      FROM c GROUP BY 1),
        |m0 AS (SELECT doc_id, n_words, (len_sum * 1000000) // n_words AS mean_len_micro,
        |             stop_hits, (alpha * 1000000) // n_words AS alpha_micro,
        |             (top * 1000000) // n_words AS top_tok_micro
        |      FROM s),
        |m AS (SELECT d.doc_id, coalesce(m0.n_words, 0) AS n_words,
        |             coalesce(m0.mean_len_micro, 0) AS mean_len_micro,
        |             coalesce(m0.stop_hits, 0) AS stop_hits,
        |             coalesce(m0.alpha_micro, 0) AS alpha_micro,
        |             coalesce(m0.top_tok_micro, 0) AS top_tok_micro
        |      FROM documents d LEFT JOIN m0 ON m0.doc_id = d.doc_id)
        |SELECT *, n_words >= 20 AND n_words <= 100000 AS ok_words,
        |       mean_len_micro BETWEEN 3000000 AND 10000000 AS ok_mean_len,
        |       stop_hits >= 2 AS ok_stop,
        |       alpha_micro >= 800000 AS ok_alpha,
        |       top_tok_micro <= 200000 AS ok_repetition,
        |       (n_words >= 20 AND n_words <= 100000)
        |         AND mean_len_micro BETWEEN 3000000 AND 10000000
        |         AND stop_hits >= 2 AND alpha_micro >= 800000
        |         AND top_tok_micro <= 200000 AS keep
        |FROM m ORDER BY doc_id""".stripMargin)),
    // CCNet-style LM quality signal: corpus-trained add-one bigram LM,
    // per-doc mean negative log10 likelihood
    Query("text_perplexity", (s, d) =>
      TextOps.bigramLogProb(docs(s, d)).orderBy("doc_id"),
      Oracle("""WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws FROM documents),
        |p AS (SELECT doc_id, unnest(ws[1:len(ws)-1]) AS w1, unnest(ws[2:len(ws)]) AS w2 FROM w),
        |model AS (SELECT w1, w2, count(*) AS c12 FROM p GROUP BY 1, 2),
        |lefts AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM model GROUP BY 1),
        |v AS (SELECT count(DISTINCT tok) AS vv
        |      FROM (SELECT unnest(ws) AS tok FROM w)),
        |sc AS (SELECT m.w1, m.w2,
        |              CAST(floor(log10(c1 + vv) * 1000000) AS BIGINT)
        |                - CAST(floor(log10(c12 + 1) * 1000000) AS BIGINT) AS mneg
        |       FROM model m JOIN lefts USING (w1), v),
        |r AS (SELECT doc_id, count(*) AS n_bigrams,
        |             CAST(sum(mneg) AS BIGINT) AS sum_mneg,
        |             round(sum(mneg) / 1000000.0 / count(*), 4) AS avg_neg_log10p
        |      FROM p JOIN sc USING (w1, w2)
        |      GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(n_bigrams, 0) AS n_bigrams,
        |       coalesce(sum_mneg, 0) AS sum_mneg, avg_neg_log10p
        |FROM documents d LEFT JOIN r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),
    // RLHF preference-pair builder: within each prompt group (source
    // stands in for the prompt key), the top-scored candidate is
    // `chosen` and every candidate at least `margin` below it becomes
    // a (chosen, rejected) training pair — the standard reward-model
    // data shape. Ties on score break to the lower doc_id so the
    // chosen row is deterministic. The rank window runs per prompt
    // group (candidate lists are small by construction at any corpus
    // scale — a prompt has dozens of candidates, not millions).
    Query("preference_pairs", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val margin = 400000L
      val scored = TextOps.qualityClassifier(docs(s, d))
        .select("doc_id", "score_micro")
        .join(docs(s, d).select("doc_id", "source"), "doc_id")
      val w = Window.partitionBy("source")
        .orderBy(desc("score_micro"), asc("doc_id"))
      val best = scored.withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .select(col("source"), col("doc_id").as("chosen_id"),
          col("score_micro").as("chosen_score"))
      scored.join(best, "source")
        .where(col("chosen_score") - col("score_micro") >= margin)
        .select(col("source"), col("chosen_id"),
          col("doc_id").as("rejected_id"),
          (col("chosen_score") - col("score_micro")).as("margin_micro"))
        .orderBy("source", "rejected_id")
    },
      Oracle(s"""WITH $ddQualityScore,
        |g AS (SELECT s.doc_id, d.source, s.score_micro
        |      FROM qsc s JOIN documents d USING (doc_id)),
        |best AS (SELECT source, doc_id AS chosen_id, score_micro AS chosen_score
        |         FROM (SELECT *, row_number() OVER (PARTITION BY source
        |                 ORDER BY score_micro DESC, doc_id) AS rn FROM g)
        |         WHERE rn = 1)
        |SELECT g.source, chosen_id, g.doc_id AS rejected_id,
        |       chosen_score - g.score_micro AS margin_micro
        |FROM g JOIN best USING (source)
        |WHERE chosen_score - g.score_micro >= 400000
        |ORDER BY g.source, rejected_id""".stripMargin)),
    // Training-mixture report: the per-(lang, source) doc/token table
    // with global token share in ppm — the dataset-card summary every
    // corpus release publishes. One map-side-combinable aggregate plus
    // a 1-row broadcast total.
    Query("mixture_report", (s, d) => {
      val per = docs(s, d)
        .select(col("lang"), col("source"),
          size(split(col("text"), " ")).cast("long").as("_toks"),
          col("n_chars"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"), sum("_toks").as("n_tokens"),
          sum("n_chars").as("n_chars"))
      val tot = per.agg(sum("n_tokens").as("_t"))
      per.crossJoin(broadcast(tot))
        .withColumn("token_share_ppm",
          when(col("n_tokens") > lit(Long.MaxValue / 1000000L),
            raise_error(lit("mixture_report: token ppm overflows int64 " +
              "— pre-aggregate in kilotokens")))
          .otherwise(expr("n_tokens * 1000000 div _t")))
        .drop("_t")
        .orderBy("lang", "source")
    },
      Oracle("""WITH per AS (SELECT lang, source, count(*) AS n_docs,
        |                    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |                    CAST(sum(n_chars) AS BIGINT) AS n_chars
        |             FROM documents GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tt FROM per)
        |SELECT lang, source, n_docs, n_tokens, n_chars,
        |       n_tokens * 1000000 // tt AS token_share_ppm
        |FROM per, t ORDER BY lang, source""".stripMargin)),
  )

  /** Shared DuckDB vector helpers (double-precision sequential folds —
    * identical to the Spark expressions). */
  private def ddCos(a: String, b: String): String =
    s"""(list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))
       | / (sqrt(list_dot_product(CAST($a AS DOUBLE[]), CAST($a AS DOUBLE[])))
       |    * sqrt(list_dot_product(CAST($b AS DOUBLE[]), CAST($b AS DOUBLE[])))))""".stripMargin

  private lazy val markerIn = TextOps.EnMarkers.map(w => s"'$w'").mkString(", ")

  /** Shared oracle CTE chain for the quality-classifier micro score —
    * ONE definition (r15 verdict item 3: this CTE was hand-copied into
    * four oracles and one copy had already drifted once). Consumers
    * splice it as the head of their WITH and read
    * `qsc(doc_id, n, score_micro)`: n = empties-filtered token count
    * (0 for wordless docs), score_micro = the 1/4/1-weighted
    * len/stopword/distinct micro score, BIGINT, 0 for wordless docs —
    * the exact [[TextOps.scoreMicro]] arithmetic. CTE names are
    * q-prefixed so consumers' own CTEs cannot collide. */
  private lazy val ddQualityScore: String =
    s"""qtok AS (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS t
       |         FROM documents),
       |qs0 AS (SELECT doc_id, count(*) AS n, count(DISTINCT t) AS nd,
       |             CAST(sum(CASE WHEN t IN ($markerIn)
       |                      THEN 1 ELSE 0 END) AS BIGINT) AS ns
       |      FROM qtok GROUP BY 1),
       |qsc AS (SELECT d.doc_id, coalesce(qs0.n, 0) AS n,
       |              CAST(coalesce(least(qs0.n, 64) * 15625 * 1
       |                + ((qs0.ns * 1000000) // qs0.n) * 4
       |                + ((qs0.nd * 1000000) // qs0.n) * 1, 0) AS BIGINT) AS score_micro
       |       FROM documents d LEFT JOIN qs0 ON qs0.doc_id = d.doc_id)""".stripMargin

  /** Unrolled Lloyd k-means rounds in DuckDB — the [[Ann.cellMeans]] /
    * [[Ann.lloydCentroids]] mirror, CTE-for-CTE: micro-unit integer
    * centroid means (floor(x·10⁶), BIGINT sums, explicit-pmod floor
    * division — DuckDB's BIGINT `//` TRUNCATES toward zero, so bare
    * `//` would round negative centroid components one off), cosine
    * assignment with the 1e-12 norm guard, smallest-cell tiebreak.
    * Expects a CTE `base(vec_id, e DOUBLE[])` and emits
    * `a0..a{iters+1}` / `m0..m{iters}`; the FINAL assignment is
    * `a{iters+1}(vec_id, e, cell, cs)`. `kExpr` is the seed modulus
    * (a literal or a scalar subquery). */
  private def ddLloyd(kExpr: String, iters: Int,
                      pfx: String = "", baseCte: String = "base"): String = {
    // `pfx` namespaces every emitted CTE (ex/mm/m/s/a → ${pfx}ex…) and
    // `baseCte` names the input relation, so TWO trainings can coexist
    // in one oracle (the IMI per-half quantizers: h1…/b1 and h2…/b2);
    // the defaults keep the single-quantizer call sites byte-identical
    def meanRound(r: Int, src: String) =
      s"""${pfx}ex$r AS (SELECT cell, i, CAST(floor(e[i] * 1000000) AS BIGINT) AS xm
         |        FROM $src, unnest(range(1, len(e) + 1)) AS u(i)),
         |${pfx}mm$r AS (SELECT cell, i,
         |           (sum(xm) - ((sum(xm) % count(*)) + count(*)) % count(*))
         |             // count(*) AS m
         |         FROM ${pfx}ex$r GROUP BY 1, 2),
         |${pfx}m$r AS (SELECT cell, CAST(list(m ORDER BY i) AS DOUBLE[]) AS c,
         |          greatest(sqrt(list_dot_product(
         |            CAST(list(m ORDER BY i) AS DOUBLE[]),
         |            CAST(list(m ORDER BY i) AS DOUBLE[]))), 1e-12) AS cn
         |        FROM ${pfx}mm$r GROUP BY cell)""".stripMargin
    def assignRound(r: Int, cents: String) =
      s"""${pfx}s$r AS (SELECT b.vec_id, b.e, m.cell,
         |          list_dot_product(b.e, m.c)
         |            / (greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12) * m.cn) AS cs
         |        FROM $baseCte b, $cents m),
         |${pfx}a$r AS (SELECT vec_id, e, cell, cs FROM (
         |          SELECT *, row_number() OVER (PARTITION BY vec_id
         |            ORDER BY cs DESC, cell) AS rn FROM ${pfx}s$r)
         |        WHERE rn = 1)""".stripMargin
    val seed = s"${pfx}a0 AS (SELECT vec_id, e, CAST(vec_id % $kExpr AS INT) AS cell FROM $baseCte)"
    val rounds = (0 to iters).map { r =>
      meanRound(r, if (r == 0) s"${pfx}a0" else s"${pfx}a$r") + ",\n" +
        assignRound(r + 1, s"${pfx}m$r")
    }
    (seed +: rounds).mkString(",\n")
  }

  /** The √N auto-cell count ([[Ann.ivf]]'s faiss nlist rule) as a CTE. */
  private lazy val ddAutoCells: String =
    "kk AS (SELECT least(4096, greatest(16, CAST(ceil(sqrt(count(*))) AS INT))) AS k FROM base)"

  /** IVF probe + score CTEs over [[ddLloyd]]'s outputs (iters=2 →
    * corpus assignment `a3`, final centroids `m2`): `asg` is the cell-
    * assigned corpus, `probes` each query's `nprobe` best cells
    * (cs desc, cell asc — the slice-of-sorted-structs tiebreak),
    * `qscored` the probed-cell candidate cosines. `qFilter` restricts
    * the query side (empty = all vectors, the dedup report form). */
  private def ddIvfProbe(qFilter: String, nprobe: Int = 4): String =
    s"""asg AS (SELECT vec_id AS nn_id, e,
       |          greatest(sqrt(list_dot_product(e, e)), 1e-12) AS vn, cell FROM a3),
       |qs AS (SELECT b.vec_id AS q_id, b.e AS qe,
       |         greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12) AS qn, m.cell,
       |         row_number() OVER (PARTITION BY b.vec_id ORDER BY
       |           list_dot_product(b.e, m.c)
       |             / (greatest(sqrt(list_dot_product(b.e, b.e)), 1e-12) * m.cn) DESC,
       |           m.cell) AS prn
       |       FROM base b, m2 m $qFilter),
       |probes AS (SELECT q_id, qe, qn, cell FROM qs WHERE prn <= $nprobe),
       |qscored AS (SELECT p.q_id, a.nn_id,
       |             list_dot_product(p.qe, a.e) / (p.qn * a.vn) AS sc
       |           FROM probes p JOIN asg a USING (cell) WHERE a.nn_id <> p.q_id)""".stripMargin

  /** The int8 quantizer mirror ([[graft.sim.Quantize.withQuantized]]):
    * reconstructed v̂ = clamp(floor(v/scale + 0.5), ±127)·scale with the
    * amax/127 scale and its 1e-12 zero-vector guard — emitted as
    * `base(vec_id, e)`. */
  private lazy val ddQuantBase: String =
    """qz AS (SELECT vec_id,
      |         [CAST(x AS DOUBLE) for x in embedding] AS v,
      |         greatest(list_max([abs(CAST(x AS DOUBLE)) for x in embedding]) / 127,
      |                  1e-12) AS scale
      |       FROM embeddings),
      |base AS (SELECT vec_id,
      |          [greatest(least(CAST(floor(x / scale + 0.5) AS BIGINT), 127), -127) * scale
      |           for x in v] AS e
      |        FROM qz)""".stripMargin

  /** PQ training mirror ([[graft.sim.Pq.codebooks]]): per-subspace
    * micro-exact Lloyd over the exploded (vec_id, sub, sv) subvector
    * relation — L2 assignment (d2 asc, code asc tiebreak), floor-
    * division micro-unit cell means scaled back to natural units
    * (one deterministic /1e6 IEEE division, identical cross-engine).
    * Emits `nrm` (normalized vectors), `sr` (subvectors), the final
    * books `b{iters}` and the corpus codes `enc`. Covers the rate=1
    * training regime (corpus ≤ the 16384-vector sample cap — true at
    * every testdata SF; above it Spark hash-samples with xxhash64,
    * which has no DuckDB form). */
  private def ddPq(m: Int, dsub: Int, ksub: Int, iters: Int): String = {
    val diff = s"[r.sv[i] - b.c[i] for i in range(1, ${dsub + 1})]"
    def meanRound(r: Int) =
      s"""ex$r AS (SELECT sub, code, i, CAST(floor(sv[i] * 1000000) AS BIGINT) AS xm
         |        FROM a$r, unnest(range(1, ${dsub + 1})) AS u(i)),
         |mm$r AS (SELECT sub, code, i,
         |          CAST((sum(xm) - ((sum(xm) % count(*)) + count(*)) % count(*))
         |            // count(*) AS DOUBLE) / 1000000.0 AS v
         |        FROM ex$r GROUP BY 1, 2, 3),
         |b$r AS (SELECT sub, code, list(v ORDER BY i) AS c FROM mm$r GROUP BY 1, 2)""".stripMargin
    def assignRound(r: Int, out: String, cols: String) =
      s"""s${r + 1} AS (SELECT r.vec_id, r.sub, r.sv, b.code,
         |         list_dot_product($diff, $diff) AS d2
         |       FROM sr r JOIN b$r b ON b.sub = r.sub),
         |$out AS (SELECT $cols FROM (
         |         SELECT *, row_number() OVER (PARTITION BY vec_id, sub
         |           ORDER BY d2, code) AS rn FROM s${r + 1})
         |       WHERE rn = 1)""".stripMargin
    val seed =
      s"""nrm AS (SELECT vec_id, e,
         |          [x / greatest(sqrt(list_dot_product(e, e)), 1e-12) for x in e] AS ne
         |        FROM base),
         |sr AS (SELECT vec_id, s AS sub, ne[s*$dsub+1 : s*$dsub+$dsub] AS sv
         |       FROM nrm, unnest(range(0, $m)) AS u(s)),
         |a0 AS (SELECT vec_id, sub, sv, CAST(vec_id % $ksub AS INT) AS code FROM sr)""".stripMargin
    val rounds = (0 until iters).map(r =>
      meanRound(r) + ",\n" + assignRound(r, s"a${r + 1}", "vec_id, sub, sv, code"))
    val fin = meanRound(iters) + ",\n" +
      assignRound(iters, "enc", "vec_id AS nn_id, sub, code")
    (seed +: rounds :+ fin).mkString(",\n")
  }

  /** DuckDB trigram-shingle CTE chain over relation `rel` — ONE copy
    * (r15 verdict item 3: this chain was hand-copied into four oracle
    * strings) of the [[Dedup.shingles]] mirror: emits `sh(doc_id,
    * shs)` — distinct word trigrams for docs of ≥ 3 words. */
  private def ddShingles(rel: String): String =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM $rel),
       |sh AS (SELECT doc_id,
       |         list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
       |                        for i in range(1, len(ts) - 1)]) AS shs
       |       FROM tok WHERE len(ts) >= 3)""".stripMargin

  /** DuckDB mirror of [[presencePairs]] (tok/sh/pres CTE chain) —
    * ONE copy shared by the ngram_novelty and source_overlap oracles,
    * matching the ONE Spark-side copy. */
  private lazy val ddPresencePairs: String =
    s"""${ddShingles("documents")},
      |pres AS (SELECT DISTINCT source, md5(sg) AS g
      |         FROM (SELECT doc_id, unnest(shs) AS sg FROM sh) e
      |         JOIN documents USING (doc_id))""".stripMargin

  // ---- DuckDB byte-arithmetic helpers for the mm_meta oracle (mirror
  //      MM.scala's synthesis/parse exactly; all offsets 1-based) ----
  /** n as `nbytes` big-endian bytes (BLOB). */
  private def ddBe(n: String, nbytes: Int): String =
    s"unhex(lpad(upper(to_hex($n)), ${nbytes * 2}, '0'))"
  /** n as `nbytes` little-endian bytes (BLOB). */
  private def ddLe(n: String, nbytes: Int): String =
    (0 until nbytes).map(k =>
      s"unhex(lpad(upper(to_hex((($n) // ${math.pow(256, k).toLong}) % 256)), 2, '0'))")
      .mkString("(", " || ", ")")
  /** hex string → unsigned int (DuckDB has no conv(); fold the chars). */
  private def ddHex2Int(h: String): String =
    s"list_reduce([CAST(0 AS BIGINT)] || list_transform(string_split($h, ''), " +
      s"c -> CAST(strpos('0123456789ABCDEF', c) - 1 AS BIGINT)), (a, x) -> a * 16 + x)"
  /** hex chars of `len` bytes at byte offset `i` of the hex image `h`. */
  private def ddHx(i: String, len: Int): String =
    s"substr(h, 2 * ($i) - 1, ${2 * len})"
  private def ddBei(i: String, len: Int): String = ddHex2Int(ddHx(i, len))
  private def ddLei(i: String, len: Int): String =
    (0 until len).map(k =>
      s"${math.pow(256, k).toLong} * (${ddBei(s"($i) + $k", 1)})").mkString("(", " + ", ")")

  /** Shared payload-synthesis CTEs (params → payloads → hexed): the
    * DuckDB mirror of MM.synthesizePayload — all three mm oracles build
    * on these. */
  private lazy val ddPayloadCtes: String = ddPayloadCtesFrom("documents")

  /** DuckDB mirror of MM's GVID video-container synthesis + header
    * walk (params/payloads/hexed/geo CTE chain over `src`) — ONE copy
    * for the three video oracles (frame sample, scene detect, video
    * dedup), the same factoring [[ddPayloadCtesFrom]] gives the image
    * oracles: a header-layout change must land exactly once. */
  private def ddGvidCtes(src: String): String =
    s"""params AS (
       |  SELECT doc_id, text,
       |         4 + doc_id % 13 AS nf, 16 + doc_id % 32 AS fs
       |  FROM $src),
       |payloads AS (
       |  SELECT doc_id,
       |    encode('GVID') || ${ddBe("nf", 2)} || ${ddBe("fs", 2)} ||
       |      CAST(rpad(text, CAST(nf * fs AS INT), '.') AS BLOB) AS payload
       |  FROM params),
       |hexed AS (SELECT doc_id, upper(hex(payload)) AS h FROM payloads),
       |geo AS (SELECT doc_id, h, ${ddBei("5", 2)} AS n_frames, ${ddBei("7", 2)} AS fs
       |        FROM hexed WHERE ${ddHx("1", 4)} = '47564944')""".stripMargin

  /** [[ddPayloadCtes]] over an arbitrary (doc_id, text) source — the
    * phash oracle synthesizes from an AUGMENTED corpus (planted twins)
    * and must reuse the same byte-exact payload mirror. */
  private def ddPayloadCtesFrom(src: String): String =
    s"""WITH params AS (
       |  SELECT doc_id, CAST(text AS BLOB) AS body,
       |         doc_id % 3 AS fmt,
       |         64 + doc_id % 512 AS w, 64 + (doc_id * 7) % 512 AS ht,
       |         8000 + ((doc_id // 3) % 3) * 8000 AS sr,
       |         3 + doc_id % 5 AS pad
       |  FROM $src),
       |payloads AS (
       |  SELECT doc_id,
       |    CASE
       |      WHEN fmt = 1 THEN
       |        unhex('89504E470D0A1A0A') || ${ddBe("13", 4)} || encode('IHDR') ||
       |        ${ddBe("w", 4)} || ${ddBe("ht", 4)} || unhex('0806000000') || body
       |      WHEN fmt = 0 THEN
       |        unhex('FFD8') ||
       |        unhex('FFE0') || ${ddBe("16", 2)} || encode('JFIF') || unhex('00') ||
       |          unhex('0101') || unhex('00') || ${ddBe("1", 2)} || ${ddBe("1", 2)} ||
       |          unhex('0000') ||
       |        unhex('FFFE') || ${ddBe("2 + pad", 2)} ||
       |          encode(repeat('X', CAST(pad AS INT))) ||
       |        unhex('FFC0') || ${ddBe("17", 2)} || unhex('08') ||
       |          ${ddBe("ht", 2)} || ${ddBe("w", 2)} ||
       |          unhex('03011100021101031101') || body
       |      ELSE
       |        encode('RIFF') || ${ddLe("36 + octet_length(body)", 4)} || encode('WAVE') ||
       |        encode('fmt ') || ${ddLe("16", 4)} || ${ddLe("1", 2)} || ${ddLe("1", 2)} ||
       |        ${ddLe("sr", 4)} || ${ddLe("sr * 2", 4)} || ${ddLe("2", 2)} || ${ddLe("16", 2)} ||
       |        encode('data') || ${ddLe("octet_length(body)", 4)} || body
       |    END AS payload
       |  FROM params),
       |hexed AS (SELECT doc_id, payload, upper(hex(payload)) AS h FROM payloads)""".stripMargin

  private lazy val ddN1 = s"5 + ${ddBei("5", 2)}"
  private lazy val ddN2 = s"$ddN1 + 2 + ${ddBei(s"$ddN1 + 2", 2)}"

  /** Bounded JPEG segment walk to the SOF0 marker, as a CTE. */
  private lazy val ddWalkCte: String =
    s"""walk AS (
       |  SELECT doc_id,
       |    CASE WHEN ${ddHx("3", 2)} = 'FFC0' THEN 3
       |         WHEN ${ddHx(ddN1, 2)} = 'FFC0' THEN $ddN1
       |         WHEN ${ddHx(ddN2, 2)} = 'FFC0' THEN $ddN2
       |         END AS sof
       |  FROM hexed WHERE ${ddHx("1", 2)} = 'FFD8')""".stripMargin

  /** The capped-ngram pair list (mirrors the Spark path exactly: df ∈
    * [2, 8] shingles feed the candidate join, candidates need ≥2
    * shared, verify = full-set list_intersect) — shared by the
    * `dedup_ngram_jaccard` oracle and, as the edge list, by the
    * `dedup_clusters` recursive-CTE oracle. */
  private lazy val ddNgramPairs: String =
    s"""WITH ${ddShingles("documents")},
      |ex AS (SELECT doc_id, unnest(shs) AS s FROM sh),
      |kept AS (SELECT s FROM (SELECT s, count(*) AS df FROM ex GROUP BY s)
      |         WHERE df BETWEEN 2 AND 8),
      |exk AS (SELECT ex.doc_id, ex.s FROM ex JOIN kept USING (s)),
      |cand AS (SELECT a.doc_id AS i, b.doc_id AS j
      |         FROM exk a JOIN exk b ON a.s = b.s AND a.doc_id < b.doc_id
      |         GROUP BY 1, 2 HAVING count(*) >= 2),
      |v AS (SELECT i, j, len(list_intersect(sa.shs, sb.shs)) AS inter,
      |             len(sa.shs) AS ni, len(sb.shs) AS nj
      |      FROM cand c JOIN sh sa ON c.i = sa.doc_id JOIN sh sb ON c.j = sb.doc_id)
      |SELECT i, j, jaccard FROM (
      |  SELECT i, j, round(inter * 1.0 / (ni + nj - inter), 4) AS jaccard FROM v)
      |WHERE jaccard >= 0.5""".stripMargin

}
