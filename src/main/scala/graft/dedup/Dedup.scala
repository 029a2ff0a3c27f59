package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for an LLM training-data pipeline.
  *
  * Scale posture (the whole point at 100 TB): NOTHING here compares all
  * pairs. Exact dedup shuffles a 128-bit digest, not the text. The
  * near-dup family is inverted-index / bucket-join shaped: candidates
  * come from an equi-join on a shingle, an LSH band signature, or a
  * SimHash band — Catalyst plans a plain shuffled hash join — and only
  * candidates are verified exactly. No CartesianProduct anywhere
  * (SimSpec asserts this on the plans).
  */
object Dedup {

  /** Exact dedup: group by content digest (md5 — engine-portable),
    * keep the min doc_id as the canonical copy. The shuffle key is the
    * 32-char digest, never the document body.
    *
    * NULL text is MISSING content, not SHARED content: md5(NULL) is
    * NULL and groupBy conflates every NULL into one key, so a crawl
    * shard with missing captures would silently report all of them as
    * copies of one keeper (r12 dedup review) — each NULL-text doc is
    * its own keeper instead. */
  def exact(docs: DataFrame): DataFrame =
    docs.where(col("text").isNotNull)
      .groupBy(md5(col("text").cast("binary")).as("_fp"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select("keeper", "n_copies")
      .unionByName(docs.where(col("text").isNull)
        .select(col("doc_id").as("keeper"), lit(1L).as("n_copies")))

  /** Line-level dedup (C4's three-sentence-span rule, Raffel et al.
    * 2020 §2.2 / CCNet's per-paragraph hash dedup, Wenzek et al. 2020
    * §3.1), word-span form: cut each doc into fixed-width word spans
    * ("lines"), count each span's document frequency across the
    * corpus, REMOVE spans occurring in more than `maxDf` docs, and
    * reconstruct the cleaned text — the surgical cousin of whole-doc
    * dedup: boilerplate disappears from every copy while the unique
    * remainder of each doc survives. Exchanges are span-granular —
    * the df count shuffles distinct (doc, span) pairs, the rebuild
    * re-groups kept spans per doc (total bytes ≈ corpus size, the
    * same as any corpus re-group; no row ever carries a whole doc);
    * the reconstruction is order-exact via a sorted
    * struct aggregate, not collect_list order luck. Returns per doc:
    * span counts and the md5 of the cleaned text — the digest an
    * engine-independent oracle can recompute. */
  def lineDedup(docs: DataFrame, spanWords: Int = 6, maxDf: Int = 1): DataFrame = {
    require(spanWords >= 1 && maxDf >= 1, "need positive span width and df cap")
    // pinned: the span table feeds the df aggregate, the kept join AND
    // the per-doc span count — unpinned, Catalyst re-tokenizes the
    // corpus once per consumer (the ngramJaccard convention; the pin
    // rides the returned plan and frees when it is GC'd)
    val spans = docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, CAST(greatest(1, ceil(size(ts) / ${spanWords}.0)) AS INT)), " +
          s"i -> array_join(slice(ts, (i - 1) * $spanWords + 1, $spanWords), ' '))")))
      .select(col("doc_id"), col("pos"), col("col").as("line"))
      .localCheckpoint()
    val df = spans.select(col("doc_id"), col("line")).distinct()
      .groupBy("line").agg(count(lit(1)).as("_df"))
    val kept = spans.join(df, "line").where(col("_df") <= maxDf)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(expr("array_join(transform(array_sort(collect_list(struct(pos, line))), " +
          "x -> x.line), ' ')").cast("binary")).as("clean_digest"))
    // n_lines = the spans actually generated per doc (max pos + 1) —
    // not a third corpus re-split hand-duplicating the span-count
    // arithmetic; a NULL-text doc generates no spans and backfills 1
    // (split(NULL) has no rows, matching the former greatest(1, ...))
    val nLines = spans.groupBy("doc_id")
      .agg((max(col("pos")) + 1L).as("n_lines"))
    docs.select("doc_id")
      .join(nLines, Seq("doc_id"), "left")
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(1L)).as("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean_digest"), md5(lit("").cast("binary"))).as("clean_digest"))
  }

  /** URL canonicalization — the normalization web-crawl pipelines run
    * before URL-level dedup (Common Crawl keeps one capture per
    * canonical URL): drop the fragment, drop the scheme (http/https
    * variants of one page are one page), lowercase the AUTHORITY only
    * (scheme and host are case-insensitive per RFC 3986 §3.1/3.2.2 —
    * paths and query values are case-SIGNIFICANT, and lowercasing
    * them would conflate /About with /about, silently dropping a
    * genuinely different page), strip a leading `www.`, strip an
    * explicit default port (:80/:443), drop `utm_*` tracking
    * parameters (multi-underscore GA4 names like utm_source_platform
    * included), tidy the separators they leave behind, and strip a
    * trailing slash. A pure codegen'd regexp chain — scan-speed,
    * nothing shuffles. */
  def canonicalizeUrl(url: Column): Column = {
    val steps: Seq[Column => Column] = Seq(
      // (?s): an embedded newline (dirty crawl artifact) must not
      // leave the fragment tail unstripped — `.` stops at \n otherwise
      regexp_replace(_, "(?s)#.*$", ""),           // fragment
      regexp_replace(_, "(?i)^https?://", ""),     // scheme, any case
      // lowercase the authority (everything before the first / or ?);
      // the path/query tail passes through byte-identical
      // (?s) on the tail: with an embedded newline, `(.*)$` stops at
      // the \n, regexp_extract returns '' on the no-match, and the
      // whole path/query tail silently VANISHES — every malformed URL
      // on a host then collapses to one canonical key
      c => concat(lower(regexp_extract(c, "^[^/?]*", 0)),
        regexp_extract(c, "(?s)^[^/?]*(.*)$", 1)),
      regexp_replace(_, "^www\\.", ""),            // www prefix
      // default port — [/?] | end: ':80?a=1' is a port too, and the
      // fragment is already gone so '#' can't follow
      regexp_replace(_, "^([^/:]+):(80|443)([/?]|$)", "$1$3"),
      // tracking params: anchored on a REAL separator (an unanchored
      // 'utm_' would mangle any parameter or path segment merely
      // containing it, colliding distinct URLs), separator kept so a
      // following param re-attaches
      // param NAME case-folds ((?i: group) — UTM_Source is the same
      // tracker as utm_source) while VALUES stay case-significant
      regexp_replace(_, "([?&])(?i:utm_[a-z0-9_]+)=[^&#]*", "$1"),
      regexp_replace(_, "([?&])&+", "$1"),         // collapse left-over &&
      // path trailing slash(es) immediately before the query —
      // anchored to the FIRST '?' (lazy [^?]*? cannot cross one): the
      // unanchored form fired on '/?' inside query VALUES (a nested
      // URL in a redirect param), conflating distinct URLs
      regexp_replace(_, "^([^?]*?)/+\\?", "$1?"),
      regexp_replace(_, "[?&]+$", ""),             // dangling separators
      // trailing slash(es) — PATH only: the anchored ?-free pattern
      // refuses to fire on a URL with a query string, where the
      // trailing slash belongs to the last query VALUE ('?next=/home/'
      // vs '?next=/home' are different resources — stripping it was
      // exactly the case-conflation class this function documents
      // itself against). The capture is LAZY: a greedy [^?]* would
      // backtrack just one '/' into the suffix and keep the rest,
      // stripping one slash per pass (idempotence-property-caught)
      regexp_replace(_, "^([^?]*?)/+$", "$1"))
    steps.foldLeft(url)((c, f) => f(c))
  }

  /** URL-level dedup over [[canonicalizeUrl]]: one capture kept per
    * canonical URL (min doc_id), with the copy count — the cheapest
    * dedup pass a crawl corpus runs, ahead of any content hashing.
    * Same scale shape as [[exact]], including its NULL-key rule: a
    * missing URL is not a shared URL, so every NULL-url capture is
    * its own keeper (NULL canonical_url, n_copies 1) instead of all
    * of them conflating into one "duplicate" group. */
  def urlDedup(docs: DataFrame, urlCol: String = "url"): DataFrame =
    docs.where(col(urlCol).isNotNull)
      .groupBy(canonicalizeUrl(col(urlCol)).as("canonical_url"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
      .select("canonical_url", "keeper", "n_copies")
      .unionByName(docs.where(col(urlCol).isNull)
        .select(lit(null).cast("string").as("canonical_url"),
          col("doc_id").as("keeper"), lit(1L).as("n_copies")))

  /** Incremental (shard-vs-corpus) exact dedup — the ingest-time shape
    * of [[exact]]: a NEW shard of documents arrives next to an
    * already-kept corpus, and each shard doc is classified
    * `dup_in_corpus` (its digest is already kept), `dup_in_batch` (not
    * in the corpus, but a smaller-doc_id shard doc holds the digest) or
    * `kept` — the per-crawl dedup gate every training-corpus refresh
    * runs.
    *
    * Scale shape: the CORPUS is the 100 TB side, the shard is small.
    * The shard's digest set folds into a Bloom filter carried as ONE
    * scalar subquery (the same HFile-bloom read path as
    * Scans.multiGetBloomSmj), and `might_contain` prunes the corpus
    * scan to the ~shard-sized sliver of possibly-matching digests
    * BEFORE the corpus side's exchange — so the full corpus is
    * streamed once, only pruned 32-char digests ever shuffle, and the
    * corpus text never leaves its scan. The exact digest join then
    * removes bloom false positives: the report is exact, the bloom is
    * purely a pruning device.
    *
    * @param expectedDigests sizing hint for the bloom (shard digest
    *        count). */
  def incremental(corpus: DataFrame, shard: DataFrame,
                  expectedDigests: Long = 1000000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val dig = (c: Column) => md5(c.cast("binary"))
    val b = shard.select(col("doc_id"), dig(col("text")).as("digest"))
    val digests = b.select("digest").distinct()
    val bloomAgg = ColumnBridge.column(
      new BloomFilterAggregate(
        new XxHash64(Seq(ColumnBridge.resolvableExpression(col("digest")))),
        Literal(expectedDigests)).toAggregateExpression())
    val bloom = digests.agg(bloomAgg.as("_bloom"))
    val mightContain = ColumnBridge.column(BloomFilterMightContain(
      ColumnBridge.scalarSubquery(bloom),
      new XxHash64(Seq(ColumnBridge.resolvableExpression(col("digest"))))))
    val corpusHits = corpus.select(dig(col("text")).as("digest"))
      .where(mightContain).distinct()
    b.join(corpusHits.withColumn("_in_corpus", lit(true)), Seq("digest"), "left")
      .withColumn("_min_id", min(col("doc_id")).over(Window.partitionBy("digest")))
      .select(col("doc_id"), col("digest"),
        // NULL digest (missing text) is exact()'s NULL-key rule: the
        // window partitions all NULLs together, so without this arm
        // every NULL-text shard doc but one was labeled dup_in_batch
        // of documents it shares nothing with (r12 dedup review)
        when(col("digest").isNull, "kept")
          .when(col("_in_corpus"), "dup_in_corpus")
          .when(col("doc_id") > col("_min_id"), "dup_in_batch")
          .otherwise("kept").as("status"))
  }

  /** (doc_id, shs: array<string>) — distinct word-trigram shingles. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ts"))
      .where(size(col("ts")) >= n)
      .select(col("doc_id"),
        array_distinct(expr(
          s"transform(sequence(1, size(ts) - ${n - 1}), i -> array_join(slice(ts, i, $n), ' '))"))
          .as("shs"))

  /** Cross-document repeated substrings (the ExactSubstr pass of Lee
    * et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better", word-n-gram form): per doc, how many of its distinct
    * word n-grams also occur in ANOTHER document — high shared
    * fractions expose boilerplate and near-copies whose repeated spans
    * a trained model would memorize. Grams are digested at the
    * executor, so the shuffle carries fixed-width digests, never text;
    * the df join keys on the digest the gram counts were just
    * partitioned by — exchange reuse, and the within-doc distinct
    * means a doc's own repetitions never inflate its cross-doc score.
    *
    * Digest choice (r16): xxhash64 — the digest never leaves this
    * operator (only df COUNTS are reported), so it needs no
    * cross-engine portability, and the 8-byte long both halves the
    * md5 hex form's 32-char shuffle key and skips the per-gram MD5 +
    * hex-encode (the DuckDB oracle keeps md5 — counts agree because
    * digest equality ⇔ gram equality in either engine up to
    * collisions, ~1e-8 at 1e6 grams for 64-bit). Exposed digests
    * (dedup_incremental, dedup_lines) stay md5 by the portability
    * contract.
    *
    * Each word is hashed ONCE (an O(len) pre-pass), then each gram
    * digests its n word-hashes as fixed-width longs — the former form
    * re-concatenated and re-hashed every word n times (once per
    * overlapping gram), O(n·len) string bytes per doc. Word-hash
    * sequences collide exactly when word sequences do (up to the same
    * 64-bit odds): words come from split on ' ', so no word contains
    * the joiner and the gram string is injective in the sequence.
    * The word-hash array is let-bound as a lambda variable (the
    * cdcChunks discipline — a plain column would be inlined by
    * CollapseProject into every element_at reference, re-hashing the
    * whole doc per gram position). */
  def crossDocSubstrings(docs: DataFrame, n: Int = 8): DataFrame = {
    // Par.spread: the per-doc word-hash + gram-digest walk is this
    // operator's whole scan-side cost and the flat sf corpus leaves it
    // on ONE scan partition — measured as two concurrent ~0.42 s
    // single-task jobs (the gram table feeds both the df count and the
    // report join, so both exchange map stages pay it)
    val ws = graft.core.Par.spread(docs, "doc_id")
      .withColumn("w", split(col("text"), " "))
      .where(size(col("w")) >= n)
    val mkh = (1 to n).map(j => s"element_at(hw, i + $j)").mkString(", ")
    val grams = ws.select(col("doc_id"), explode(expr(
        s"""element_at(transform(array(transform(w, x -> xxhash64(x))), hw ->
           |  transform(sequence(0, size(w) - $n), i -> xxhash64($mkh))), 1)""".stripMargin)).as("h"))
      .distinct()
    val df = grams.groupBy("h").agg(count(lit(1)).as("_df"))
    val report = grams.join(df, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("_df") >= 2, 1L).otherwise(0L)).as("n_shared"))
    // a report row per input doc (the cdcChunks discipline): a doc
    // under n words has zero n-grams — zero memorization evidence —
    // and must report zeroed counts with a NULL frac, not silently
    // vanish and shift a corpus-wide avg(shared_frac) denominator
    docs.select("doc_id").join(report, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        round(col("n_shared").cast("double") / col("n_grams"), 4).as("shared_frac"))
  }

  /** Content-defined chunking dedup (the FastCDC/LBFS family, Muthitacharoen
    * et al. 2001): chunk boundaries fall where a rolling content hash
    * hits a divisor condition, so boundaries move WITH the content — an
    * insertion shifts at most the chunk it lands in, and every other
    * chunk keeps its digest (fixed-size chunking re-digests everything
    * after the edit; word n-grams emit O(n) overlapping grams where CDC
    * emits n/target disjoint chunks). The storage-style dedup report:
    * per doc, how many of its chunks exist elsewhere in the corpus.
    *
    * Boundary rule: 1-based position p ≥ 4 is a cut after `p` when the
    * Rabin fold of the 4-gram ending at p satisfies h ≡ 0 (mod
    * `targetSize`) — expected chunk length ≈ targetSize, each position
    * tested independently (no stateful scan; FastCDC's min/max clamps
    * are an optimization this declarative form does without). The fold
    * is the engine-portable [[graft.text.TextOps.fingerprint]] hash, so
    * the DuckDB oracle reproduces every boundary bit-for-bit.
    *
    * Scale shape: boundary detection and chunk extraction are pure
    * per-row projections (O(len·4) work inside codegen); only chunk
    * DIGESTS shuffle for the df count — text never leaves its scan.
    * The df table joins back on digest, one aggregate per doc. */
  def cdcChunks(docs: DataFrame, targetSize: Int = 64): DataFrame = {
    require(targetSize >= 2, s"targetSize ($targetSize) must be >= 2")
    // the 4-gram Rabin value as a DIRECT polynomial over a per-row
    // ascii array: with ascii ≤ 255 the 4-term Horner value peaks at
    // ~7.9M < 1e9+7, so the fold's per-step mod never fires and
    // (((a·31+b)·31+c)·31+d) mod M is bit-identical to the fold —
    // while evaluating as plain arithmetic per position instead of
    // allocating substring+split+fold arrays per position (the first
    // cut measured 18.9 s at sf0.1; this form is pure element_at math).
    // The ascii array is LET-BOUND as the lambda variable `a` of a
    // 1-element transform: a plain `_a` column gets inlined by
    // CollapseProject into all four element_at references, recomputing
    // split+transform per position — O(len²) per doc (measured: the
    // inlined form DNF'd a 600 s bench budget at sf0.1); a lambda
    // argument is evaluated exactly once per row by contract.
    val h4 = "(((element_at(a, cast(p as int) - 3) * 31" +
      " + element_at(a, cast(p as int) - 2)) * 31" +
      " + element_at(a, cast(p as int) - 1)) * 31" +
      " + element_at(a, cast(p as int))) % 1000000007"
    // sequence(4, n) DESCENDS for n < 4 — short texts get no cuts
    val cutsExpr =
      s"""IF(_n >= 4,
         |  element_at(transform(array(transform(split(text, ''), c -> ascii(c))),
         |    a -> filter(sequence(4L, _n), p -> $h4 % $targetSize = 0)), 1),
         |  array())""".stripMargin
    // Par.spread before the boundary scan: the per-row O(len·4) Rabin
    // walk is this operator's whole cost, and the flat single-file sf
    // corpus otherwise runs it on ONE scan partition (wall ≈ task —
    // the Par scaladoc class; one thin shuffle of the text rows)
    val chunks = graft.core.Par.spread(docs, "doc_id")
      .withColumn("_n", length(col("text")).cast("long"))
      // the cuts array is ALSO let-bound as a lambda variable (`cs`):
      // as separate _starts/_ends columns CollapseProject inlines the
      // whole boundary scan into each use — evaluating it twice per
      // row (measured ~7 s at sf0.1; let-bound ~4 s). A cut at the
      // last position leaves an empty tail slot: a start past _n
      // yields an empty substring — drop those.
      .withColumn("_chunks", expr(
        s"""element_at(transform(array($cutsExpr), cs ->
           |  filter(zip_with(concat(array(1L), transform(cs, p -> p + 1)),
           |                  concat(cs, array(_n)),
           |                  (s, e) -> IF(e >= s,
           |                    substring(text, cast(s as int), cast(e - s + 1 as int)), '')),
           |    c -> length(c) > 0)), 1)""".stripMargin))
      .select(col("doc_id"), posexplode(col("_chunks")))
      .toDF("doc_id", "chunk_idx", "chunk")
      // xxhash64, not md5: the digest is internal (only df counts are
      // reported — the crossDocSubstrings digest-choice note), and the
      // 8-byte key shrinks the window shuffle 4x vs the md5 hex form
      .select(col("doc_id"), col("chunk_idx"), xxhash64(col("chunk")).as("digest"),
        length(col("chunk")).cast("long").as("chunk_len"))
    // df via a window over digest, NOT a groupBy+self-join: the join
    // form evaluates the boundary-scan subtree twice (once per side —
    // Spark has no automatic CSE across a self-join), and that scan is
    // the whole cost of this operator. The window shuffles the same
    // digest key once and reads the scan once; measured 10.7 s → ~5 s
    // at sf0.1. Trade-off: the window has no map-side partial, so a
    // HOT digest (one boilerplate chunk shared by a large fraction of
    // the corpus) lands whole in one window partition — a straggler
    // the aggregate form would pre-combine away. When digest skew is
    // expected, compute per-digest counts with a groupBy and rejoin,
    // accepting the double scan; here chunk digests are content
    // hashes over ~1 KiB CDC chunks, so the hottest digest is bounded
    // by true duplication, which is exactly what the operator reports.
    val w = org.apache.spark.sql.expressions.Window.partitionBy("digest")
    val report = chunks.withColumn("_df", count(lit(1)).over(w))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum("chunk_len").as("n_bytes"),
        sum(when(col("_df") >= 2, 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("_df") >= 2, col("chunk_len")).otherwise(0L))
          .as("dup_bytes"))
      .select(col("doc_id"), col("n_chunks"), col("n_bytes"),
        col("n_dup_chunks"), col("dup_bytes"),
        round(col("dup_bytes").cast("double") / col("n_bytes"), 4)
          .as("dup_frac"))
    // an EMPTY doc has no chunk rows (its only slot is the '' tail the
    // length filter drops) — without the backfill it vanishes from the
    // per-doc report entirely, silently shifting any corpus-wide
    // dup-rate denominator (the lineDedup/nearestNeighborReportIvf
    // discipline: a report row per input doc, zeroed counts, dup_frac
    // NULL — 0 of 0 bytes has no honest ratio)
    docs.select("doc_id").join(report, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("n_bytes"), lit(0L)).as("n_bytes"),
        coalesce(col("n_dup_chunks"), lit(0L)).as("n_dup_chunks"),
        coalesce(col("dup_bytes"), lit(0L)).as("dup_bytes"),
        col("dup_frac"))
  }

  /** Exact n-gram Jaccard pairs via the inverted-index join: explode
    * shingles, equi-join on the shingle (docs sharing none never meet),
    * count shared distinct shingles, compute |A∩B| / |A∪B|. */
  /** @param pruneUnique drop df=1 shingles from the join input (they
    *   can never produce a pair; `sizes` keeps the full sets so Jaccard
    *   is unchanged). On natural web corpora most shingles are unique
    *   and this collapses the self-join; on a shared-vocabulary corpus
    *   (like the synthetic testdata: 0.08% unique) it is pure overhead
    *   — hence a switch, not a hardcode.
    * @param maxDf document-frequency ceiling: shingles appearing in more
    *   than `maxDf` docs are dropped from the JOIN INPUT only. A shingle
    *   at df=d produces O(d²) join rows, so one stopword-trigram at web
    *   scale (df ~10⁶) is ~10¹² rows — the blow-up mode of the exact
    *   inverted index. With a cap, candidate pairs come from rare-enough
    *   shingles and are then verified EXACTLY against the full shingle
    *   sets (array_intersect), so every reported pair carries its true
    *   full-set Jaccard; pairs sharing only ultra-common shingles are
    *   missed (recall bounded, like LSH — measured 100% at sf0.01 and
    *   93.8% at sf0.1 with maxDf=8, minShared=2 on the synthetic corpus).
    * @param minShared with `maxDf` set, require candidates to share at
    *   least this many capped shingles before the exact verify — prunes
    *   the candidate set by ~2 orders of magnitude for near-dup
    *   thresholds (a jaccard ≥ 0.5 pair shares ~half its shingles, so
    *   asking for ≥2 rare shared shingles costs little recall).
    * @param shingleTable precomputed (pinned) [[shingles]] output for
    *   `docs` — a corpus-scale pipeline materializes the shingle table
    *   once and feeds every near-dup consumer from it; passing it here
    *   skips re-tokenizing the corpus per call. */
  def ngramJaccard(docs: DataFrame, threshold: Double,
                   pruneUnique: Boolean = true,
                   maxDf: Option[Int] = None,
                   minShared: Int = 1,
                   shingleTable: Option[DataFrame] = None): DataFrame = {
    maxDf match {
      case None =>
        // pinned like the capped path: the exploded table feeds the
        // df-prune aggregate plus BOTH self-join sides, and Catalyst
        // re-tokenizes the corpus for each consumer. The pin rides the
        // returned plan (CheckpointBridge.free(result) releases it).
        val sh = shingleTable.getOrElse(shingles(docs).localCheckpoint())
        // exact path: carry each doc's set size through the explode; the
        // pair aggregate then has |A| and |B| in-row, saving two
        // post-aggregation joins
        val ex = sh.select(col("doc_id"), size(col("shs")).as("n"), explode(col("shs")).as("s"))
        val joinIn =
          if (pruneUnique) {
            val shared = ex.groupBy("s").agg(count(lit(1)).as("_df"))
              .where(col("_df") > 1).select("s")
            ex.join(shared, Seq("s"), "leftsemi")
          } else ex
        joinIn.as("a").join(joinIn.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
          .agg(count(lit(1)).as("inter"),
               first(col("a.n")).as("ni"), first(col("b.n")).as("nj"))
          .withColumn("jaccard", round(col("inter").cast("double") /
            (col("ni") + col("nj") - col("inter")), 4))
          .where(col("jaccard") >= threshold)
          .select("i", "j", "jaccard")
      case Some(cap) =>
        require(cap >= 2, s"maxDf ($cap) below 2 keeps no pair-producing shingle")
        // capped path: one shuffle builds the postings list per shingle;
        // the cap bounds every list to ≤ cap docs, so candidate pairs
        // are emitted straight off the list (≤ cap·(cap−1)/2 per
        // shingle, a codegen'd nested transform) — no self-join, no
        // second pass over the exploded shingles, and df-filtering is
        // free (it IS the list-size predicate). df=1 shingles never
        // pair, so the size ≥ 2 floor loses nothing.
        //
        // The shingle table feeds three plan subtrees (the postings
        // explode + both sides of the exact verify), and Catalyst
        // re-tokenizes the corpus for each — pin it once. At cluster
        // scale this is the persisted shingle table a pipeline writes
        // anyway; localCheckpoint is its single-JVM stand-in.
        val shp = shingleTable.getOrElse(shingles(docs).localCheckpoint())
        verifyPairs(cappedCandidates(shp, cap, minShared), shp, threshold)
    }
  }

  /** Candidate pairs off capped postings lists: one shuffle builds the
    * per-shingle list, the df ceiling bounds it to ≤ cap docs, pairs
    * are emitted straight off the list (≤ cap·(cap−1)/2 per shingle, a
    * codegen'd nested transform) — no self-join, and df-filtering is
    * free (it IS the list-size predicate). Shared by the Jaccard and
    * containment verifies. */
  private def cappedCandidates(shp: DataFrame, cap: Int, minShared: Int): DataFrame =
    // the postings key is xxhash64(shingle), not the shingle STRING
    // (r16): the key exists only to bucket doc ids — candidates are
    // verified EXACTLY against the full shingle sets afterwards — so
    // the 8-byte long shrinks the postings shuffle ~4x and skips
    // string hashing in the aggregate. A 64-bit collision (~1e-8 at
    // 1e6 shingles) merges two postings lists; spurious candidates
    // are removed by the exact verify, and the string-keyed oracle
    // fails the gate loudly if a merge ever crosses the df cap.
    shp.select(col("doc_id"), explode(col("shs")).as("_s"))
      .select(col("doc_id"), xxhash64(col("_s")).as("s"))
      .groupBy("s").agg(array_sort(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")) >= 2 && size(col("ds")) <= cap)
      .select(explode(expr(pairExpansion("y -> struct(x AS i, y AS j)"))).as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("_shared"))
      .where(col("_shared") >= minShared)
      .select("i", "j")

  /** Asymmetric n-gram CONTAINMENT pairs (Broder 1997 "On the
    * resemblance and containment of documents", small-in-large form):
    * |A∩B| / min(|A|,|B|) ≥ t — the near-dup class Jaccard
    * structurally misses: a short doc quoted whole inside a longer one
    * has tiny |A∩B|/|A∪B| but containment ≈ 1 (quote-expansions,
    * boilerplate wrappers, page-plus-chrome). Candidates come off the
    * same capped postings lists as [[ngramJaccard]]'s capped path (one
    * shuffle, no self-join); the verify is exact against the full
    * shingle sets, so every reported pair carries its true
    * containment. The reference engine has no containment operator —
    * this is LLM-pipeline surface (SURVEY §2G).
    *
    * RECALL floor, explicit (r12 review): a doc of exactly n words
    * carries ONE shingle and can never satisfy `minShared` ≥ 2 — the
    * shortest-doc end of containment's own motivating class is
    * structurally unreachable at the default. Pass minShared = 1 to
    * recover single-shingle docs at the cost of a wider candidate set
    * (Jaccard's "≥ 2 rare shared shingles costs little recall"
    * argument does NOT transfer to containment, whose positives can
    * share exactly one shingle). */
  def ngramContainment(docs: DataFrame, threshold: Double,
                       maxDf: Int = 8, minShared: Int = 2,
                       shingleTable: Option[DataFrame] = None): DataFrame = {
    require(maxDf >= 2, s"maxDf ($maxDf) below 2 keeps no pair-producing shingle")
    val shp = shingleTable.getOrElse(shingles(docs).localCheckpoint())
    verifyWith(cappedCandidates(shp, maxDf, minShared), shp, threshold,
      metricName = "containment",
      metric = (inter, ni, nj) => inter.cast("double") / least(ni, nj))
  }

  /** Exact full-set Jaccard verify on a candidate pair set — shared by
    * the LSH and capped-inverted-index paths. */
  private def verifyPairs(cand: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    verifyWith(cand, sh, threshold, metricName = "jaccard",
      metric = (inter, ni, nj) => inter.cast("double") / (ni + nj - inter))

  /** ONE copy of the exact verify scaffold (double shingle join +
    * intersection), parameterized by the similarity metric — Jaccard
    * and containment differ ONLY in the denominator, and two
    * hand-synced copies of the join shape are exactly the drift mode
    * the pairExpansion scaladoc warns about. */
  private def verifyWith(cand: DataFrame, sh: DataFrame, threshold: Double,
                         metricName: String,
                         metric: (Column, Column, Column) => Column): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("i"), col("shs").as("shs_i")), "i")
      .join(sh.select(col("doc_id").as("j"), col("shs").as("shs_j")), "j")
      .withColumn("inter", size(array_intersect(col("shs_i"), col("shs_j"))))
      .withColumn(metricName, round(metric(col("inter"),
        size(col("shs_i")), size(col("shs_j"))), 4))
      .where(col(metricName) >= threshold)
      .select(col("i"), col("j"), col(metricName))

  /** MinHash signature: fold each shingle to a 31-bit base hash ONCE
    * (hoisted out of the permutation loop — inside it, the string hash
    * would run shingles×perms times and dominate the whole job), then
    * `perms` affine permutations h_p(x) = (x*(2p+1) + p*K) mod M — all
    * codegen'd array arithmetic per row, no extra shuffle. */
  private def minhashSigs(sh: DataFrame, perms: Int): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val hs = expr("transform(shs, s -> pmod(xxhash64(s), 2147483647))")
    sh.select(col("doc_id"),
      ColumnBridge.column(MinHashSig(ColumnBridge.expression(hs), perms)).as("sig"))
  }

  /** (doc_id, band, key) LSH band keys off the MinHash signature —
    * ONE copy of the banding arithmetic, shared by the batch
    * [[minhashLsh]] candidate stage and the streaming ingest gate
    * ([[graft.streaming.StreamOps.streamingLshCandidates]]); the two
    * MUST band identically or the streaming gate's convergence
    * contract against the batch buckets is vacuous. Pure projection —
    * runs unchanged on a streaming DataFrame. */
  private[graft] def bandKeys(sh: DataFrame, perms: Int, bands: Int): DataFrame = {
    require(perms % bands == 0,
      s"perms ($perms) must be divisible by bands ($bands) — otherwise " +
        "perms % bands signature values are silently unused and the " +
        "collision probability differs from the documented formula")
    val rows = perms / bands
    // band key = xxhash64 of the signature slice (an array<bigint> —
    // hashed natively), not the '_'-joined STRING of it (r16): the
    // key only buckets docs per band, candidates are exact-verified
    // downstream, and the long both skips the per-band string build
    // and shrinks the bucket shuffle (the cappedCandidates key note;
    // same collision posture). Shared with the streaming ingest gate
    // BY CONSTRUCTION — both band through this one function, so the
    // batch/stream bucket contract is unchanged.
    minhashSigs(sh, perms).select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), b -> xxhash64(slice(sig, b*$rows + 1, $rows)))")))
      .toDF("doc_id", "band", "key")
  }

  /** MinHash + LSH banding: signature → `bands` band keys → equi-join
    * on (band, key) for candidates → exact Jaccard verify on the
    * candidates only. bands×rows = perms; P(pair at j collides) =
    * 1 - (1 - j^rows)^bands. */
  /** @param starAbove bucket-size ceiling for all-pairs emission: a
    *   (band, key) bucket larger than this emits STAR pairs (min doc to
    *   each other member, K−1 edges) instead of all K(K−1)/2. The
    *   boilerplate-corpus escape hatch — a million identical license
    *   headers put 10⁶ docs in one bucket, and 5·10¹¹ candidate pairs
    *   is the blow-up mode of any LSH formulation. Star edges preserve
    *   CONNECTIVITY (the clustering consumer recovers the same
    *   components when bucket members are mutual near-dups, the case
    *   that creates giant buckets), but the pair REPORT loses non-star
    *   pairs of such buckets and a star edge failing the exact verify
    *   can split a component — hence opt-in, default off. */
  def minhashLsh(docs: DataFrame, threshold: Double,
                 perms: Int = 128, bands: Int = 32,
                 shingleTable: Option[DataFrame] = None,
                 starAbove: Int = Int.MaxValue): DataFrame = {
    // pinned for the same three-consumer reason as the capped ngram
    // path: the signature projection + both sides of the exact verify
    val sh = shingleTable.getOrElse(shingles(docs).localCheckpoint())
    val banded = bandKeys(sh, perms, bands)
    // candidates straight off the per-bucket postings list (same trick
    // as the capped ngram path): one groupBy shuffle builds each
    // (band, key) bucket, pairs are emitted by a codegen'd nested
    // transform — vs a self-join that shuffles `banded` twice. Bucket
    // sizes are the LSH collision sets, naturally small at any corpus
    // size for near-dup thresholds; `starAbove` bounds the giant
    // identical-doc buckets a boilerplate corpus produces.
    val cand = bucketPairs(banded.groupBy("band", "key"), starAbove)
    // exact verify on candidates only: array intersect over the shingle sets
    verifyPairs(cand, sh, threshold)
  }

  /** The postings-list pair expansion `ds → [(ds[k], ds[m]) : k < m]`
    * as a SQL lambda over a sorted array column `ds`; `emit` maps each
    * (x, y) element pair to its output struct. ONE copy of the index
    * arithmetic, shared by the capped ngram path, the LSH buckets and
    * SimHash (which carries the signature through the struct) — two
    * hand-synced copies of `slice(ds, k + 2, …)` is exactly the drift
    * this file's filter predicates were deduplicated to avoid. */
  private[graft] def pairExpansion(emit: String): String =
    s"""flatten(transform(ds, (x, k) ->
       |  transform(slice(ds, k + 2, size(ds) - k - 1),
       |            $emit)))""".stripMargin

  /** The star counterpart of [[pairExpansion]]: sorted-min member to
    * each other element, `emit` sees the min as `x` and the other as
    * `y` — ONE copy of the slice arithmetic for the same no-drift
    * reason (private[graft]: the SRP arm in [[graft.sim.Ann]] shares
    * it, like [[pairExpansion]]). */
  private[graft] def starExpansion(emit: String): String =
    s"""transform(slice(ds, 2, size(ds) - 1),
       |  y -> ${emit.replaceAll("\\bx\\b", "element_at(ds, 1)")})""".stripMargin

  /** Distinct (i, j) pairs (i < j) emitted from each group's collected
    * doc_id postings list — shared by the LSH and SimHash band buckets.
    * Buckets larger than `starAbove` emit star pairs (sorted-min member
    * to each other, K−1 edges) instead of all pairs — see
    * [[minhashLsh]]'s param doc for the recall contract. */
  private def bucketPairs(buckets: org.apache.spark.sql.RelationalGroupedDataset,
                          starAbove: Int = Int.MaxValue): DataFrame =
    buckets.agg(array_sort(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")) >= 2)
      .select(explode(
        when(size(col("ds")) <= starAbove,
          expr(pairExpansion("y -> struct(x AS i, y AS j)")))
        .otherwise(expr(starExpansion("struct(x AS i, y AS j)"))))
        .as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j")).distinct()

  /** Duplicate-cluster resolution: connected components over a pair
    * list `(i, j)` — the step that turns a pairwise near-dup report
    * (ngram/LSH/SimHash/embedding) into per-document cluster ids and a
    * canonical keeper, i.e. the actual "which copies do we drop"
    * decision of a training-data pipeline. Transitivity is the point:
    * A~B and B~C pair lists leave A and C in the same cluster even when
    * the A–C pair itself was never emitted.
    *
    * Algorithm: min-label propagation with POINTER JUMPING — each round
    * first takes the min label over the 1-hop neighborhood, then
    * replaces every label by its label's label (halving chains), so a
    * diameter-d component converges in O(log d) rounds rather than
    * O(d). Each round is two shuffle joins on the vertex id; labels are
    * `localCheckpoint`ed per round so the plan does not grow with the
    * iteration count (at cluster scale this would be a reliable
    * checkpoint; the shape is identical). The only driver-side values
    * are the per-round convergence probe (`isEmpty` on the changed-label
    * set — a scalar, not data) — no `.collect()` of vertex data ever.
    * Dedup clusters are near-cliques (tiny diameter), so in practice
    * this is 2–3 rounds regardless of corpus size.
    *
    * Returns (id, cluster) for every doc appearing in `pairs`, where
    * `cluster` = min doc_id of the component (deterministic keeper). */
  /** ONE copy of the pair-list → undirected edge expansion shared by
    * [[connectedComponents]], [[pagerank]] and [[labelPropagation]]
    * (r12 review: three hand-rolled spellings had already drifted on
    * the long cast). Ids widen to long so int pair lists work in all
    * three consumers; `dedup` is for DEGREE-sensitive consumers
    * (pagerank's deg counts double on duplicate pair rows) — min/vote
    * propagation tolerates duplicates and skips the extra shuffle. */
  private def undirected(pairs: DataFrame, outA: String, outB: String,
                         dedup: Boolean): DataFrame = {
    val e = pairs
      .select(col("i").cast("long").as(outA), col("j").cast("long").as(outB))
      .unionByName(
        pairs.select(col("j").cast("long").as(outA), col("i").cast("long").as(outB)))
    if (dedup) e.distinct() else e
  }

  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    import org.apache.spark.sql.graftbridge.CheckpointBridge
    // undirected: each pair feeds both directions; pin the (possibly
    // expensive) upstream pair query so rounds do not recompute it
    val edges = undirected(pairs, "a", "b", dedup = false)
      .localCheckpoint()
    var labels = edges.select(col("a").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
      .localCheckpoint()
    var iter = 0
    var done = false
    // a round that THROWS (executor loss mid-join, a failed isEmpty
    // action) must still free the live pins — the labelPropagation
    // discipline; without it the orphaned blocks persist for the JVM
    try {
      while (!done && iter < maxIters) {
        // 1-hop min: smallest label among me and my neighbors
        val nbrMin = edges
          .join(labels.select(col("id").as("b"), col("lbl").as("nl")), "b")
          .groupBy(col("a").as("id")).agg(min(col("nl")).as("nmin"))
        // prop feeds BOTH sides of the pointer-jump self-join below — pin
        // it so the (edges ⋈ labels ⋈ groupBy) subtree runs once per
        // round, not twice. The pre-round label rides along so convergence
        // is a filter on the pinned result instead of a join back to
        // `labels`.
        val prop = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("lbl").as("prev"),
            least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
          .localCheckpoint()
        // pointer jump: my new label = my label's label (chain halving)
        var next: DataFrame = null
        try {
          next = prop
            .join(prop.select(col("id").as("lbl"), col("lbl").as("l2")),
              Seq("lbl"), "left")
            .select(col("id"), col("prev"),
              coalesce(col("l2"), col("lbl")).as("lbl"))
            .localCheckpoint()
          done = next.where(col("lbl") =!= col("prev")).isEmpty
        } catch {
          case t: Throwable =>
            CheckpointBridge.free(prop)
            if (next != null) CheckpointBridge.free(next)
            throw t // the outer catch frees labels + edges
        }
        // `next` is materialized (eager checkpoint) — the round's scratch
        // pin and the superseded label generation can be freed NOW. In a
        // long-lived JVM, keeping every round's blocks alive is a storage
        // leak that squeezes every later query (r4 driver bench: 2×).
        CheckpointBridge.free(prop)
        CheckpointBridge.free(labels)
        labels = next.select("id", "lbl")
        iter += 1
      }
    } catch {
      case t: Throwable =>
        CheckpointBridge.free(labels); CheckpointBridge.free(edges); throw t
    }
    CheckpointBridge.free(edges)
    // the final generation stays pinned — it IS the returned result;
    // the caller owns its release (PipelineQueries frees it on
    // resetShared; one pinned label table is the intended steady state;
    // ad-hoc callers iterating in one JVM release via [[releaseLabels]])
    labels
  }

  /** Release a [[connectedComponents]] result's pinned blocks once it
    * is no longer needed — the caller-side half of the ownership
    * contract above. Safe on any DataFrame (no-op without pins). */
  def releaseLabels(labels: DataFrame): Unit =
    org.apache.spark.sql.graftbridge.CheckpointBridge.free(labels)

  /** 64-bit SimHash over token frequencies: per bit, sign of the
    * weighted sum of token-hash bits; near-dups = pairs within
    * `maxHamming`, found via 4×16-bit band buckets.
    *
    * Recall contract: with 4 bands, a pair differing in ≤3 bits MUST
    * share at least one clean band (pigeonhole), so the default
    * maxHamming=3 is exact — no false negatives. A larger maxHamming
    * (up to ~6) still finds most pairs but a pair whose differing bits
    * straddle all four quarters is missed; callers wanting guaranteed
    * recall at higher distances should lower the per-band width
    * (more bands) and accept the larger candidate volume.
    *
    * @param starAbove same giant-bucket ceiling as [[minhashLsh]]:
    *   oversized buckets emit star pairs (min member to each other),
    *   trading the pair report's completeness inside those buckets for
    *   linear candidate volume. Sharper caveat than the LSH case: star
    *   edges are hamming-filtered against the bucket MIN, so two
    *   members within maxHamming of each other but both far from the
    *   min lose their edge and can land in separate clusters —
    *   connectivity is only guaranteed when bucket members are mutual
    *   near-dups of the min (the identical-boilerplate case that
    *   creates giant buckets). Opt-in, default off. */
  def simhash(docs: DataFrame, maxHamming: Int = 3,
              starAbove: Int = Int.MaxValue): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(collect_list(struct(xxhash64(col("tok")).as("h"), col("cnt"))).as("tf"))
    val sig = {
      import org.apache.spark.sql.graftbridge.ColumnBridge
      toks.select(col("doc_id"),
        ColumnBridge.column(SimHash64(ColumnBridge.expression(col("tf")))).as("sim"))
    }
    bandedSigPairs(sig.select(col("doc_id"), col("sim").as("sig")),
      bands = 4, width = 16, starAbove = starAbove, hamCut = maxHamming)
  }

  /** Banded 64-bit-signature buckets → hamming candidate pairs: the
    * shared scaffolding of [[simhash]] and the SRP arm
    * ([[graft.sim.Ann.srpDupPairs]]) — band keys posexplode off the
    * signature (`bands` windows of `width` bits), buckets build on one
    * (band, key) shuffle, pairs emit in-bucket with bit_count hamming
    * riding the struct (no join back to the sig table), the star form
    * caps degenerate buckets past `starAbove`, and `hamCut` filters
    * before the dedup. ONE copy of the bucket/emission logic for the
    * same no-drift reason as [[pairExpansion]].
    *
    * @param sigs (doc_id, sig: long) */
  private[graft] def bandedSigPairs(sigs: DataFrame, bands: Int, width: Int,
                                    starAbove: Int, hamCut: Int): DataFrame =
    sigs.select(col("doc_id"), col("sig"),
        posexplode(expr(s"transform(sequence(0, ${bands - 1}), " +
          s"q -> pmod(shiftright(sig, q*$width), ${1L << width}))")))
      .toDF("doc_id", "sig", "band", "key")
      .groupBy("band", "key")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("sig")))).as("ds"))
      .where(size(col("ds")) >= 2)
      .select(explode(
        when(size(col("ds")) <= starAbove, expr(pairExpansion(
          """y -> struct(x.doc_id AS i, y.doc_id AS j,
            |            bit_count(x.sig ^ y.sig) AS hamming)""".stripMargin)))
        .otherwise(expr(starExpansion(
          "struct(x.doc_id AS i, y.doc_id AS j, bit_count(x.sig ^ y.sig) AS hamming)"))))
        .as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"), col("p.hamming").as("hamming"))
      .where(col("hamming") <= hamCut)
      .distinct()

  /** Bounded-iteration PageRank over an undirected pair list — the
    * centrality signal a near-dup graph yields beyond components:
    * which document is the HUB of its duplication neighborhood (the
    * canonical-copy pick quality policies want, vs [[connectedComponents]]'
    * arbitrary min-id keeper).
    *
    * Arithmetic is integer micro-units end to end: p₀ = ⌊10⁶/N⌋, each
    * round p'(v) = ⌊0.15·10⁶/N⌋ + Σᵤ→ᵥ ⌊p(u)·85·10⁴/(10⁶·deg(u))⌋ —
    * one floor per edge contribution, so the sums are order-independent
    * exact longs and any engine reproduces them bit-for-bit (floating
    * PageRank differs run to run under Spark's unordered reduce). The
    * floor leakage means Σp drifts a few ppm below 10⁶ per round;
    * that's defined semantics, not error.
    *
    * Scale shape: each round is one shuffle (join p on src) + one
    * map-side-combinable sum on dst — the CC round shape. `iters` is
    * small and fixed (ranking stabilizes in a few rounds on near-dup
    * neighborhoods); the rounds unroll into one plan, and past ~10
    * rounds a production caller would pin per round exactly as
    * [[connectedComponents]] does with its checkpoint lifecycle. */
  def pagerank(pairs: DataFrame, iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 10,
      s"iters ($iters) must be in [1, 10]; past that, add per-round pins")
    // unrolled single-plan rounds: Catalyst's ReuseExchange shares the
    // edge exchange across the per-round joins, and the REGISTERED
    // caller feeds a memoized (checkpointed) pair list — an UNMEMOIZED
    // caller with an expensive pair query should pass a pinned list
    // (the scaladoc's production note)
    val edges = undirected(pairs, "src", "dst", dedup = true)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val nodes = edges.select(col("src").as("node")).distinct()
    val n = nodes.agg(count(lit(1)).as("_n"))
    // the micro-unit resolution BOUNDS the graph: past 150000 nodes
    // the teleport term 150000 div N floors to 0 (no mass
    // re-injection) and past 10^6 every rank is exactly 0 — an
    // all-zero ranking would pick keepers arbitrarily, silently.
    // Near-dup neighborhoods are far smaller; refuse loudly otherwise
    // (rescale to nano units or shard the graph).
    var p = nodes.crossJoin(broadcast(n))
      .select(col("node"), expr(
        "CASE WHEN _n <= 150000 THEN 1000000 div _n " +
          "ELSE raise_error(concat('pagerank: ', cast(_n as string), " +
          "' nodes exceeds the integer micro-unit resolution " +
          "(teleport floors to 0 past 150000) — rescale to nano units " +
          "or shard the neighborhood')) END").as("p_micro"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(p.select(col("node").as("src"), col("p_micro")), "src")
        .join(deg, "src")
        .select(col("dst").as("node"),
          expr("(p_micro * 850000) div (1000000 * deg)").as("_c"))
        .groupBy("node").agg(sum("_c").as("_s"))
      p = nodes.crossJoin(broadcast(n))
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (expr("150000 div _n") + coalesce(col("_s"), lit(0L))).as("p_micro"))
    }
    p
  }

  /** Semi-supervised label propagation over a near-dup pair graph —
    * the curation move that spreads a sparse trusted annotation
    * (language, domain, quality tier) to the unlabeled bulk through
    * duplicate/near-duplicate structure: a near-copy of a labeled
    * document inherits its label. Each round, every still-unlabeled
    * node takes the MAJORITY label of its already-labeled neighbors
    * (ties to the lexicographically smallest label, so the result is
    * set-deterministic — no dependence on edge order); seed labels
    * are clamped and never change. Labeled frontier grows
    * monotonically; nodes the frontier never reaches stay out of the
    * result.
    *
    * Scale shape: one shuffle per round (edge join on src) + one
    * map-side-combinable vote count on (dst, label) + an anti-join
    * against the labeled set — linear in edges per round, rounds
    * small and fixed (near-dup components have tiny diameters; CC
    * handles the unbounded-diameter case with pointer jumping).
    *
    * @param seeds (node, label) trusted annotations
    * @return (node, label, round) — round 0 = seed, r ≥ 1 = adopted
    *         in round r */
  def labelPropagation(pairs: DataFrame, seeds: DataFrame,
                       rounds: Int = 2): DataFrame = {
    import org.apache.spark.sql.graftbridge.CheckpointBridge
    require(rounds >= 1 && rounds <= 10, s"rounds ($rounds) must be in [1, 10]")
    // pin the edge relation (it feeds every round) and pin `labeled`
    // PER ROUND, freeing the superseded pin — the frontier is
    // referenced three times per round (vote join, anti-join, union),
    // so an unpinned lineage re-evaluates ~3^rounds times (the
    // connectedComponents / pagerank discipline). CONTRACT: the final
    // pin is returned LIVE for the caller to consume — route it
    // through a pin-owning memo (PipelineQueries.memoized) or
    // free it after collecting, as connectedComponents' callers do.
    // Intermediate pins are freed even when a round throws.
    val edges = undirected(pairs, "src", "dst", dedup = true)
      .localCheckpoint()
    // everything after the first pin runs inside the try: a failure in
    // the SEEDS projection/checkpoint must also free the edges pin
    var labeled: DataFrame = null
    try {
      labeled = seeds.select(col("node"), col("label"),
        lit(0).as("round"))
        .localCheckpoint()
      for (r <- 1 to rounds) {
        val votes = edges
          .join(labeled.select(col("node").as("src"), col("label")), "src")
          .groupBy(col("dst").as("node"), col("label"))
          .agg(count(lit(1)).as("cnt"))
        val adopted = votes
          .join(labeled.select("node"), Seq("node"), "left_anti")
          .groupBy("node")
          .agg(min(struct((-col("cnt")).as("nc"), col("label"))).as("_b"))
          .select(col("node"), col("_b.label").as("label"),
            lit(r).as("round"))
        val next = labeled.unionByName(adopted).localCheckpoint()
        CheckpointBridge.free(labeled)
        labeled = next
      }
    } catch {
      case t: Throwable =>
        if (labeled != null) CheckpointBridge.free(labeled)
        CheckpointBridge.free(edges)
        throw t
    }
    CheckpointBridge.free(edges)
    labeled
  }
}
