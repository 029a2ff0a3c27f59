package graft.kv

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Literal, RaiseError}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{DataType, StringType}
import graft.core.{ClientRows, MergeDelta, Region}

/** Spark-native batch re-expression of HBase's mutation surface
  * (hbase-client/.../client/{Put,Delete,Increment,Append}.java,
  * HTable.checkAndPut, BufferedMutator.java).
  *
  * HBase mutates in place (memstore + WAL); an analytics engine on
  * immutable parquet instead produces a NEW snapshot version per batch.
  * Every op below is a DataFrame → DataFrame transform built from
  * joins/windows, run distributed, except over a batch of client rows,
  * which the driver checks itself (below).
  *
  * The row ops (put, deleteRows, checkAndPut, checkAndPutAbsent,
  * checkAndDelete, mutateRow, checkAndMutateRow and the ops built on
  * them) compute only K, the keys that lose their row, and R, the rows
  * that become current, and return one [[graft.core.MergeDelta]] of
  * base anti-join K ∪ R. Spark runs exactly that plan; committed with
  * `Snapshots.write` over the read of an earlier snapshot version, the
  * batch is merge-on-read, as HBase flushes a memstore: the next
  * version stores only what changed, and reads merge it by key.
  *
  * Client batches. HBase's client sends a Put or Delete batch as one
  * RPC, and `checkAndPut`/`checkAndDelete` read, check and write only
  * the named rows. A batch of client rows ([[graft.core.ClientRows]]:
  * a `createDataFrame`/`toDF` batch, whose optimized plan is a
  * `LocalRelation`) keyed by an integral or string column stays on the
  * driver for the whole commit:
  *  - duplicate and NULL put keys (no `versionCol`) are refused over
  *    the batch's keys when the mutation is built, with the messages
  *    and the exception the distributed guard raises in a task, as
  *    HBase's client validates a `Put` before sending it;
  *  - the CAS kinds evaluate their check when the mutation is built,
  *    as HBase's `checkAndPut` is a synchronous call: one collect of
  *    the base rows of the batch's keys that pass it (one job, or none
  *    when `graft.core.Fetch` reads the pruned files in-thread), then
  *    the applicable rows are a driver-side filter of the batch;
  *  - `mutateRow`'s puts-minus-deletes is a driver-side filter.
  * Committed with `Snapshots.write`, put, deleteRows and mutateRow of
  * such a batch start no Spark job, and the CAS kinds one. A batch
  * derived from a table, or keyed by another type, or whose key type
  * differs from the base's, keeps the distributed plans below,
  * unchanged. No conf picks the path: the batch's plan does.
  */
object Mutations {

  /** A client batch keyed by `keyCol`, read on the driver: each row's
    * key in batch order, as a Scala value (NULL as null). Keys are
    * integral or string, whose driver-side equality is the key join's. */
  private final class Batch(spark: SparkSession, rel: LocalRelation, at: Int) {
    val keyType: DataType = rel.output(at).dataType
    val keys: Seq[Any] = {
      val toScala = CatalystTypeConverters.createToScalaConverter(keyType)
      rel.data.map(r => if (r.isNullAt(at)) null else toScala(r.get(at, keyType)))
    }
    /** The distinct non-NULL keys: a NULL key joins no row. */
    def keySet: Set[Any] = keys.filter(_ != null).toSet
    /** The rows whose key `keep` holds, as a new client batch. */
    def where(keep: Any => Boolean): DataFrame =
      PlanBridge.ofRows(spark, LocalRelation(rel.output.map(_.newInstance()),
        rel.data.zip(keys).collect { case (r, k) if keep(k) => r }))
  }

  private object Batch {
    def apply(df: DataFrame, keyCol: String): Option[Batch] = df match {
      case ClientRows(rel) =>
        val resolver = df.sparkSession.sessionState.conf.resolver
        val at = rel.output.indexWhere(a => resolver(a.name, keyCol))
        if (at < 0) None
        else Some(rel.output(at).dataType)
          .filter(t => Region.integral(t) || t == StringType)
          .map(_ => new Batch(df.sparkSession, rel, at))
      case _ => None
    }

    /** `df` as a client batch whose key type is `base`'s, for a driver
      * key join against `base`. */
    def against(base: DataFrame, df: DataFrame, keyCol: String): Option[Batch] =
      apply(df, keyCol).filter(sameKey(base, keyCol))

    /** Whether `b`'s key type is `base`'s. */
    def sameKey(base: DataFrame, keyCol: String)(b: Batch): Boolean = {
      val resolver = base.sparkSession.sessionState.conf.resolver
      base.schema.find(f => resolver(f.name, keyCol)).exists(_.dataType == b.keyType)
    }
  }

  /** The keys of `keys` whose current `base` row satisfies `check`,
    * collected now: one read of the base rows of those keys alone. */
  private def keysWhere(base: DataFrame, keyCol: String, keys: Set[Any],
                        check: Column): Set[Any] =
    if (keys.isEmpty) Set.empty
    else base.where(col(keyCol).isin(keys.toSeq: _*) && check).select(col(keyCol))
      .collect().map(_.get(0)).toSet

  /** Throw, from the driver, what `raise_error(msg)` throws in a task. */
  private def raiseNow(msg: String): Nothing = {
    new RaiseError(Literal(msg)).eval()
    throw new IllegalStateException(msg) // not reached: RaiseError always throws
  }

  /** Batch Put = upsert: rows in `puts` replace same-key rows in `base`,
    * new keys are inserted. Anti-join keeps the untouched base rows;
    * union adds the puts. At scale both sides are hash-partitioned on
    * the key — one shuffle, broadcastable when the put batch is small
    * (the common case).
    *
    * `versionCol`, when given, resolves duplicate keys WITHIN the puts
    * batch latest-wins, mirroring HBase's (row, ts) resolution in the
    * memstore: only the row with the max version per key survives.
    * HBase breaks equal-timestamp ties by memstore sequence number; a
    * DataFrame has no arrival order, so supply `tieBreakers` (ordered
    * descending after the version) when versions can collide — without
    * them the winner among equal versions is partition-order dependent. */
  def put(base: DataFrame, puts: DataFrame, keyCol: String,
          versionCol: Option[String] = None,
          tieBreakers: Seq[String] = Nil): DataFrame = {
    val resolved = resolveDuplicateKeys(puts, keyCol, versionCol, tieBreakers,
      firstWins = false, msg = "put: duplicate put key ",
      advice = " in a batch with no versionCol to order the upsert — " +
        "pass versionCol (last write wins) or de-duplicate the batch")
    MergeDelta.of(base, Some(resolved.select(col(keyCol)).distinct()), Some(resolved), keyCol)
  }

  /** ONE copy of duplicate-put-key resolution, shared by [[put]]
    * (last write wins — version DESC) and [[checkAndPutAbsent]]
    * (first op wins — version ASC). With a `versionCol`, one window
    * keeps the winning row per key; WITHOUT one, duplicate keys would
    * break the one-row-per-key snapshot invariant every downstream CAS
    * and diff relies on, so they fail LOUDLY naming the first
    * duplicate — ENFORCED, not assumed, via one count-window on the
    * puts side (the small batch side by premise). The two call sites
    * were hand-synced ~20-line copies differing only in sort direction
    * and message (r12 kv review — the drift trap). A client batch with
    * no `versionCol` is checked on the driver instead, now: the same
    * NULL then duplicate refusal, the same messages, and the batch
    * itself returned. */
  private def resolveDuplicateKeys(puts: DataFrame, keyCol: String,
      versionCol: Option[String], tieBreakers: Seq[String],
      firstWins: Boolean, msg: String, advice: String): DataFrame = {
    // a NULL-key put refuses LOUDLY here, covering put AND
    // checkAndPutAbsent in one place (r15 review — the class r13
    // closed for multiRowMutation): every key join is null-unsafe, so
    // a NULL-key row passes the anti-join "absent" test on EVERY call
    // and accumulates one unreachable identity-less row per batch —
    // undeletable by deleteRows, invisible to every CAS. The guard
    // rides the key column itself (read by every consumer), so it
    // costs no extra job and cannot be pruned.
    // caller-name-only prefix (r15 advice): the duplicate-key `msg`
    // says "duplicate put key", which misdescribes a NULL-key failure
    val caller = msg.takeWhile(_ != ':')
    val nullKey = s"$caller: NULL put key — a NULL-key put row " +
      "is unreachable by every key join (deletes, CAS) and would " +
      "accumulate per batch; fix the put batch upstream"
    def guarded = puts.withColumn(keyCol,
      when(col(keyCol).isNull, raise_error(lit(nullKey))).otherwise(col(keyCol)))
    versionCol match {
      case Some(v) =>
        val ord = (v +: tieBreakers)
          .map(c => if (firstWins) col(c).asc else col(c).desc)
        val w = Window.partitionBy(keyCol).orderBy(ord: _*)
        guarded.withColumn("_pv", row_number().over(w))
          .where(col("_pv") === 1).drop("_pv")
      case None => Batch(puts, keyCol) match {
        case Some(b) =>
          if (b.keys.contains(null)) raiseNow(nullKey)
          val seen = scala.collection.mutable.HashSet[Any]()
          b.keys.find(k => !seen.add(k)).foreach(k => raiseNow(s"$msg$k$advice"))
          puts
        case None =>
          val w = Window.partitionBy(keyCol)
          guarded.withColumn("_pn", count(lit(1)).over(w))
            .where(assert_true(col("_pn") <= 1,
              concat(lit(msg), col(keyCol).cast("string"), lit(advice)))
              .isNull)
            .drop("_pn")
      }
    }
  }

  /** Delete (row-level): anti-join on the delete key set. */
  def deleteRows(base: DataFrame, keys: DataFrame, keyCol: String): DataFrame =
    MergeDelta.of(base, Some(keys.select(col(keyCol)).distinct()), None, keyCol)

  /** BulkDeleteEndpoint, ROW type (hbase-examples/.../coprocessor/
    * example/BulkDeleteEndpoint.java): delete every row with ANY cell
    * matching the scan filter — the "delete by query" coprocessor that
    * saves shipping matched rows back to a client just to send
    * Deletes. Matched rowkeys anti-join the cell view; with both sides
    * the same relation, Catalyst plans one scan + a semi-structured
    * shuffle on rowkey, no client round-trip to scale past. */
  def bulkDeleteRows(cells: DataFrame, pred: Column): DataFrame =
    cells.join(cells.where(pred).select("rowkey").distinct(),
      Seq("rowkey"), "left_anti")

  /** BulkDeleteEndpoint, COLUMN/VERSION type: drop exactly the
    * matching cells, keep their rows. A NULL-evaluating predicate
    * (e.g. a value comparator over a NULL cell) is non-matching, so
    * the cell is KEPT — the same three-valued-logic convention
    * [[bulkDeleteRows]] gets for free from `where(pred)`. */
  def bulkDeleteCells(cells: DataFrame, pred: Column): DataFrame =
    cells.where(!coalesce(pred, lit(false)))

  /** Delete (qualifier-level): null out a column for matching rows —
    * HBase's "delete one cell, keep the row". */
  def deleteQualifier(base: DataFrame, keyPred: Column, qualifier: String): DataFrame =
    base.withColumn(qualifier, when(keyPred, lit(null)).otherwise(col(qualifier)))

  /** Version-exact delete (Delete.deleteColumn(family, qualifier, ts)):
    * remove exactly the cell versions named by coordinate+timestamp.
    * A delete marker at ts covers EVERY cell of that column carrying
    * that exact ts (two same-ts versions both die — HBase resolves the
    * marker against the timestamp, not a version ordinal), which is
    * precisely an anti-join on the 4-tuple. */
  def deleteVersion(vcells: DataFrame, deletes: DataFrame): DataFrame =
    vcells.join(
      deletes.select("rowkey", "family", "qualifier", "ts").distinct(),
      Seq("rowkey", "family", "qualifier", "ts"), "left_anti")

  /** Family-scoped timestamp-bounded delete (Delete.deleteFamily(ts):
    * everything in the family at or before ts, for the keyed rows).
    * Pure predicate — no join, survives any scale. A NULL-evaluating
    * marker predicate (NULL key/family/ts) is NON-matching, so the
    * cell is KEPT — [[bulkDeleteCells]]' convention; the former
    * `!(p) || ts.isNull` form guarded only the ts leg and silently
    * DROPPED a NULL-key cell. */
  def deleteFamilyBefore(vcells: DataFrame, keyPred: Column, family: String,
                         maxTs: Column): DataFrame =
    vcells.where(!coalesce(
      keyPred && col("family") === family && col("ts") <= maxTs, lit(false)))

  /** Increment — HBase atomic counters. At analytics scale a batch of
    * increments is a groupBy-sum merged into the counter table:
    * map-side partial sums ≈ per-regionserver combining. */
  def incrementCounters(events: DataFrame, keys: Seq[String], valueCol: String): DataFrame =
    events.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("incr_count"), round(sum(col(valueCol)), 4).as("incr_sum"))

  /** Append — concatenate onto a cell value. Batch form: per key, fold
    * all appended values in a deterministic order. sort_array on a
    * (ts, id, value) struct keeps it reproducible across partitionings. */
  def appendCells(vcells: DataFrame): DataFrame = {
    // the Append coordinate is (row, family, qualifier) — two families
    // sharing a qualifier must NOT concatenate into one value; views
    // projected without a family column (single-family tables) group
    // on (row, qualifier) alone
    val keys =
      if (vcells.columns.contains("family"))
        Seq("rowkey", "family", "qualifier")
      else Seq("rowkey", "qualifier")
    vcells.groupBy(keys.map(col): _*)
      .agg(array_join(
        transform(
          sort_array(collect_list(struct(col("ts"), col("event_id"),
            col("value").cast("string").as("value")))),
          s => s.getField("value")),
        ",").as("appended"))
  }

  /** checkAndPut — CAS (HTable.checkAndPut): each put is applied ONLY
    * where the CURRENT base row satisfies `check` (the compare half of
    * compare-and-swap is evaluated against stored state, not against
    * the incoming put). Puts whose key has no base row, or whose base
    * row fails the check, are dropped — nothing is mutated for them.
    * Semi-join on the passing key set, then a normal upsert.
    * `versionCol`/`tieBreakers` forward to [[put]]'s last-write-wins
    * duplicate resolution — without the forwarding, a duplicate-keyed
    * CAS batch died with put()'s error telling the caller to pass a
    * parameter this signature didn't have (r12 kv review). For a
    * client batch the check runs now, over the base rows of the
    * batch's keys, and the semi-join is a driver-side filter. */
  def checkAndPut(base: DataFrame, puts: DataFrame, keyCol: String,
                  check: Column, versionCol: Option[String] = None,
                  tieBreakers: Seq[String] = Nil): DataFrame = {
    val applicable = Batch.against(base, puts, keyCol) match {
      case Some(b) => b.where(keysWhere(base, keyCol, b.keySet, check))
      case None => puts.join(base.where(check).select(col(keyCol)), Seq(keyCol), "leftsemi")
    }
    put(base, applicable, keyCol, versionCol, tieBreakers)
  }

  /** checkAndPut's NULL-check-value mode (HTable.checkAndPut with
    * value = null — checkAndRowMutate compares against the absent
    * cell): the put applies only where NO current row exists for its
    * key — CAS insert-if-absent, the guard [[checkAndPut]]'s
    * stored-state `check` can never express (a key absent from base
    * never passes a WHERE over base). Existing rows are untouched
    * whatever the put carries. Duplicate put keys follow the
    * reference's sequential CAS: the FIRST op in `versionCol`(+
    * `tieBreakers`) order wins, the rest fail their absence check —
    * put()'s dedup convention; with no versionCol the batch must be
    * key-unique — ENFORCED, not assumed: the no-order path pays the
    * same one count-window shuffle the ordered path pays and fails
    * the job naming the first duplicate key (silently inserting every
    * duplicate would break the one-row-per-key invariant this CAS
    * exists to protect). One anti-join gates the puts, then a plain union —
    * no second anti-join: applicable keys are disjoint from base BY
    * CONSTRUCTION, so routing through put() would re-prove it with a
    * redundant join and extra base key scans. For a client batch the
    * key checks run now and the anti-join is a driver-side filter over
    * the base keys the batch names. */
  def checkAndPutAbsent(base: DataFrame, puts: DataFrame, keyCol: String,
                        versionCol: Option[String] = None,
                        tieBreakers: Seq[String] = Nil): DataFrame = {
    // first op wins: ASCENDING on the op sequence — the inverse of
    // put()'s last-write-wins desc, via the ONE shared resolver
    val resolved = resolveDuplicateKeys(puts, keyCol, versionCol, tieBreakers,
      firstWins = true, msg = "checkAndPutAbsent: duplicate put key ",
      advice = " in a batch with no versionCol to order the CAS — " +
        "pass versionCol (first op wins) or de-duplicate the batch")
    val applicable = Batch.against(base, resolved, keyCol) match {
      case Some(b) =>
        val present = keysWhere(base, keyCol, b.keySet, lit(true))
        b.where(k => !present(k))
      case None => resolved.join(base.select(col(keyCol)), Seq(keyCol), "left_anti")
    }
    MergeDelta.of(base, None, Some(applicable), keyCol)
  }

  /** checkAndDelete (HTable.checkAndDelete) — delete each keyed row only
    * where its CURRENT state satisfies `check`; rows failing the check
    * (or not keyed for deletion) survive. For a client batch the check
    * runs now, over the base rows of the batch's keys. */
  def checkAndDelete(base: DataFrame, delKeys: DataFrame, keyCol: String,
                     check: Column): DataFrame =
    Batch.against(base, delKeys, keyCol) match {
      case Some(b) => deleteRows(base, b.where(keysWhere(base, keyCol, b.keySet, check)), keyCol)
      case None =>
        val passKeys = base.where(check).select(col(keyCol))
          .join(delKeys.select(col(keyCol)).distinct(), Seq(keyCol), "leftsemi")
        MergeDelta.of(base, Some(passKeys), None, keyCol)
    }

  /** mutateRow (HTable.mutateRow) — atomic per-row batch of puts and
    * deletes: deletes win over puts for the same key (HBase applies the
    * row mutations as one unit; a delete of the row removes it whatever
    * else the batch holds). One pass: delete first, then upsert the
    * puts not targeted by a delete; for two client batches the puts
    * not targeted are a driver-side filter. */
  def mutateRow(base: DataFrame, puts: DataFrame, delKeys: DataFrame,
                keyCol: String): DataFrame = {
    val survivingPuts = clientPair(puts, delKeys, keyCol) match {
      case Some((p, d)) =>
        val dels = d.keySet
        p.where(k => !dels(k))
      case None => puts.join(delKeys.select(col(keyCol)).distinct(),
        Seq(keyCol), "left_anti")
    }
    put(deleteRows(base, delKeys, keyCol), survivingPuts, keyCol)
  }

  /** `puts` and `delKeys` as client batches of one key type. */
  private def clientPair(puts: DataFrame, delKeys: DataFrame,
                         keyCol: String): Option[(Batch, Batch)] =
    for (p <- Batch(puts, keyCol); d <- Batch(delKeys, keyCol) if p.keyType == d.keyType)
      yield (p, d)

  /** checkAndMutate with a RowMutations payload (HTable.java:1343):
    * the CAS guard of [[checkAndPut]] composed with [[mutateRow]]'s
    * atomic put+delete batch. Where the CURRENT base row fails
    * `check` — or has no base row at all — the ENTIRE batch for that
    * key is dropped: neither its puts nor its deletes touch the row.
    * One passing-key semi-join gates both mutation legs, then the
    * normal atomic batch applies; the guard is evaluated against
    * stored state only, never against the incoming mutations. For
    * client batches the guard runs now, in one read of the base rows
    * of both legs' keys. */
  def checkAndMutateRow(base: DataFrame, puts: DataFrame, delKeys: DataFrame,
                        keyCol: String, check: Column): DataFrame =
    clientPair(puts, delKeys, keyCol).filter(pd => Batch.sameKey(base, keyCol)(pd._1)) match {
      case Some((p, d)) =>
        val pass = keysWhere(base, keyCol, p.keySet ++ d.keySet, check)
        mutateRow(base, p.where(pass), d.where(pass), keyCol)
      case None =>
        val passKeys = base.where(check).select(col(keyCol))
        val guardedPuts = puts.join(passKeys, Seq(keyCol), "leftsemi")
        val guardedDels = delKeys.join(passKeys, Seq(keyCol), "leftsemi")
        mutateRow(base, guardedPuts, guardedDels, keyCol)
    }

  /** MultiRowMutationEndpoint (hbase-server/.../coprocessor/
    * MultiRowMutationEndpoint.java): an atomic batch spanning SEVERAL
    * rows — legal only while every row lives in the same region,
    * because that is the unit that can latch one row lock set. Regions
    * here are fixed-width key ranges (`region = key div regionWidth`,
    * the pre-split layout); a batch whose mutation keys straddle a
    * region boundary is REJECTED WHOLE — none of its puts or deletes
    * apply (the endpoint throws DoNotRetryIOException; a batch engine
    * drops the batch and reports it).
    *
    * Scale shape: the straddle test is one map-side-combinable
    * min/max-region aggregate over (batch, key) pairs — mutations, not
    * the base table, shuffle; the surviving batch keys semi-join both
    * mutation legs and the base mutates once via [[mutateRow]].
    * `strict = true` restores the endpoint's throwing behavior: any
    * straddling batch fails the job loudly (an eager driver-side
    * existence probe on the tiny rejected-batch aggregate). */
  def multiRowMutation(base: DataFrame, puts: DataFrame, delKeys: DataFrame,
                       keyCol: String, batchCol: String, regionWidth: Long,
                       strict: Boolean = false): DataFrame = {
    require(regionWidth > 0, s"regionWidth ($regionWidth) must be positive")
    val members = puts.select(col(keyCol), col(batchCol))
      .unionByName(delKeys.select(col(keyCol), col(batchCol)))
      // FLOOR division, not `div` (which truncates toward zero): a
      // negative key one region below zero would otherwise share
      // region 0 with positive keys and a straddling batch would pass
      // the atomicity check it exists to fail
      .withColumn("_region",
        expr(s"(`$keyCol` - pmod(`$keyCol`, $regionWidth)) div $regionWidth"))
    val spans = members.groupBy(batchCol)
      .agg(min("_region").as("_rlo"), max("_region").as("_rhi"),
        sum(when(col("_region").isNull, lit(1L)).otherwise(lit(0L)))
          .as("_null_keys"))
    // ONE loud probe, ONE job (r13 review — the three separate collects
    // each re-ran the full members aggregate) covering every refusal
    // class over the same tiny per-batch relation:
    //  - a NULL batch id has NO atomicity domain — the null-unsafe
    //    semi-joins below would neither apply nor report its mutations
    //    (vanished without either applying or being rejected: the
    //    data-loss shape, r12 kv review). Refused in BOTH modes.
    //  - a NULL KEY inside a named batch (r13 kv review) is the
    //    sibling identity-less shape: its _region is NULL, min/max
    //    skip it — an all-NULL-key batch got NULL _rlo/_rhi and
    //    vanished from okBatches, while a mixed batch passed the
    //    straddle check blind to the NULL-key member. BOTH modes.
    //  - strict only: a batch straddling a region boundary restores
    //    the endpoint's DoNotRetryIOException behavior.
    val straddlePred =
      if (strict) col("_rlo") =!= col("_rhi") else lit(false)
    val bad = spans.where(col(batchCol).isNull ||
        col("_null_keys") > 0 || straddlePred)
      .limit(1).collect()
    bad.headOption.foreach { r =>
      val b = r.get(r.fieldIndex(batchCol))
      val msg =
        if (b == null)
          "multiRowMutation: a mutation carries a NULL batch id — every " +
            "mutation must name its atomic batch; tag or drop it upstream"
        else if (r.getLong(r.fieldIndex("_null_keys")) > 0)
          s"multiRowMutation: batch $b contains a mutation with a NULL " +
            "key — a keyless mutation has no region and would silently " +
            "escape both the straddle check and the apply; fix or drop " +
            "it upstream"
        else
          s"multiRowMutation: batch $b straddles a region boundary " +
            s"(regionWidth=$regionWidth) — atomic multi-row batches " +
            "must stay within one region"
      throw new IllegalArgumentException(msg)
    }
    val okBatches = spans.where(col("_rlo") === col("_rhi")).select(col(batchCol))
    val okPuts = puts.join(okBatches, Seq(batchCol), "leftsemi").drop(batchCol)
    val okDels = delKeys.join(okBatches, Seq(batchCol), "leftsemi").drop(batchCol)
    mutateRow(base, okPuts, okDels, keyCol)
  }

  /** Constraint coprocessor write path (constraint/ConstraintProcessor
    * .java prePut, Constraints.java enable/add): every Put runs the
    * table's enabled Constraint chain BEFORE reaching the memstore; a
    * violating Put fails with ConstraintException and mutates NOTHING.
    * This is schema-on-write — the dual of dqAudit's read-time audit.
    * Batch form: tag each put with its FIRST failing constraint
    * (`_violation`, NULL = accepted; a NULL-evaluating predicate
    * violates — unknown ≠ pass, the dqAudit convention). Names are
    * validated identifiers like dqAudit's. */
  def constraintCheck(puts: DataFrame,
                      constraints: Seq[(String, Column)]): DataFrame = {
    require(constraints.nonEmpty, "constraintCheck needs at least one constraint")
    constraints.foreach(c =>
      graft.core.Hashes.requireIdentifier(c._1, "constraint name"))
    val firstFail = coalesce(constraints.map { case (n, pred) =>
      when(!coalesce(pred, lit(false)), lit(n)) }: _*)
    puts.withColumn("_violation", firstFail)
  }

  /** Apply a put batch under a Constraint chain: accepted puts upsert
    * via [[put]], violating puts are dropped whole — the base rows
    * they targeted stay byte-identical (the reference throws per
    * mutation; a batch engine drops and reports). Rejections are a
    * map-side projection; the only added cost over a plain put is the
    * predicate columns. */
  def constraintPut(base: DataFrame, puts: DataFrame, keyCol: String,
                    constraints: Seq[(String, Column)]): DataFrame =
    put(base,
      constraintCheck(puts, constraints)
        .where(col("_violation").isNull).drop("_violation"),
      keyCol)

  /** The rejection report beside [[constraintPut]] (the
    * ConstraintException stream, aggregated): per constraint, how many
    * puts it rejected first. */
  def constraintReport(puts: DataFrame,
                       constraints: Seq[(String, Column)]): DataFrame =
    constraintCheck(puts, constraints)
      .where(col("_violation").isNotNull)
      .groupBy(col("_violation").as("constraint"))
      .agg(count(lit(1)).as("n_rejected"))

  /** TTL expiry (HColumnDescriptor#setTimeToLive; cells older than
    * now − ttl vanish at compaction). Deterministic form: expire
    * relative to the table's max timestamp. Two-phase aggregate +
    * broadcast — no driver round-trip. */
  def ttlExpire(vcells: DataFrame, ttl: String): DataFrame = {
    val cutoff = vcells.agg((max(col("ts")) - graft.core.Intervals.literal(ttl)).as("_cut"))
    vcells.crossJoin(broadcast(cutoff)).where(col("ts") >= col("_cut")).drop("_cut")
  }

  /** Per-family TTL — in HBase, TTL is a COLUMN FAMILY property
    * (HColumnDescriptor#setTimeToLive), one retention clock per family:
    * families in the map keep cells younger than their own TTL
    * (relative to the global max ts, the same "now" as [[ttlExpire]]),
    * families without one keep forever (the reference default). One
    * broadcast scalar + a disjunctive predicate — no shuffle. */
  def ttlExpirePerFamily(vcells: DataFrame, ttls: Map[String, String]): DataFrame = {
    require(ttls.nonEmpty, "ttlExpirePerFamily needs at least one family TTL")
    val now = vcells.agg(max(col("ts")).as("_now"))
    // unlisted families (NULL included) keep forever — the reference
    // default, via the ONE shared per-family predicate shape
    // ([[Scans.perFamilyKeep]] carries the three-valued-logic note)
    val keep = Scans.perFamilyKeep(ttls.map { case (f, ttl) =>
      f -> (col("ts") >= col("_now") - graft.core.Intervals.literal(ttl))
    })
    vcells.crossJoin(broadcast(now)).where(keep).drop("_now")
  }

  /** Client batch() partial-failure semantics (hbase-client/.../client/
    * AsyncProcess.java:1324 — a DoNotRetryIOException on one action
    * "continue[s] to retry for other actions";
    * RetriesExhaustedWithDetailsException.java:70 exposes the failed
    * slice per op via getNumExceptions/getRow(i)/getCause(i)). The
    * NON-atomic dual of [[multiRowMutation]]: every op in a mixed batch
    * succeeds or fails ALONE, and the client reads one result slot per
    * op — this report is that result array.
    *
    * Failure classes modeled (both DoNotRetryIOExceptions the
    * regionserver raises before the WAL):
    *  - `NoSuchColumnFamilyException` — the op names a family the
    *    table lacks (HRegion.checkFamily);
    *  - `DoNotRetryIOException: region is read only` — the op's key
    *    lands in a read-only region (HRegion.java:3812), expressed as
    *    the `readOnly` predicate over the op row.
    * Outcome = the FIRST failing check (family validates before the
    * region is consulted, mirroring the server's check order), 'OK'
    * otherwise. A pure per-op projection — no shuffle, no join; the
    * batch never re-reads the base table to classify. */
  def batchOutcomes(ops: DataFrame, validFamilies: Seq[String],
                    readOnly: Column): DataFrame = {
    require(validFamilies.nonEmpty, "batchOutcomes needs the table's family set")
    // a DELETE with NULL family is the WHOLE-ROW delete (r15 review —
    // the [[batchApply]] scaladoc's documented op shape: 'delete' rows
    // carry only their key): the reference accepts a Delete with an
    // empty family map as a row delete and never consults checkFamily
    // for it (HRegion#prepareDelete), so it bypasses the family check
    // and answers only to the region state. Recognized only when the
    // batch carries an op_type column — family-only op relations (the
    // classifier is also used on bare cell probes) keep the strict
    // rule below.
    // coalesce FALSE: a NULL op_type must not turn the whole outcome
    // CASE three-valued (the guard-arms-name-every-NULL discipline) —
    // an unknown op with a NULL family stays a family rejection
    val isRowDelete =
      if (ops.columns.contains("op_type"))
        coalesce(col("op_type") === "delete" && col("family").isNull,
          lit(false))
      else lit(false)
    // coalesce TRUE: otherwise a NULL family is as unknown as a wrong
    // one — three-valued logic would skip the branch and apply the op
    // (HRegion.checkFamily rejects null before the WAL)
    ops.withColumn("outcome",
        when(!isRowDelete &&
            coalesce(!col("family").isin(validFamilies: _*), lit(true)),
          "NoSuchColumnFamilyException")
          .when(readOnly, "DoNotRetryIOException: region is read only")
          .otherwise("OK"))
      .withColumn("applied", col("outcome") === "OK")
  }

  /** Apply the accepted slice of a mixed put+delete batch (`op_type`
    * column: 'put' rows carry the base schema as payload plus their
    * `op_idx`, 'delete' rows only their key): failed ops drop ALONE —
    * the rows they targeted stay byte-identical — and accepted ops
    * land atomically per row. batch() gives no same-row ordering
    * guarantee, so the engine fixes a deterministic one: among
    * accepted puts for the same key the HIGHEST op_idx wins (without
    * this, two accepted puts would both survive [[put]]'s anti-join
    * union and break the one-row-per-key invariant), and a delete
    * beats the puts ([[mutateRow]]'s convention). */
  def batchApply(base: DataFrame, ops: DataFrame, keyCol: String,
                 validFamilies: Seq[String], readOnly: Column): DataFrame = {
    val ok = batchOutcomes(ops, validFamilies, readOnly).where(col("applied"))
    val lastWins = Window.partitionBy(keyCol).orderBy(col("op_idx").desc)
    val puts = ok.where(col("op_type") === "put")
      .withColumn("_rn", row_number().over(lastWins)).where(col("_rn") === 1)
      .select(base.columns.map(col).toSeq: _*)
    val dels = ok.where(col("op_type") === "delete").select(col(keyCol))
    mutateRow(base, puts, dels, keyCol)
  }

  /** Per-CELL TTL (Mutation.setTTL, hbase-client/.../client/
    * Mutation.java:511 — the OP_ATTRIBUTE_TTL attribute becomes a
    * TagType.TTL_TAG_TYPE tag on every cell of the mutation,
    * hbase-common/.../TagType.java:33; ImportTsv writes it from the
    * per-line TTL attribute, TsvImporterMapper.java:217; increments
    * and appends carry it through HRegion.java:7965). Enforcement per
    * HStore.isCellTTLExpired (hbase-server/.../regionserver/
    * HStore.java:1883-1910): a cell carrying a TTL tag expires when
    * `ts + cell_ttl < now` (cell TTLs are stored in MILLISECONDS,
    * unlike the schema's seconds), and then ALWAYS falls through to
    * the family clock — "Per cell TTLs cannot extend lifetime beyond
    * family settings" (HStore.java:1903). Effective retention is the
    * MIN of the two clocks; a NULL cell TTL (no tag) is family-only.
    *
    * Same deterministic "now" convention as [[ttlExpire]] (the table's
    * max ts), one broadcast scalar + a conjunctive per-cell predicate —
    * no shuffle, rides the scan at any scale. The cell leg adds the
    * TTL to unix millis exactly as the reference's long arithmetic
    * does; under ANSI a pathological near-Long.Max TTL fails loudly
    * rather than wrapping. */
  def ttlExpireCell(vcells: DataFrame, familyTtl: String,
                    cellTtlCol: String = "cell_ttl_ms"): DataFrame = {
    val now = vcells.agg(max(col("ts")).as("_now"))
    val familyAlive = col("ts") >= col("_now") - graft.core.Intervals.literal(familyTtl)
    // survives the cell clock iff ts + ttl >= now (expiry is the
    // STRICT ts + ttl < now, HStore.java:1900); no tag = no cell clock
    val cellAlive = col(cellTtlCol).isNull ||
      unix_millis(col("ts")) + col(cellTtlCol) >= unix_millis(col("_now"))
    vcells.crossJoin(broadcast(now))
      .where(familyAlive && cellAlive).drop("_now")
  }

  /** TTL with HColumnDescriptor#setMinVersions semantics: expired cells
    * are dropped EXCEPT the latest `minVersions` per
    * (rowkey, family, qualifier), which survive any TTL — HBase
    * guarantees a readable value for every column that ever had one. */
  def ttlExpireMinVersions(vcells: DataFrame, ttl: String, minVersions: Int = 1,
                           tieBreaker: String = "event_id"): DataFrame = {
    val cutoff = vcells.agg((max(col("ts")) - graft.core.Intervals.literal(ttl)).as("_cut"))
    val w = Window.partitionBy("rowkey", "family", "qualifier")
      .orderBy(col("ts").desc, col(tieBreaker).desc)
    vcells.crossJoin(broadcast(cutoff))
      .withColumn("_rn", row_number().over(w))
      .where(col("ts") >= col("_cut") || col("_rn") <= minVersions)
      .drop("_cut", "_rn")
  }
}
