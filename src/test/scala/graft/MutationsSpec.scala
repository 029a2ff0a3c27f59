package graft

import org.apache.spark.sql.functions._
import graft.kv.Mutations

class MutationsSpec extends SparkSpec {
  import spark.implicits._

  test("put upserts: puts replace same-key base rows, new keys insert") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val puts = Seq((2L, "b2"), (3L, "c")).toDF("k", "v")
    val got = Mutations.put(base, puts, "k").orderBy("k").as[(Long, String)].collect()
    assert(got.sameElements(Array((1L, "a"), (2L, "b2"), (3L, "c"))))
  }

  test("put with versionCol keeps only the max-version row per key") {
    val base = Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "ver")
    val puts = Seq((2L, "b2", 10L), (2L, "b9", 20L), (3L, "c", 5L)).toDF("k", "v", "ver")
    val got = Mutations.put(base, puts, "k", versionCol = Some("ver"))
      .orderBy("k").as[(Long, String, Long)].collect()
    assert(got.sameElements(Array((1L, "a", 0L), (2L, "b9", 20L), (3L, "c", 5L))))
  }

  test("batch partial failure: mixed outcomes, failed ops never poison batch-mates") {
    // base keys 1..4; ops: put k=1 (ok), put k=2 bogus family, put k=3
    // read-only region, delete k=4 (ok), put k=5 (ok, new row),
    // delete k=1 (ok — delete wins over the same-row accepted put)
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v")
    val ops = Seq(
      (0L, "put", "info", 1L, "A"),
      (1L, "put", "bogus", 2L, "B"),
      (2L, "put", "info", 3L, "C"),
      (3L, "delete", "info", 4L, null),
      (4L, "put", "info", 5L, "E"),
      (5L, "delete", "info", 1L, null)
    ).toDF("op_idx", "op_type", "family", "k", "v")
    val readOnly = col("k") === 3L
    val out = Mutations.batchOutcomes(ops, Seq("info"), readOnly)
      .orderBy("op_idx")
      .select("outcome", "applied").as[(String, Boolean)].collect()
    assert(out.sameElements(Array(
      ("OK", true),
      ("NoSuchColumnFamilyException", false),
      ("DoNotRetryIOException: region is read only", false),
      ("OK", true), ("OK", true), ("OK", true))), out.mkString(","))
    // family validates BEFORE the region check (server order): a bogus
    // family in a read-only region reports the family error
    val both = Mutations.batchOutcomes(
      Seq((0L, "put", "bogus", 3L, "X")).toDF("op_idx", "op_type", "family", "k", "v"),
      Seq("info"), readOnly).select("outcome").as[String].head()
    assert(both == "NoSuchColumnFamilyException")
    // applying: k=2 and k=3 stay byte-identical (their ops failed),
    // k=4 deleted, k=5 inserted, k=1 deleted (delete-wins convention)
    val applied = Mutations.batchApply(base, ops, "k", Seq("info"), readOnly)
      .orderBy("k").as[(Long, String)].collect()
    assert(applied.sameElements(Array((2L, "b"), (3L, "c"), (5L, "E"))),
      applied.mkString(","))
    // two accepted puts for the SAME key: the higher op_idx wins and
    // exactly one row survives (no duplicate-row corruption)
    val dbl = Seq(
      (0L, "put", "info", 9L, "first"),
      (1L, "put", "info", 9L, "second")
    ).toDF("op_idx", "op_type", "family", "k", "v")
    val one = Mutations.batchApply(base, dbl, "k", Seq("info"), lit(false))
      .where(col("k") === 9L).as[(Long, String)].collect()
    assert(one.sameElements(Array((9L, "second"))), one.mkString(","))
  }

  test("batch deletes with NULL family are whole-row deletes; NULL-family " +
      "puts and unknown ops stay rejected") {
    import spark.implicits._
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    // the batchApply scaladoc's documented delete shape: only the key
    // (r15 review — the family check silently rejected it, so the
    // "deleted" rows survived with outcome reported per-op as failed)
    val ops = Seq(
      (0L, "put", "info", 1L, "A"),
      (1L, "delete", null.asInstanceOf[String], 2L, null.asInstanceOf[String]),
      (2L, "put", null.asInstanceOf[String], 3L, "X"),
      (3L, null.asInstanceOf[String], null.asInstanceOf[String], 3L, "Y")
    ).toDF("op_idx", "op_type", "family", "k", "v")
    val out = Mutations.batchOutcomes(ops, Seq("info"), lit(false))
      .orderBy("op_idx").select("outcome").as[String].collect()
    assert(out.sameElements(Array("OK", "OK",
      "NoSuchColumnFamilyException", "NoSuchColumnFamilyException")),
      out.mkString(","))
    // and the row delete actually APPLIES: k=2 gone, k=3 untouched
    // (its NULL-family put failed alone), k=1 updated
    val applied = Mutations.batchApply(base, ops, "k", Seq("info"), lit(false))
      .orderBy("k").as[(Long, String)].collect()
    assert(applied.sameElements(Array((1L, "A"), (3L, "c"))),
      applied.mkString(","))
    // a read-only region still rejects the whole-row delete
    val ro = Mutations.batchOutcomes(
      Seq((0L, "delete", null.asInstanceOf[String], 2L))
        .toDF("op_idx", "op_type", "family", "k"),
      Seq("info"), col("k") === 2L).select("outcome").as[String].head()
    assert(ro == "DoNotRetryIOException: region is read only")
  }

  test("NULL-key put rows refuse loudly in put and checkAndPutAbsent") {
    import spark.implicits._
    // the multiRowMutation r13 class (r15 review): a NULL-key put
    // passes every null-unsafe key join as "absent" and accumulates
    // one unreachable row per batch — refused, not inserted
    val base = Seq((1L, "a")).toDF("k", "v")
    val puts = Seq((Option.empty[Long], "X"), (Some(2L), "Y")).toDF("k", "v")
    val e1 = intercept[Exception] {
      Mutations.put(base, puts, "k").collect()
    }
    assert(e1.getMessage.contains("NULL put key") &&
      e1.getMessage.contains("put:") &&
      !e1.getMessage.contains("duplicate"),  // r15 advice: no misleading prefix
      e1.getMessage.take(200))
    val e2 = intercept[Exception] {
      Mutations.checkAndPutAbsent(base, puts, "k").collect()
    }
    assert(e2.getMessage.contains("NULL put key") &&
      !e2.getMessage.contains("duplicate"),
      e2.getMessage.take(200))
  }

  test("visibility admin replays refuse a NULL grantee identically") {
    import spark.implicits._
    // r15 review: the relational replay's (grantee, label) equi-joins
    // are null-unsafe, so a NULL-grantee clear diverged from
    // replayLocal (InvalidLabelException vs OK) and finalAuths kept
    // the cleared auth — both replays now refuse the shape loudly
    val ops = Seq(
      (1L, "add_label", null.asInstanceOf[String], "x"),
      (2L, "set_auths", null.asInstanceOf[String], "x"),
      (3L, "clear_auths", null.asInstanceOf[String], "x")
    )
    val e1 = intercept[Exception] {
      graft.kv.Visibility.adminReplay(
        ops.toDF("op_idx", "op", "grantee", "label")).collect()
    }
    assert(e1.getMessage.contains("NULL grantee"), e1.getMessage.take(200))
    val e2 = intercept[Exception] { graft.kv.Visibility.replayLocal(ops) }
    assert(e2.getMessage.contains("NULL grantee"), e2.getMessage.take(200))
  }

  test("checkAndPut applies only where the BASE row passes the check") {
    val base = Seq((1L, "old", 5.0), (2L, "old", -1.0), (3L, "old", 9.0)).toDF("k", "v", "bal")
    val puts = Seq((1L, "new", 5.0), (2L, "new", -1.0), (4L, "new", 0.0)).toDF("k", "v", "bal")
    val got = Mutations.checkAndPut(base, puts, "k", col("bal") > 0)
      .orderBy("k").as[(Long, String, Double)].collect()
    // k=1: base passes -> put applied; k=2: base fails -> untouched;
    // k=3: no put -> untouched; k=4: no base row -> CAS cannot pass, dropped.
    assert(got.sameElements(Array((1L, "new", 5.0), (2L, "old", -1.0), (3L, "old", 9.0))))
  }

  test("checkAndPutAbsent: inserts ONLY where no row exists — CAS insert-if-absent") {
    // HTable.checkAndPut with value = null succeeds iff the checked
    // cell is ABSENT — the inverse gate of the stored-state check,
    // which a WHERE over base can never pass for a missing key
    val base = Seq((1L, "old", 5.0), (3L, "old", 9.0)).toDF("k", "v", "bal")
    val puts = Seq((1L, "new", 7.0), (2L, "new", 2.0), (4L, "new", 0.0)).toDF("k", "v", "bal")
    val got = Mutations.checkAndPutAbsent(base, puts, "k")
      .orderBy("k").as[(Long, String, Double)].collect()
    // k=1: row exists -> put REJECTED, row untouched; k=2, k=4: absent
    // -> inserted; k=3: no put -> untouched.
    assert(got.sameElements(Array((1L, "old", 5.0), (2L, "new", 2.0),
      (3L, "old", 9.0), (4L, "new", 0.0))), got.mkString(","))
    // duplicate put keys replay the reference's SEQUENTIAL CAS: the
    // first op (lowest seq) inserts, the second fails its absence
    // check — never two rows for one key
    val vbase = Seq((1L, "old", 0L), (3L, "old", 0L)).toDF("k", "v", "seq")
    val dup = Seq((2L, "first", 10L), (2L, "second", 20L),
      (4L, "only", 30L)).toDF("k", "v", "seq")
    val gotDup = Mutations.checkAndPutAbsent(vbase,
        dup, "k", versionCol = Some("seq"))
      .orderBy("k").select("k", "v").as[(Long, String)].collect()
    assert(gotDup.sameElements(Array((1L, "old"), (2L, "first"),
      (3L, "old"), (4L, "only"))), gotDup.mkString(","))
    // duplicate keys WITHOUT a versionCol: the key-uniqueness
    // precondition is enforced, not assumed — silently inserting both
    // would break the one-row-per-key invariant the CAS protects
    val e = intercept[Exception] {
      Mutations.checkAndPutAbsent(vbase.select("k", "v"),
        dup.select("k", "v"), "k").collect()
    }
    assert(e.getMessage.contains("duplicate put key"), e.getMessage)
  }

  test("checkAndPut forwards versionCol: a duplicate-keyed CAS batch resolves last-write-wins") {
    // the unforwarded form died with put()'s error telling the caller
    // to pass a parameter checkAndPut didn't have (r12 kv review)
    val base = Seq((1L, "old", 0L), (2L, "old", 0L)).toDF("k", "v", "seq")
    val dup = Seq((1L, "first", 10L), (1L, "second", 20L),
      (2L, "reject", 30L)).toDF("k", "v", "seq")
    val got = Mutations.checkAndPut(base, dup, "k", col("k") === 1L,
        versionCol = Some("seq"))
      .orderBy("k").select("k", "v").as[(Long, String)].collect()
    assert(got.sameElements(Array((1L, "second"), (2L, "old"))), got.mkString(","))
  }

  test("multiRowMutation: a NULL batch id refuses loudly instead of vanishing") {
    // the null-unsafe semi-join neither applied nor reported the
    // NULL-batch mutation — vanished without a trace, the data-loss
    // shape (r12 kv review)
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val puts = Seq((1L, "a2", java.lang.Long.valueOf(7L)),
      (2L, "b2", null.asInstanceOf[java.lang.Long])).toDF("k", "v", "batch")
    val dels = Seq.empty[(Long, Long)].toDF("k", "batch")
    val e = intercept[IllegalArgumentException] {
      graft.kv.Mutations.multiRowMutation(base, puts, dels, "k", "batch",
        regionWidth = 100L)
    }
    assert(e.getMessage.contains("NULL batch id"), e.getMessage)
  }

  test("multiRowMutation: a NULL key inside a named batch refuses loudly") {
    // sibling identity-less shape (r13 kv review): _region is NULL,
    // min/max skip it — an all-NULL-key batch vanished from okBatches
    // (neither applied nor reported, even strict), a mixed batch passed
    // the straddle check blind to its NULL-key member
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val mixed = Seq((java.lang.Long.valueOf(1L), "a2", 7L),
      (null.asInstanceOf[java.lang.Long], "ghost", 7L)).toDF("k", "v", "batch")
    val dels = Seq.empty[(Long, Long)].toDF("k", "batch")
    val e = intercept[IllegalArgumentException] {
      graft.kv.Mutations.multiRowMutation(base, mixed, dels, "k", "batch",
        regionWidth = 100L)
    }
    assert(e.getMessage.contains("NULL key"), e.getMessage)
    // all-NULL-key batch — the vanish-entirely shape — refuses too,
    // in strict mode as well (it used to pass the straddle probe:
    // NULL _rlo/_rhi never compares unequal)
    val ghost = Seq((null.asInstanceOf[java.lang.Long], "ghost", 9L))
      .toDF("k", "v", "batch")
    val e2 = intercept[IllegalArgumentException] {
      graft.kv.Mutations.multiRowMutation(base, ghost, dels, "k", "batch",
        regionWidth = 100L, strict = true)
    }
    assert(e2.getMessage.contains("NULL key"), e2.getMessage)
  }

  test("checkAndPut with every CompareOp guard — the 6-op CAS surface") {
    import graft.filters.{CompareOp, Comparators}
    // counters 1..6 hold balance = 10*k; each op guards against the
    // stored 30, and the put marks which keys CAS'd through
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L))
      .toDF("k", "bal")
    def casKeys(op: CompareOp.Value): Set[Long] = {
      val puts = base.select(col("k"), lit(-1L).as("bal"))
      Mutations.checkAndPut(base, puts, "k",
          Comparators.long(30L)(col("bal"), op))
        .where(col("bal") === -1L).select("k")
        .as[Long].collect().toSet
    }
    assert(casKeys(CompareOp.LESS) == Set(1L, 2L))
    assert(casKeys(CompareOp.LESS_OR_EQUAL) == Set(1L, 2L, 3L))
    assert(casKeys(CompareOp.EQUAL) == Set(3L))
    assert(casKeys(CompareOp.NOT_EQUAL) == Set(1L, 2L, 4L, 5L))
    assert(casKeys(CompareOp.GREATER_OR_EQUAL) == Set(3L, 4L, 5L))
    // GREATER is the optimistic-concurrency guard of the registered
    // check_and_put_compare query
    assert(casKeys(CompareOp.GREATER) == Set(4L, 5L))
  }

  test("checkAndDelete with every CompareOp guard — the delete half of the CAS surface") {
    import graft.filters.{CompareOp, Comparators}
    // same stored balances as the put test; every key requests its own
    // delete, and the guard against the stored 30 decides which die
    val base = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L))
      .toDF("k", "bal")
    def deleted(op: CompareOp.Value): Set[Long] = {
      val dels = base.select("k")
      val survivors = Mutations.checkAndDelete(base, dels, "k",
          Comparators.long(30L)(col("bal"), op))
        .select("k").as[Long].collect().toSet
      Set(1L, 2L, 3L, 4L, 5L).diff(survivors)
    }
    assert(deleted(CompareOp.LESS) == Set(1L, 2L))
    // LESS_OR_EQUAL is the registered check_and_delete_compare guard
    assert(deleted(CompareOp.LESS_OR_EQUAL) == Set(1L, 2L, 3L))
    assert(deleted(CompareOp.EQUAL) == Set(3L))
    assert(deleted(CompareOp.NOT_EQUAL) == Set(1L, 2L, 4L, 5L))
    assert(deleted(CompareOp.GREATER_OR_EQUAL) == Set(3L, 4L, 5L))
    assert(deleted(CompareOp.GREATER) == Set(4L, 5L))
  }

  test("checkAndMutateRow: a failed guard drops the WHOLE batch — put AND delete") {
    val base = Seq((1L, "old", 5.0), (2L, "old", -1.0), (3L, "old", 9.0)).toDF("k", "v", "bal")
    val puts = Seq((1L, "new", 5.0), (2L, "new", -1.0)).toDF("k", "v", "bal")
    val dels = Seq(1L, 2L).toDF("k")
    val got = Mutations.checkAndMutateRow(base, puts, dels, "k", col("bal") > 0)
      .orderBy("k").as[(Long, String, Double)].collect()
    // k=1: guard passes -> batch applies, delete wins over its own put;
    // k=2: guard FAILS -> neither the put nor the delete touches the row;
    // k=3: no batch -> untouched.
    assert(got.sameElements(Array((2L, "old", -1.0), (3L, "old", 9.0))))
  }

  test("multiRowMutation: a batch straddling the zero boundary is rejected (floor regions)") {
    import spark.implicits._
    // keys -10 and +10 at width 256: FLOOR division puts them in
    // regions -1 and 0 — truncating `div` would collapse both to 0 and
    // accept the straddling batch as atomic
    val base = Seq((-10L, "x"), (10L, "y")).toDF("k", "v")
    val puts = Seq((-10L, "x2", 1L), (10L, "y2", 1L)).toDF("k", "v", "batch")
    val dels = puts.where(lit(false)).select("k", "batch")
    val e = intercept[IllegalArgumentException] {
      graft.kv.Mutations.multiRowMutation(base, puts, dels, "k", "batch",
        regionWidth = 256L, strict = true)
    }
    assert(e.getMessage.contains("straddles"), e.getMessage)
  }

  test("multiRowMutation: straddling batch leaves every row untouched, aligned batch mutates") {
    // regions of width 10: batch 100 sits inside region 0; batch 200
    // spans keys 8 and 12 -> regions 0 and 1 -> rejected whole
    val base = Seq((1L, "a"), (2L, "b"), (8L, "c"), (12L, "d")).toDF("k", "v")
    val puts = Seq((1L, "A", 100L), (8L, "C", 200L)).toDF("k", "v", "batch")
    val dels = Seq((2L, 100L), (12L, 200L)).toDF("k", "batch")
    val got = Mutations.multiRowMutation(base, puts, dels, "k", "batch",
        regionWidth = 10)
      .orderBy("k").as[(Long, String)].collect()
    // batch 100 applies (put k=1, delete k=2); batch 200 rejected
    // (k=8 keeps "c", k=12 survives its delete)
    assert(got.sameElements(Array((1L, "A"), (8L, "c"), (12L, "d"))))
    // strict mode surfaces the straddler loudly instead of dropping it
    val e = intercept[IllegalArgumentException] {
      Mutations.multiRowMutation(base, puts, dels, "k", "batch",
        regionWidth = 10, strict = true)
    }
    assert(e.getMessage.contains("straddles"))
  }

  test("timelineRead: down-primary keys serve the lagged replica version, flagged stale") {
    import java.sql.Timestamp
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 00:00:00")
    // max ts = Jan 20, lag 5 days -> replica horizon Jan 15
    val v = Seq(
      (3L, "ev", "q", t(20), 1.0, 1L),  // healthy key: latest wins
      (3L, "ev", "q", t(10), 2.0, 2L),
      (10L, "ev", "q", t(18), 3.0, 3L), // down primary: post-horizon version invisible
      (10L, "ev", "q", t(12), 4.0, 4L), //   -> this stale version serves
      (15L, "ev", "q", t(19), 5.0, 5L)  // down primary, nothing at the replica yet
    ).toDF("rowkey", "family", "qualifier", "ts", "value", "event_id")
    val got = graft.kv.Scans.timelineRead(v, col("rowkey") % 5 === 0, "5 DAYS")
      .select("rowkey", "event_id", "stale").orderBy("rowkey")
      .as[(Long, Long, Boolean)].collect()
    assert(got.sameElements(Array((3L, 1L, false), (10L, 4L, true))),
      got.mkString(","))
    // with no primary down, the read is the plain latest-version scan
    val healthy = graft.kv.Scans.timelineRead(v, lit(false), "5 DAYS")
      .select("rowkey", "event_id", "stale").orderBy("rowkey")
      .as[(Long, Long, Boolean)].collect()
    assert(healthy.sameElements(Array((3L, 1L, false), (10L, 3L, false), (15L, 5L, false))))
  }

  test("constraintPut: violating puts dropped whole, first-fail attribution, bad names rejected") {
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "v", "p")
    val puts = Seq((1L, "A", 15.0), (2L, "B", -5.0), (3L, null.asInstanceOf[String], -1.0))
      .toDF("k", "v", "p")
    val cs = Seq("v_not_null" -> col("v").isNotNull,
      "p_positive" -> (col("p") > 0))
    val got = Mutations.constraintPut(base, puts, "k", cs)
      .orderBy("k").as[(Long, String, Double)].collect()
    // k=1 accepted; k=2 fails p_positive; k=3 fails v_not_null (first
    // in chain order even though p also violates) — both stay base
    assert(got.sameElements(Array((1L, "A", 15.0), (2L, "b", 20.0), (3L, "c", 30.0))))
    val rep = Mutations.constraintReport(puts, cs).orderBy("constraint")
      .as[(String, Long)].collect()
    assert(rep.sameElements(Array(("p_positive", 1L), ("v_not_null", 1L))))
    val e = intercept[IllegalArgumentException] {
      Mutations.constraintPut(base, puts, "k", Seq("bad'name" -> col("v").isNotNull))
    }
    assert(e.getMessage.contains("[A-Za-z0-9_]+"))
  }

  test("logCleaner: a segment dies only when BOTH delegates agree") {
    import java.sql.Timestamp
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    // corpus max = Jan 20, ttl 5 days -> cutoff Jan 15; min peer
    // watermark = Jan 10
    val wal = Seq(t(2), t(2), t(8), t(12), t(20))
      .toDF("ts")
    val peers = Seq(("p1", t(10)), ("p2", t(25))).toDF("peer_id", "replicated_upto")
    val got = graft.analytics.Tools.logCleaner(wal, "ts", peers, "5 DAYS")
      .orderBy("segment_day")
      .select("n_edits", "ttl_ok", "shipped_ok", "deletable")
      .as[(Long, Boolean, Boolean, Boolean)].collect()
    // Jan 2 (2 edits): old AND shipped -> deletable
    // Jan 8: old but PAST p1's watermark? no — Jan 8 < Jan 10 -> shipped, deletable
    // Jan 12: within ttl? newest Jan 12 < Jan 15 cutoff -> ttl_ok, but
    //         not shipped (> Jan 10) -> survives (replication delegate)
    // Jan 20: young AND unshipped -> survives (both delegates)
    assert(got.sameElements(Array(
      (2L, true, true, true),
      (1L, true, true, true),
      (1L, true, false, false),
      (1L, false, false, false))), got.mkString(","))
  }

  test("deleteQualifier nulls the cell, keeps the row") {
    val base = Seq((1L, "x", "y"), (2L, "p", "q")).toDF("k", "a", "b")
    val got = Mutations.deleteQualifier(base, col("k") === 1, "b")
      .orderBy("k").as[(Long, String, Option[String])].collect()
    assert(got.sameElements(Array((1L, "x", None), (2L, "p", Some("q")))))
  }

  test("checkAndDelete deletes only keyed rows whose current state passes the check") {
    val base = Seq((1L, 5.0), (2L, -1.0), (3L, -2.0)).toDF("k", "bal")
    val dels = Seq(Tuple1(1L), Tuple1(2L)).toDF("k")
    val got = Mutations.checkAndDelete(base, dels, "k", col("bal") < 0)
      .orderBy("k").as[(Long, Double)].collect()
    // k=1 keyed but check fails -> survives; k=2 keyed+passes -> deleted;
    // k=3 passes but not keyed -> survives
    assert(got.sameElements(Array((1L, 5.0), (3L, -2.0))))
  }

  test("mutateRow applies deletes and puts atomically, deletes win") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val puts = Seq((2L, "b2"), (3L, "c")).toDF("k", "v")
    val dels = Seq(Tuple1(2L)).toDF("k")
    val got = Mutations.mutateRow(base, puts, dels, "k")
      .orderBy("k").as[(Long, String)].collect()
    assert(got.sameElements(Array((1L, "a"), (3L, "c"))))
  }

  test("deleteRows removes exactly the keyed rows") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val dels = Seq(Tuple1(2L)).toDF("k")
    val got = Mutations.deleteRows(base, dels, "k").orderBy("k").as[(Long, String)].collect()
    assert(got.sameElements(Array((1L, "a"), (3L, "c"))))
  }

  test("walReplay: tombstones mask ts <= delete, newer puts survive, ts ties break on id") {
    def ed(rk: Long, q: String, t: String, v: Double, id: Long, op: String) =
      (rk, q, t, v, id, op)
    val edits = Seq(
      // r1/a: put@02, delete@03 → masked (put ts < delete ts)
      ed(1, "a", "2024-01-02 00:00:00", 1.0, 10, "put"),
      ed(1, "a", "2024-01-03 00:00:00", 0.0, 11, "delete"),
      // r1/b: delete@02, put@03 → put survives (strictly newer)
      ed(1, "b", "2024-01-02 00:00:00", 0.0, 12, "delete"),
      ed(1, "b", "2024-01-03 00:00:00", 2.0, 13, "put"),
      // r2/a: put at EXACTLY the delete ts → masked (HBase masks ts <= delete)
      ed(2, "a", "2024-01-04 00:00:00", 3.0, 14, "put"),
      ed(2, "a", "2024-01-04 00:00:00", 0.0, 15, "delete"),
      // r2/b: two puts at the same ts → higher event_id wins
      ed(2, "b", "2024-01-05 00:00:00", 4.0, 16, "put"),
      ed(2, "b", "2024-01-05 00:00:00", 5.0, 17, "put"),
      // r3/a: outside the replay window → ignored entirely
      ed(3, "a", "2024-02-01 00:00:00", 9.0, 18, "put")
    ).toDF("rowkey", "qualifier", "ts", "value", "event_id", "op")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = graft.analytics.Tools
      .walReplay(edits, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
      .select("rowkey", "qualifier", "value")
      .orderBy("rowkey", "qualifier").as[(Long, String, Double)].collect()
    assert(got.sameElements(Array((1L, "b", 2.0), (2L, "b", 5.0))), got.mkString(","))
  }

  test("per-family TTL: each family on its own clock, unlisted families keep forever") {
    import spark.implicits._
    // "now" = global max ts = 2024-01-31 (event 9)
    val cells = Seq(
      (1L, "web", "q", "2024-01-01 00:00:00", 1.0, 1L), // 30d old → expired at 10d
      (1L, "web", "q", "2024-01-28 00:00:00", 2.0, 2L), // 3d old → kept
      (1L, "act", "q", "2024-01-12 00:00:00", 3.0, 3L), // 19d old → kept at 20d
      (1L, "act", "q", "2024-01-05 00:00:00", 4.0, 4L), // 26d old → expired
      (1L, "etc", "q", "2020-01-01 00:00:00", 5.0, 5L), // no TTL → kept forever
      (9L, "web", "q", "2024-01-31 00:00:00", 0.0, 9L)
    ).toDF("rowkey", "family", "qualifier", "ts_s", "value", "event_id")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val kept = graft.kv.Mutations.ttlExpirePerFamily(cells,
        Map("web" -> "10 DAYS", "act" -> "20 DAYS"))
      .select("event_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 5L, 9L), s"kept $kept")
  }

  test("per-cell TTL shortens but never extends family retention (HStore.java:1904)") {
    import spark.implicits._
    // "now" = global max ts = 2024-01-31; family clock = 10 days
    val cells = Seq(
      // NO cell TTL → family clock alone
      (1L, "q", "2024-01-25 00:00:00", None, 1L),              // 6d old → kept
      (2L, "q", "2024-01-10 00:00:00", None, 2L),              // 21d old → family-expired
      // cell TTL SHORTER than family: expires cells the family would keep
      (3L, "q", "2024-01-25 00:00:00", Some(2L * 86400000), 3L),  // 6d old, 2d ttl → cell-expired
      (4L, "q", "2024-01-30 00:00:00", Some(2L * 86400000), 4L),  // 1d old, 2d ttl → kept
      // cell TTL LONGER than family: CANNOT extend — family clock caps
      (5L, "q", "2024-01-10 00:00:00", Some(30L * 86400000), 5L), // 21d old, 30d ttl → family-expired
      (6L, "q", "2024-01-25 00:00:00", Some(30L * 86400000), 6L), // 6d old, 30d ttl → kept
      // boundary: expiry is STRICT ts + ttl < now (HStore.java:1900),
      // so a cell dying exactly at "now" SURVIVES the cell clock
      (7L, "q", "2024-01-29 00:00:00", Some(2L * 86400000), 7L),  // ts+ttl == now → kept
      (9L, "q", "2024-01-31 00:00:00", None, 9L)
    ).toDF("rowkey", "qualifier", "ts_s", "cell_ttl_ms", "event_id")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val kept = graft.kv.Mutations.ttlExpireCell(cells, "10 DAYS")
      .select("event_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 6L, 7L, 9L), s"kept $kept")
  }

  test("bulkDeleteRows drops whole rows on any matching cell; bulkDeleteCells keeps rows") {
    import spark.implicits._
    val cells = Seq(
      ("1", "f", "a", "hit"), ("1", "f", "b", "x"),
      ("2", "f", "a", "y"), ("2", "f", "b", "z")
    ).toDF("rowkey", "family", "qualifier", "value")
    val rowDel = Mutations.bulkDeleteRows(cells, col("value") === "hit")
      .select("rowkey").as[String].collect().toSet
    assert(rowDel == Set("2"), s"rows left $rowDel")
    val cellDel = Mutations.bulkDeleteCells(cells, col("value") === "hit")
    assert(cellDel.count() == 3 &&
      cellDel.where(col("rowkey") === "1").count() == 1)
  }

  test("namespaceQuotaAudit: region ceil is exact, at-quota is not over-quota") {
    import spark.implicits._
    import graft.analytics.Tools
    // 1000 rows = exactly 1 region; 1001 = 2 (the ceil edge)
    val t1 = spark.range(1000).toDF("k")   // ns a
    val t2 = spark.range(1001).toDF("k")   // ns a
    val t3 = spark.range(1).toDF("k")      // ns b
    val quotas = Seq(("a", 2L, 3L), ("b", 5L, 1L)).toDF(
      "namespace", "max_tables", "max_regions")
    val got = Tools.namespaceQuotaAudit(
        Seq(("a", "t1", t1), ("a", "t2", t2), ("b", "t3", t3)), quotas, 1000L)
      .select("namespace", "n_tables", "n_regions", "over_quota",
        "table_headroom", "region_headroom")
      .as[(String, Long, Long, Boolean, Long, Long)].collect().toSet
    // a: 2 tables (AT max_tables: not over), 1+2=3 regions (AT max: not over)
    // b: 1 table, 1 region, both at/under
    assert(got == Set(("a", 2L, 3L, false, 0L, 0L), ("b", 1L, 1L, false, 4L, 0L)),
      s"got $got")
    // one more region over the line flips the flag; namespace b holds
    // no tables but HAS a quota row → zero-usage audit row, not absent
    val over = Tools.namespaceQuotaAudit(
        Seq(("a", "t1", t1), ("a", "t2", t2), ("a", "t4", spark.range(2001).toDF("k"))),
        quotas, 1000L)
      .select("namespace", "n_tables", "over_quota")
      .as[(String, Long, Boolean)].collect().toSet
    assert(over == Set(("a", 3L, true), ("b", 0L, false)), s"got $over")
    // an EMPTY table still counts its one region (a fresh table holds
    // a region before any row lands, and NamespaceAuditor counts it)
    val empty = Tools.namespaceQuotaAudit(
        Seq(("b", "t0", t1.where(lit(false)))), quotas, 1000L)
      .select("namespace", "n_tables", "n_regions", "over_quota")
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(empty.contains(("b", 1L, 1L, false)), s"got $empty")
  }

  test("backup_restore: full + incremental restore equals the direct state at T2") {
    import org.apache.spark.sql.expressions.Window
    val got = SparkEntry.queries("backup_restore")(spark, sfDir)
    val cells = graft.core.Tables.eventCells(spark, sfDir)
      .where(col("ts") < lit("2024-01-25 00:00:00").cast("timestamp"))
    val w = Window.partitionBy("rowkey", "qualifier")
      .orderBy(col("ts").desc, col("event_id").desc)
    val want = cells.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("rowkey", "qualifier", "ts", "event_id", "value")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "restored state diverged from the direct computation")
  }

  test("logCleaner: no peers configured = replication delegate passes through (TTL alone decides)") {
    import java.sql.Timestamp
    import spark.implicits._
    def t(d: Int) = Timestamp.valueOf(f"2024-01-$d%02d 12:00:00")
    val wal = Seq(t(2), t(12), t(20)).toDF("ts")
    val noPeers = Seq.empty[(String, Timestamp)].toDF("peer_id", "replicated_upto")
    val got = graft.analytics.Tools.logCleaner(wal, "ts", noPeers, "5 DAYS")
      .orderBy("segment_day")
      .select("ttl_ok", "shipped_ok", "deletable")
      .as[(Boolean, Boolean, Boolean)].collect()
    // regression: min() over an empty peer table is NULL — deletable
    // must not NULL-poison into never-delete; every segment ships ok
    assert(got.forall(_._2), got.mkString(","))
    assert(got.map(_._3).sameElements(got.map(_._1)), got.mkString(","))
    assert(got.count(_._3) == 2) // Jan 2 + Jan 12 are past the Jan 15 cutoff
  }

  test("bulkLoadAssign: an open-START first region catches its files") {
    import spark.implicits._
    import graft.analytics.Tools
    // META convention: the first region's start_key is NULL (open) —
    // regression: the join predicate must not NULL out for it
    val regions = Seq(
      (0L, None: Option[Long], Some(20L)), (1L, Some(20L), None: Option[Long]))
      .toDF("region", "start_key", "end_key")
    val files = Seq(("a", 2L, 9L), ("b", 15L, 25L)).toDF("hfile", "first_key", "last_key")
    val got = Tools.bulkLoadAssign(files, regions)
      .select("hfile", "region").as[(String, Long)].collect().toSet
    assert(got == Set(("a", 0L), ("b", 0L), ("b", 1L)), got.toString)
  }

  test("bulkLoadAssign: in-range file untouched, straddler clipped per region, boundary last key splits") {
    import spark.implicits._
    import graft.analytics.Tools
    val regions = Seq((0L, 0L, Some(20L)), (1L, 20L, Some(40L)), (2L, 40L, None))
      .toDF("region", "start_key", "end_key")
    val files = Seq(
      ("a", 2L, 9L),    // inside region 0
      ("b", 15L, 45L),  // straddles all three
      ("c", 10L, 20L),  // last key == region 0 end: reference splits (lastKeyInRange false)
      ("d", 50L, 60L)   // open-ended last region
    ).toDF("hfile", "first_key", "last_key")
    val got = Tools.bulkLoadAssign(files, regions)
      .select("hfile", "region", "frag_first", "frag_last", "n_fragments", "needs_split")
      .as[(String, Long, Long, Long, Long, Boolean)].collect().toSet
    // an inverted HFile range must raise, as the reference does (:758)
    intercept[Exception] {
      Tools.bulkLoadAssign(Seq(("bad", 9L, 2L)).toDF("hfile", "first_key", "last_key"),
        regions).collect()
    }
    // ...including when the corrupt file sits BELOW every region's
    // closed start, so NO join condition would ever evaluate it — the
    // guard must be a projection on the join INPUT, not a condition
    // side effect (r10 review scenario)
    val closed = Seq((0L, 10L, Some(20L))).toDF("region", "start_key", "end_key")
    intercept[Exception] {
      Tools.bulkLoadAssign(Seq(("bad", 9L, 2L)).toDF("hfile", "first_key", "last_key"),
        closed).collect()
    }
    assert(got == Set(
      ("a", 0L, 2L, 9L, 1L, false),
      ("b", 0L, 15L, 19L, 3L, true), ("b", 1L, 20L, 39L, 3L, true),
      ("b", 2L, 40L, 45L, 3L, true),
      ("c", 0L, 10L, 19L, 2L, true), ("c", 1L, 20L, 20L, 2L, true),
      ("d", 2L, 50L, 60L, 1L, false)), s"got $got")
  }

  test("canaryProbe: first cell per (region, family), absent family is a failure row") {
    import spark.implicits._
    import graft.analytics.Tools
    // keys 0..7 over 2 regions (bucket = key*2/8): region 0 = keys 0..3,
    // region 1 = keys 4..7; family g only exists in region 0
    val cells = Seq(
      (0L, "f", "qb", "x"), (0L, "f", "qa", "y"), (1L, "g", "qz", "z"),
      (5L, "f", "qc", "w"), (7L, "f", "qa", "v")
    ).toDF("rowkey", "family", "qualifier", "value")
    val got = Tools.canaryProbe(cells, 2, Seq("f", "g"))
      .select("region", "family", "probe_key", "first_qualifier", "ok")
      .as[(Long, String, Option[Long], Option[String], Boolean)].collect().toSet
    assert(got == Set(
      (0L, "f", Some(0L), Some("qa"), true),   // first CELL: min (rowkey, qualifier)
      (0L, "g", Some(1L), Some("qz"), true),
      (1L, "f", Some(5L), Some("qc"), true),
      (1L, "g", None, None, false)), s"got $got")
  }

  test("applyMerges: planned pairs collapse into the lower id, others ride through") {
    import spark.implicits._
    import graft.analytics.Tools
    val buckets = Seq(
      (0L, 10L, 0L, 9L), (1L, 12L, 10L, 19L),   // small pair -> merge
      (2L, 100L, 20L, 119L), (3L, 90L, 120L, 209L) // big pair -> no merge
    ).toDF("bucket", "n_rows", "min_key", "max_key")
    val got = Tools.applyMerges(buckets, Tools.normalizerPlan(buckets))
      .select("new_region", "n_rows", "min_key", "max_key", "n_merged")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 22L, 0L, 19L, 2L), (2L, 100L, 20L, 119L, 1L),
      (3L, 90L, 120L, 209L, 1L)), s"got $got")
  }

  test("applySplits: oversized bucket divides at its median, others ride through") {
    import spark.implicits._
    import graft.analytics.Tools
    // bucket 0 holds 20 of 29 rows (> 2x the 7.25 avg -> SPLIT);
    // buckets 1..3 hold 3 each and must pass through as daughter 2b
    val tagged = ((0L until 20L).map(k => (0L, k)) ++
      Seq((1L, 100L), (1L, 101L), (1L, 102L),
          (2L, 200L), (2L, 201L), (2L, 202L),
          (3L, 300L), (3L, 301L), (3L, 302L))).toDF("bucket", "k")
    val buckets = tagged.groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"), min("k").as("min_key"), max("k").as("max_key"))
    for (approx <- Seq(false, true)) {
      val got = Tools.applySplits(tagged, Tools.normalizerPlan(buckets), "k",
          approx = approx)
        .select("daughter", "n_rows", "min_key", "max_key")
        .as[(Long, Long, Long, Long)].collect().toSet
      // exact median of 0..19 is 9.5 -> daughters 0 (keys 0..9) and 1
      // (keys 10..19); the sketch is exact at this cardinality too
      assert(got == Set(
        (0L, 10L, 0L, 9L), (1L, 10L, 10L, 19L),
        (2L, 3L, 100L, 102L), (4L, 3L, 200L, 202L), (6L, 3L, 300L, 302L)),
        s"approx=$approx got $got")
    }
  }

  test("requestMetrics: conditional read/write split, idle region zero row, hot flag") {
    import spark.implicits._
    import graft.analytics.Tools
    // 4 regions over keys 0..7; traffic only in regions 0 (heavy) and 3
    val log = Seq((0L, true), (0L, false), (1L, false), (1L, false), (1L, true),
      (0L, true), (7L, false)).toDF("k", "w")
    val got = Tools.requestMetrics(log, "k", col("w"), 4)
      .select("region", "read_requests", "write_requests", "total_requests", "hot")
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    // region 0 holds keys 0..1: 6 requests (3 writes) > 2 * avg(1.75)
    assert(got == Set(
      (0L, 3L, 3L, 6L, true),
      (1L, 0L, 0L, 0L, false),
      (2L, 0L, 0L, 0L, false),
      (3L, 1L, 0L, 1L, false)), s"got $got")
  }

  test("replicationLag: caught-up peer reports zero pending, zero lag — not absence") {
    import spark.implicits._
    import graft.analytics.Tools
    val wal = Seq("2024-01-01 00:00:00", "2024-01-02 00:00:00", "2024-01-03 00:00:00")
      .toDF("_t").select(to_timestamp(col("_t")).as("ts"))
    val peers = Seq(("lagging", "2024-01-01 12:00:00"), ("caught_up", "2024-01-03 00:00:00"))
      .toDF("peer_id", "_wm")
      .select(col("peer_id"), to_timestamp(col("_wm")).as("replicated_upto"))
    val got = Tools.replicationLag(wal, "ts", peers)
      .select("peer_id", "n_pending", "lag_sec")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("lagging", 2L, 129600L),   // 1.5 days behind the newest entry
      ("caught_up", 0L, 0L)), s"got $got")
  }

  test("skewDiagnose: hot key named with exact ppm share and leveling salt factor") {
    import spark.implicits._
    import graft.analytics.Tools
    // key 7 holds 8 of 12 rows across 5 distinct keys
    val df = (Seq.fill(8)(7L) ++ Seq(1L, 2L, 3L, 4L)).toDF("k")
    val got = Tools.skewDiagnose(df, "k", topN = 3)
      .as[(Long, Long, Long, Long)].collect().toList
    // share = floor(8e6/12) = 666666 ppm; salt = ceil(8*5/12) = 4;
    // unskewed keys level at salt 1 and tie-break by key ascending
    assert(got == List((7L, 8L, 666666L, 4L),
      (1L, 1L, 83333L, 1L), (2L, 1L, 83333L, 1L)), s"got $got")
  }

  test("funnel: strictly-after ordering, pre-step events ignored, NULL tracks drop-off") {
    import spark.implicits._
    import graft.analytics.Tools
    def t(m: Int) = s"2024-01-01 00:0$m:00"
    val ev = Seq(
      (1L, t(1), "view"), (1L, t(2), "click"), (1L, t(3), "purchase"),
      (2L, t(1), "click"), (2L, t(2), "view"), (2L, t(4), "click"), // pre-view click ignored
      (3L, t(1), "view"),                                           // drops off
      (4L, t(2), "click")                                           // never views: not in funnel
    ).toDF("user_id", "_t", "event_type")
      .select(col("user_id"), to_timestamp(col("_t")).as("ts"), col("event_type"))
    val got = Tools.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .select(col("user_id"), col("t2").isNotNull, col("t3").isNotNull, col("depth"))
      .as[(Long, Boolean, Boolean, Long)].collect().toSet
    assert(got == Set((1L, true, true, 3L), (2L, true, false, 2L),
      (3L, false, false, 1L)), s"got $got")
    // user 2's counted click must be the POST-view one (00:04)
    val t2 = Tools.funnel(ev, "user_id", "ts", "event_type", Seq("view", "click"))
      .where(col("user_id") === 2).select("t2").as[java.sql.Timestamp].head()
    assert(t2.toString.startsWith("2024-01-01 00:04"), s"got $t2")
  }

  test("saltedJoin: equals the unsalted join row-for-row, spreads the hot key") {
    import spark.implicits._
    import graft.core.Salt
    val facts = (0L until 400L)
      .map(i => (i, if (i % 5 < 3) 0L else i % 7))
      .toDF("row_id", "k")
    val dims = Seq((0L, "hot"), (1L, "a"), (2L, "b"), (3L, "c"),
      (4L, "d"), (5L, "e"), (6L, "f")).toDF("k", "tag")
    val salted = Salt.saltedJoin(facts, dims, "k", 8, col("row_id"))
    val plain = facts.join(dims, "k")
    assert(salted.exceptAll(plain).count() == 0 &&
      plain.exceptAll(salted).count() == 0, "salted join changed the result")
    // the join really runs on (k, _salt): the hot key's rows split
    // across all 8 salt values before the drop
    val spread = facts.withColumn("_salt", pmod(col("row_id"), lit(8)))
      .where(col("k") === 0).select("_salt").distinct().count()
    assert(spread == 8L, s"hot key only spread over $spread salts")
    val p = salted.queryExecution.executedPlan.toString()
    assert(p.contains("_salt"), s"salt column missing from the plan:\n$p")
  }

  test("saltedJoin keeps NULL-saltOf rows; asof never matches NULL keys; toCells rejects splice names") {
    import spark.implicits._
    import graft.core.{AsofJoin, Salt, Tables}
    // a NULL saltOf value must not drop the fact row (r12 core review:
    // pmod(null) made the (key, _salt) join silently lose it)
    val facts = Seq((Some(1L), 0L), (None, 0L), (Some(2L), 1L))
      .toDF("row_id", "k")
    val dims = Seq((0L, "z"), (1L, "a")).toDF("k", "tag")
    val salted = Salt.saltedJoin(facts, dims, "k", 4, col("row_id"))
    assert(salted.count() == 3, "NULL-saltOf row dropped by the salted join")
    // NULL join keys: the equi-join semantics asof generalizes never
    // match NULL = NULL — a NULL-key probe reports no quote, and a
    // NULL-key quote serves nobody
    val probes = Seq((Some(1L), 10L, "p1"), (None, 10L, "p2"))
      .toDF("k", "t", "pid")
    val quotes = Seq((Some(1L), 5L, "q1"), (None, 5L, "qnull"))
      .toDF("k", "t", "qid")
    val got = AsofJoin.asof(probes, quotes, "k", "t", Seq("qid"))
      .select(col("pid"), col("_last.qid").as("m"))
      .as[(String, Option[String])].collect().toMap
    assert(got("p1").contains("q1") && got("p2").isEmpty, got.toString)
    // an UNDATED quote (NULL ts) is equally unmatchable — "q.ts <=
    // p.ts" is never true on NULL — but the window's null-first
    // ordering made it _last for any probe with no real quote
    // at-or-before it (r12 core review): probe at t=1 precedes q1, so
    // it must report NO match, not the undated quote
    val undated = Seq((Some(1L), Option.empty[Long], "qnull2"),
      (Some(1L), Some(5L), "q1")).toDF("k", "t", "qid")
    val early = Seq((Some(1L), Some(1L), "p_early"),
      (Some(1L), Some(9L), "p_late")).toDF("k", "t", "pid")
    val got2 = AsofJoin.asof(early, undated, "k", "t", Seq("qid"))
      .select(col("pid"), col("_last.qid").as("m"))
      .as[(String, Option[String])].collect().toMap
    assert(got2("p_early").isEmpty, s"undated quote matched: $got2")
    assert(got2("p_late").contains("q1"), got2.toString)
    // toCells family/qualifier names are SQL splices — the identifier
    // rule must reject a quote before it re-tokenizes the stack() SQL
    val df = Seq((1L, "x")).toDF("k", "v")
    intercept[IllegalArgumentException](
      Tables.toCells(df, "k", Seq("f'am" -> Seq("v"))))
    intercept[IllegalArgumentException](
      Tables.toCells(df, "k", Seq("fam" -> Seq("v; --"))))
  }

  test("mortonKey: int-typed bucket inputs interleave exactly like long (no sign-bit wrap)") {
    import spark.implicits._
    // the AND with lit(1L) widens each extracted bit to bigint BEFORE
    // the shift, so bits=16 on IntegerType inputs must equal the long
    // form bit-for-bit (a raw int shift would wrap at shift 31)
    val df = Seq((65535, 65535), (40000, 1), (1, 40000)).toDF("ai", "bi")
    val got = df.select(
        graft.core.Layout.mortonKey(col("ai"), col("bi"), 16).as("mi"),
        graft.core.Layout.mortonKey(col("ai").cast("bigint"),
          col("bi").cast("bigint"), 16).as("ml"))
      .as[(Long, Long)].collect()
    got.foreach { case (mi, ml) =>
      assert(mi == ml && mi >= 0, s"int form $mi != long form $ml") }
  }

  test("columnProfile: exact nulls/ndv/extrema, all-null column zero-length, approx path intact") {
    import spark.implicits._
    import graft.analytics.Tools
    val df = Seq((1L, Some("b"), None: Option[String]),
      (2L, Some("a"), None), (3L, None, None), (3L, Some("a"), None))
      .toDF("k", "s", "z")
    val got = Tools.columnProfile(df, Seq("k", "s", "z"))
      .as[(String, Long, Long, Long, Option[String], Option[String], Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(got("k") == ("k", 4L, 0L, 3L, Some("1"), Some("3"), 4L), got("k"))
    assert(got("s") == ("s", 4L, 1L, 2L, Some("a"), Some("b"), 3L), got("s"))
    assert(got("z") == ("z", 4L, 4L, 0L, None, None, 0L), got("z"))
    // the 100 TB ndv path keeps every exact stat and the schema
    val ap = Tools.columnProfile(df, Seq("k", "s", "z"), approxNdv = true)
      .as[(String, Long, Long, Long, Option[String], Option[String], Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(ap("z")._4 == 0L && ap("k")._5 == Some("1") && ap("s")._3 == 1L, s"$ap")
  }

  test("rangeJoinBinned: inclusive bounds, bin-spanning windows, one match per pair") {
    import spark.implicits._
    import graft.core.RangeJoin
    def t(s: String) = s"2024-01-01 $s"
    val facts = Seq((1L, t("00:00:00")), (2L, t("01:00:00")), (3L, t("02:30:00")),
        (4L, t("03:00:00")), (5L, t("03:00:01")))
      .toDF("fact_id", "_t").select(col("fact_id"), to_timestamp(col("_t")).as("ts"))
    // w10 spans 4 hour-bins; both ends inclusive (facts 1 and 4 in, 5 out)
    val windows = Seq((10L, t("00:00:00"), t("03:00:00")),
        (20L, t("02:00:00"), t("02:59:59")))
      .toDF("window_id", "_lo", "_hi")
      .select(col("window_id"), to_timestamp(col("_lo")).as("lo"),
        to_timestamp(col("_hi")).as("hi"))
    val got = RangeJoin.rangeJoinBinned(facts, "ts", windows, "lo", "hi", 3600)
      .select("window_id", "fact_id").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L), (20L, 3L)),
      s"got $got")
    // a window wider than the bin budget must fail loudly, not explode
    val wide = Seq((30L, t("00:00:00"), "2024-03-01 00:00:00"))
      .toDF("window_id", "_lo", "_hi")
      .select(col("window_id"), to_timestamp(col("_lo")).as("lo"),
        to_timestamp(col("_hi")).as("hi"))
    val e = intercept[Exception] {
      RangeJoin.rangeJoinBinned(facts, "ts", wide, "lo", "hi", 3600,
        maxBinsPerWindow = 100).collect()
    }
    assert(e.getMessage.contains("rangeJoinBinned"), e.getMessage)
  }

  test("regionLocate: offline parents skipped, holes surface as unlocatable") {
    import spark.implicits._
    import graft.analytics.Tools
    val regions = Seq(
      ("a", None: Option[Long], Some(10L), false),
      ("p", Some(10L), Some(20L), true),   // offline split parent
      ("b", Some(10L), Some(20L), false),  // its online daughter range
      ("c", Some(30L), Some(40L), false),  // hole in [20, 30)
      ("d", Some(40L), None: Option[Long], false)  // online, zero lookups
    ).toDF("region_id", "start_key", "end_key", "offline")
    val keys = Seq(5L, 15L, 25L, 35L).toDF("k")
    val got = Tools.regionLocate(keys, "k", regions)
      .select("region_id", "n_keys", "first_key", "last_key")
      .as[(Option[String], Long, Option[Long], Option[Long])].collect().toSet
    assert(got == Set(
      (Some("a"), 1L, Some(5L), Some(5L)),   // open-start region
      (Some("b"), 1L, Some(15L), Some(15L)), // daughter, NOT the offline parent
      (None, 1L, Some(25L), Some(25L)),      // chain hole -> unlocatable
      (Some("c"), 1L, Some(35L), Some(35L)),
      (Some("d"), 0L, None, None)),          // zero lookups != missing from META
      s"got $got")
    // with every key locatable, NO unlocatable row appears
    val clean = Tools.regionLocate(Seq(5L, 15L).toDF("k"), "k", regions)
      .where(col("region_id").isNull).count()
    assert(clean == 0L, "phantom unlocatable row")
  }

  test("splitPolicy: constant vs increasing verdicts, gated prefix-snapped points") {
    import spark.implicits._
    import graft.analytics.Tools
    // bucket 0: 100 bytes, bucket 1: 60, bucket 2: 30; R=3, flush=1 so
    // initialSize = 2·flush = 2 (IncreasingToUpperBoundRegionSplitPolicy
    // .configureForRegion's default) and the increasing limit is
    // min(80, 2·3³)=54 — bucket 1 splits under the default policy but
    // NOT under ConstantSize (60 < 80)
    val tagged = Seq(
      (0L, 11L, 25L), (0L, 13L, 25L), (0L, 17L, 25L), (0L, 19L, 25L),
      (1L, 21L, 30L), (1L, 25L, 30L),
      (2L, 31L, 30L)).toDF("bucket", "k", "sz")
    val params = Seq((80L, 1L)).toDF("max_file_size", "flush_size")
    val got = Tools.splitPolicy(tagged, "k", col("sz"), params, 10L)
      .select("region", "store_size", "split_constant", "limit_bytes",
        "split_increasing", "split_point", "split_point_prefix")
      .as[(Long, Long, Boolean, Long, Boolean, Option[Long], Option[Long])]
      .collect().toSet
    assert(got == Set(
      (0L, 100L, true, 54L, true, Some(15L), Some(10L)),  // exact median 15.0
      (1L, 60L, false, 54L, true, Some(23L), Some(20L)),
      (2L, 30L, false, 54L, false, None, None)), s"got $got")
    // the sketch path keeps the verdicts; points stay gated the same way
    val ap = Tools.splitPolicy(tagged, "k", col("sz"), params, 10L, approx = true)
      .select("region", "split_constant", "split_increasing", "split_point")
      .as[(Long, Boolean, Boolean, Option[Long])].collect().toSet
    assert(ap.map(t => (t._1, t._2, t._3, t._4.isDefined)) ==
      Set((0L, true, true, true), (1L, false, true, true), (2L, false, false, false)),
      s"got $ap")
    // getSizeToCheck's R>100 guard: the cubic check is abandoned for
    // maxFileSize OUTRIGHT — 2·1·101³ ≈ 2.06e6 would otherwise be the
    // limit, well under max_file_size=1e7, so the guard is observable
    val many = (0 until 101).map(i => (i.toLong, i * 10L, 5L))
      .toDF("bucket", "k", "sz")
    val bigParams = Seq((10000000L, 1L)).toDF("max_file_size", "flush_size")
    val guarded = Tools.splitPolicy(many, "k", col("sz"), bigParams, 10L)
      .select("limit_bytes", "split_increasing")
      .as[(Long, Boolean)].collect()
    assert(guarded.length == 101 &&
      guarded.forall(t => t._1 == 10000000L && !t._2), s"got ${guarded.toSeq}")
  }

  test("splitPolicy stepping: R=1 fast-splits at 2*flush, R>1 ignores the R-cubed escalation") {
    import spark.implicits._
    import graft.analytics.Tools
    val params = Seq((80L, 1L)).toDF("max_file_size", "flush_size")
    // R = 1, one 3-byte region: stepping checks initialSize = 2·flush
    // = 2 → splits a region ConstantSize (80) would ride for ~27x
    // longer (the spread-fast verdict; increasing agrees at R = 1:
    // 2·1³ = 2)
    val young = Seq((0L, 5L, 3L)).toDF("bucket", "k", "sz")
    val y = Tools.splitPolicy(young, "k", col("sz"), params, 10L)
      .select("limit_stepping", "split_stepping", "split_constant",
        "split_increasing")
      .as[(Long, Boolean, Boolean, Boolean)].collect().toSeq
    assert(y == Seq((2L, true, false, true)), s"young $y")
    // R = 3 (the existing frame): increasing's limit is min(80, 2·3³)
    // = 54, stepping jumps STRAIGHT to maxFileSize = 80 — the 60-byte
    // bucket splits under increasing but RIDES under stepping
    // (SteppingSplitPolicy.java:20's settle), while the 100-byte
    // bucket splits under both
    val tagged = Seq(
      (0L, 11L, 25L), (0L, 13L, 25L), (0L, 17L, 25L), (0L, 19L, 25L),
      (1L, 21L, 30L), (1L, 25L, 30L),
      (2L, 31L, 30L)).toDF("bucket", "k", "sz")
    val m = Tools.splitPolicy(tagged, "k", col("sz"), params, 10L)
      .select("region", "limit_stepping", "split_stepping", "split_increasing")
      .as[(Long, Long, Boolean, Boolean)].collect().toSet
    assert(m == Set(
      (0L, 80L, true, true),
      (1L, 80L, false, true),   // the divergence row
      (2L, 80L, false, false)), s"mature $m")
  }

  test("hbckRegionChain: clean chain is silent, every planted defect reported") {
    import spark.implicits._
    import graft.analytics.Tools
    def regs(rows: (String, Option[Long], Option[Long])*) =
      rows.toSeq.toDF("region_id", "start_key", "end_key")
    // a proper chain: open start, contiguous, open end → zero findings
    val clean = regs(("a", None, Some(10L)), ("b", Some(10L), Some(20L)),
      ("c", Some(20L), None))
    assert(Tools.hbckRegionChain(clean).count() == 0)
    // single whole-keyspace region is also clean
    assert(Tools.hbckRegionChain(regs(("w", None, None))).count() == 0)
    // empty catalog = the reference's whole-keyspace hole
    val none = Tools.hbckRegionChain(clean.where(lit(false)))
      .select("code").as[String].collect().toSeq
    assert(none == Seq("HOLE_IN_REGION_CHAIN"), s"got $none")
    // planted defects: closed first start, hole (10,20), degenerate at
    // 25, dupe starts at 20, overlap [30,35), closed last end
    val bad = regs(
      ("a", Some(0L), Some(10L)),          // first start not open
      ("b", Some(20L), Some(30L)),         // hole [10, 20)
      ("b2", Some(20L), Some(25L)),        // dupe start + overlap
      ("d", Some(25L), Some(25L)),         // degenerate
      ("e", Some(28L), Some(40L)))         // overlap with b, last end closed
    val got = Tools.hbckRegionChain(bad)
      .select("code", "at_key", "end_key", "n")
      .as[(String, Option[Long], Option[Long], Long)].collect().toSet
    val want = Set(
      ("FIRST_REGION_STARTKEY_NOT_EMPTY", Some(0L), None, 1L),
      ("LAST_REGION_ENDKEY_NOT_EMPTY", Some(40L), None, 1L),
      ("HOLE_IN_REGION_CHAIN", Some(10L), Some(20L), 1L),
      ("DUPE_STARTKEYS", Some(20L), None, 2L),
      ("DEGENERATE_REGION", Some(25L), Some(25L), 1L),
      ("OVERLAP_IN_REGION_CHAIN", Some(20L), Some(25L), 2L),
      ("OVERLAP_IN_REGION_CHAIN", Some(28L), Some(30L), 2L))
    assert(got == want, s"got $got")
  }

  test("Acl.enforceRead: deny by default, hierarchy covers, write grants don't read") {
    import spark.implicits._
    val cells = Seq(
      (1L, "web", "click", "a"), (2L, "web", "view", "b"),
      (3L, "act", "purchase", "c"), (4L, "act", "error", "d")
    ).toDF("rowkey", "family", "qualifier", "value")
    def grants(rows: (String, Option[String], Option[String], Option[String], String)*) =
      rows.toSeq.toDF("grantee", "tbl", "family", "qualifier", "perm")
    def visible(g: org.apache.spark.sql.DataFrame, user: String = "u") =
      graft.kv.Acl.enforceRead(cells, g, user, "t")
        .select("rowkey").as[Long].collect().toSet
    // no grants at all → nothing (deny by default)
    assert(visible(grants(("other", None, None, None, "R"))) == Set.empty[Long])
    // write-only grant does not authorize reads
    assert(visible(grants(("u", None, None, None, "W"))) == Set.empty[Long])
    // a grant on another table must not leak into this one
    assert(visible(grants(("u", Some("elsewhere"), None, None, "R"))) == Set.empty[Long])
    // qualifier-level: exactly that column, nothing else of the family
    assert(visible(grants(("u", Some("t"), Some("act"), Some("purchase"), "R"))) == Set(3L))
    // family-level: every qualifier of the family
    assert(visible(grants(("u", Some("t"), Some("web"), None, "R"))) == Set(1L, 2L))
    // table-level: everything; RW carries the R
    assert(visible(grants(("u", Some("t"), None, None, "RW"))) == Set(1L, 2L, 3L, 4L))
    // levels combine (family + foreign-family qualifier)
    assert(visible(grants(
      ("u", Some("t"), Some("web"), None, "R"),
      ("u", Some("t"), Some("act"), Some("purchase"), "R"))) == Set(1L, 2L, 3L))
  }

  test("Acl.enforceWrite: deny by default, hierarchy covers, family-wide " +
      "ops need family-or-above W, read grants don't write") {
    import spark.implicits._
    // op batch: qualifier-level put/delete plus a family-wide delete
    // (qualifier NULL) per family
    val ops = Seq(
      (1L, "put", "web", Option("click")), (2L, "delete", "web", Option("view")),
      (3L, "put", "act", Option("purchase")), (4L, "delete", "act", Option("error")),
      (5L, "delete_family", "web", None), (6L, "delete_family", "act", None)
    ).toDF("op_idx", "op_type", "family", "qualifier")
    def grants(rows: (String, Option[String], Option[String], Option[String], String)*) =
      rows.toSeq.toDF("grantee", "tbl", "family", "qualifier", "perm")
    def accepted(g: org.apache.spark.sql.DataFrame, user: String = "u") =
      graft.kv.Acl.enforceWrite(ops, g, user, "t")
        .where(col("outcome") === "ACCEPT")
        .select("op_idx").as[Long].collect().toSet
    // every op always gets exactly one result slot, whatever the grants
    assert(graft.kv.Acl.enforceWrite(ops,
      grants(("u", Some("t"), Some("web"), None, "W")), "u", "t")
      .groupBy("op_idx").count().where(col("count") =!= 1).count() == 0)
    // no grants at all → all DENY (deny by default)
    assert(accepted(grants(("other", None, None, None, "W"))) == Set.empty[Long])
    // read-only grant does not authorize writes (action specificity)
    assert(accepted(grants(("u", Some("t"), None, None, "R"))) == Set.empty[Long])
    // a grant on another table must not leak in
    assert(accepted(grants(("u", Some("elsewhere"), None, None, "RW"))) == Set.empty[Long])
    // qualifier-level W: exactly that op — NOT the family-wide delete,
    // which touches qualifiers the grant does not cover (the preDelete
    // all-covered-cells rule)
    assert(accepted(grants(("u", Some("t"), Some("web"), Some("click"), "W"))) == Set(1L))
    // family-level W: the family's qualifier ops AND its family-wide op
    assert(accepted(grants(("u", Some("t"), Some("web"), None, "W"))) == Set(1L, 2L, 5L))
    // table-level RW: everything; global (tbl NULL) likewise
    assert(accepted(grants(("u", Some("t"), None, None, "RW"))) ==
      Set(1L, 2L, 3L, 4L, 5L, 6L))
    assert(accepted(grants(("u", None, None, None, "W"))) ==
      Set(1L, 2L, 3L, 4L, 5L, 6L))
    // levels combine across families
    assert(accepted(grants(
      ("u", Some("t"), Some("web"), None, "W"),
      ("u", Some("t"), Some("act"), Some("purchase"), "W"))) == Set(1L, 2L, 3L, 5L))
  }

  test("Acl.enforceWrite reads the op stream once: one scan, no shuffle, same outcomes") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Plans extends AdaptiveSparkPlanHelper
    val dir = TempDirs.create("acl_ops").toString
    Seq((1L, "web", Option("click")), (2L, "act", Option("purchase")),
        (3L, "act", Option("error")), (4L, "web", None), (5L, "act", None))
      .toDF("op_idx", "family", "qualifier").write.parquet(s"$dir/ops")
    val grants = Seq(("u", Option("t"), Option("web"), Option.empty[String], "W"),
        ("u", Option("t"), Option("act"), Option("purchase"), "RW"))
      .toDF("grantee", "tbl", "family", "qualifier", "perm")
    val out = graft.kv.Acl.enforceWrite(spark.read.parquet(s"$dir/ops"), grants, "u", "t")
    assert(out.orderBy("op_idx").select("outcome").as[String].collect().toSeq ==
      Seq("ACCEPT", "ACCEPT", "DENY", "ACCEPT", "DENY"))
    val plan = out.queryExecution.executedPlan
    val opsScans = Plans.collectWithSubqueries(plan) {
      case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.endsWith("/ops")) => s
    }
    assert(opsScans.size == 1, plan.toString)
    assert(!plan.toString.contains("Exchange hashpartitioning"), plan.toString)
  }

  test("Acl.enforceReadCellAcls: tag perms read from the SECOND field, default deny") {
    import spark.implicits._
    // the perm field is split_part(tag, ':', 2) — a multi-colon tag's
    // LAST field must not authorize (the r11 review's default-deny
    // hole: "carol:junk:R" authorized via substring_index -1)
    val cells = Seq(
      (1L, "web", "click", "a", "carol:R"),      // well-formed -> allow
      (2L, "web", "click", "a", "carol:junk:R"), // perms field = junk -> deny
      (3L, "web", "click", "a", "caRol"),        // colon-less, 'R' in NAME -> deny
      (4L, "web", "click", "a", "bob:R"),        // other user -> deny
      (5L, "web", "click", "a", null.asInstanceOf[String]), // no tag -> deny
      (6L, "web", "click", "a", "carol:RW")      // RW carries R -> allow
    ).toDF("rowkey", "family", "qualifier", "value", "cell_acl")
    val noGrants = Seq.empty[(String, String, String, String, String)]
      .toDF("grantee", "tbl", "family", "qualifier", "perm")
    val got = graft.kv.Acl.enforceReadCellAcls(cells, noGrants, "carol", "t")
      .select("rowkey").as[Long].collect().toSet
    assert(got == Set(1L, 6L), s"got $got")
  }

  test("NULL family: unlisted-family defaults KEEP cells, batch ops REJECT") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val cells = Seq(
      (1L, "web", "q", ts("2024-01-01"), "v", 1L),
      (2L, null.asInstanceOf[String], "q", ts("2024-01-15"), "v", 2L)
    ).toDF("rowkey", "family", "qualifier", "ts", "value", "event_id")
    // familyTimeRange: the NULL-family cell is UNLISTED -> passes
    // untouched (three-valued logic silently dropped it before r11)
    val ftr = graft.kv.Scans.familyTimeRange(cells,
        Map("web" -> ("2024-01-10 00:00:00", "2024-01-20 00:00:00")))
      .select("rowkey").as[Long].collect().toSet
    assert(ftr == Set(2L), s"familyTimeRange kept $ftr")
    // ttlExpirePerFamily: NULL family has no TTL -> keeps forever
    // (now = 01-15; the web cell at 01-01 is past its 5-day TTL)
    val kept = Mutations.ttlExpirePerFamily(cells, Map("web" -> "5 DAYS"))
      .select("rowkey").as[Long].collect().toSet
    assert(kept == Set(2L), s"ttlExpirePerFamily kept $kept")
    // batchOutcomes: a NULL family is as unknown as a wrong one
    val ops = Seq((1L, "web"), (2L, null.asInstanceOf[String]))
      .toDF("k", "family")
    val out = Mutations.batchOutcomes(ops, Seq("web"), lit(false))
      .select("k", "outcome").as[(Long, String)].collect().toMap
    assert(out(1L) == "OK" && out(2L) == "NoSuchColumnFamilyException", out.toString)
    // deleteFamilyBefore: a NULL-key cell is NON-matching -> kept
    val dfb = Mutations.deleteFamilyBefore(
        cells.withColumn("rowkey",
          when(col("rowkey") === 2L, lit(null)).otherwise(col("rowkey"))),
        col("rowkey") === 1L, "web", lit(ts("2024-01-10")))
      .select("event_id").as[Long].collect().toSet
    assert(dfb == Set(2L), s"deleteFamilyBefore kept $dfb")
  }

  test("put without versionCol refuses duplicate put keys loudly") {
    import spark.implicits._
    val base = Seq((1L, "old")).toDF("k", "v")
    val dup = Seq((1L, "a"), (1L, "b")).toDF("k", "v")
    val e = intercept[Exception] {
      Mutations.put(base, dup, "k").collect()
    }
    assert(e.getMessage.contains("duplicate put key"), e.getMessage)
    // with a version order the duplicate resolves latest-wins instead
    val got = Mutations.put(Seq((1L, "old", 0L)).toDF("k", "v", "ver"),
        Seq((1L, "a", 1L), (1L, "b", 2L)).toDF("k", "v", "ver"),
        "k", versionCol = Some("ver"))
      .select("v").as[String].collect().toSeq
    assert(got == Seq("b"), got.toString)
  }

  test("bulkDelete NULL-pred cells: both row and cell forms treat NULL as non-matching") {
    import spark.implicits._
    val cells = Seq(
      ("1", "f", "a", Some("hit")), ("1", "f", "b", None),
      ("2", "f", "a", None)
    ).toDF("rowkey", "family", "qualifier", "value")
    val pred = col("value") === "hit" // NULL value ⇒ NULL predicate
    val rowsLeft = Mutations.bulkDeleteRows(cells, pred)
      .select("rowkey").as[String].collect().toSet
    assert(rowsLeft == Set("2"), s"rows left $rowsLeft")
    // the NULL-pred cells survive the cell-level delete too — same
    // convention, not the ¬NULL = NULL drop a bare where(!pred) gives
    val cellsLeft = Mutations.bulkDeleteCells(cells, pred)
      .select("rowkey", "qualifier").as[(String, String)].collect().toSet
    assert(cellsLeft == Set(("1", "b"), ("2", "a")), s"cells left $cellsLeft")
  }

  test("normalizerPlan: oversized buckets split, adjacent small pairs merge, odd leftover skipped") {
    import spark.implicits._
    // avg = 185/5 = 37: bucket 0 (100 > 74) splits; rank pairs (0,1) too
    // big, (2,3) = 35 < 37 merges; bucket 7 is the unpaired leftover.
    val stats = Seq((0L, 100L), (1L, 10L), (2L, 5L), (3L, 30L), (7L, 40L))
      .toDF("bucket", "n_rows")
    val plan = graft.analytics.Tools.normalizerPlan(stats)
      .select("action", "bucket", "other_bucket")
      .as[(String, Long, Option[Long])].collect().toSet
    assert(plan == Set(("split", 0L, None), ("merge", 2L, Some(3L))), s"plan $plan")
  }

  test("compactionSelect: ratio rule excludes the giant file, most-files window wins") {
    import spark.implicits._
    val files = Seq(
      // region A: a 100-cell file next to four 10s — any window holding
      // the giant fails ratio 1.2; the four 10s are the best selection
      ("A", 1L, 100L), ("A", 2L, 10L), ("A", 3L, 10L), ("A", 4L, 10L), ("A", 5L, 10L),
      // region B: two files — below minFiles, no plan
      ("B", 1L, 10L), ("B", 2L, 12L)
    ).toDF("region", "seq", "size")
    val got = graft.analytics.Tools.compactionSelect(files)
      .as[(String, Long, Long, Long)].collect().toList
    assert(got == List(("A", 2L, 4L, 40L)), s"got $got")
  }

  test("balancerPlan deals regions round-robin in size order") {
    import spark.implicits._
    val stats = Seq((0L, 100L), (1L, 90L), (2L, 10L), (3L, 5L), (4L, 1L))
      .toDF("bucket", "n_rows")
    val got = graft.analytics.Tools.balancerPlan(stats, 2)
      .select("bucket", "server").as[(Long, Int)].collect().toMap
    assert(got == Map(0L -> 0, 1L -> 1, 2L -> 0, 3L -> 1, 4L -> 0), s"got $got")
  }

  test("pointInTimeRead: keep=true sees through a later delete, keep=false does not") {
    import spark.implicits._
    // Both families: put@Jan05 (v1), delete@Jan20, put@Jan25 (v2).
    // As-of Jan15: the delete hasn't happened yet from the read point.
    //   keep=true (web): put@Jan05 visible. keep=false (act): the
    //   compacted store already dropped it → nothing.
    // Plus a put@Jan10 deleted@Jan12 (before the read point): masked in
    // BOTH families — keep only preserves cells for point-in-time
    // reads BEFORE their delete.
    val edits = Seq(
      (1L, "web", "q", "2024-01-05 00:00:00", "put",    1.0, 1L),
      (1L, "web", "q", "2024-01-20 00:00:00", "delete", 0.0, 2L),
      (1L, "web", "q", "2024-01-25 00:00:00", "put",    2.0, 3L),
      (2L, "act", "q", "2024-01-05 00:00:00", "put",    3.0, 4L),
      (2L, "act", "q", "2024-01-20 00:00:00", "delete", 0.0, 5L),
      (2L, "act", "q", "2024-01-25 00:00:00", "put",    4.0, 6L),
      (3L, "web", "q", "2024-01-10 00:00:00", "put",    5.0, 7L),
      (3L, "web", "q", "2024-01-12 00:00:00", "delete", 0.0, 8L),
      (4L, "act", "q", "2024-01-10 00:00:00", "put",    6.0, 9L),
      (4L, "act", "q", "2024-01-12 00:00:00", "delete", 0.0, 10L)
    ).toDF("rowkey", "family", "qualifier", "ts_s", "op", "value", "event_id")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val got = graft.kv.Scans.pointInTimeRead(edits, "2024-01-15 00:00:00", Set("web"))
      .select("rowkey", "value").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 1.0), s"got $got")
  }

  test("raw scan returns delete markers unmasked") {
    import spark.implicits._
    val edits = Seq(
      (1L, "q", "2024-01-05 00:00:00", "put", 1.0, 1L),
      (1L, "q", "2024-01-10 00:00:00", "delete", 0.0, 2L),
      (1L, "q", "2024-02-10 00:00:00", "put", 9.0, 3L)
    ).toDF("rowkey", "qualifier", "ts_s", "op", "value", "event_id")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
    val ops = graft.kv.Scans.raw(edits, "2024-01-01 00:00:00", "2024-02-01 00:00:00")
      .select("op").as[String].collect().sorted
    assert(ops.sameElements(Array("delete", "put")), ops.mkString(","))
  }
}
