package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.agg.Aggregates
import graft.filters.FuzzyMatch

/** Property tests: the distributed implementations against trivially
  * correct in-memory oracles on randomized (fixed-seed) inputs. */
class PropertySpec extends SparkSpec {

  private def samples[A](gen: Gen[A], n: Int): Seq[A] = {
    var seed = Seed(42L)
    (1 to n).map { _ =>
      val a = gen.pureApply(Gen.Parameters.default, seed)
      seed = seed.next
      a
    }
  }

  test("distributed weightedMedian equals the naive cumulative-weight median") {
    import spark.implicits._
    val rows = Gen.nonEmptyListOf(for {
      v <- Gen.chooseNum(-1000.0, 1000.0)
      w <- Gen.chooseNum(0.1, 50.0)
    } yield (v, w))
    samples(rows, 10).foreach { data =>
      val sorted = data.sortBy(_._1)
      val totalW = sorted.map(_._2).sum
      val half = totalW / 2
      var cum = 0.0
      val naive = sorted.find { case (_, w) => cum += w; cum >= half }.get._1
      val got = Aggregates.weightedMedian(data.toDF("v", "w"), "v", "w", buckets = 16)
        .collect()(0).getDouble(0)
      // exact match expected; the escape hatch covers the case where the
      // crossing row sits within FP-summation-order noise of half the
      // total weight (distributed partial sums accumulate in a different
      // order than the sequential fold above)
      def cumThrough(v: Double): Double = sorted.takeWhile(_._1 <= v).map(_._2).sum
      assert(got == naive || math.abs(cumThrough(got) - half) <= 1e-9 * totalW,
        s"got $got want $naive for $data")
    }
  }

  test("connected components equal a union-find oracle on random graphs") {
    import spark.implicits._
    // small id space forces cycles, stars and cross-component merges —
    // shapes the planted-case tests don't produce
    val gen = Gen.chooseNum(1, 25).flatMap(n =>
      Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 15L), Gen.chooseNum(0L, 15L))))
      .map(_.filter(p => p._1 != p._2))
    samples(gen, 8).filter(_.nonEmpty).foreach { edges =>
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      // smaller root absorbs bigger ⇒ each tree's root is the
      // component's min id
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(n => n -> find(n)).toMap
      val got = graft.dedup.Dedup.connectedComponents(edges.toDF("i", "j"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"edges $edges:\ngot  $got\nwant $want")
    }
  }

  test("label propagation equals the naive clamped majority-vote fold on random graphs") {
    import spark.implicits._
    // small id space → multi-label collisions, ties, seeds inside and
    // outside the graph, unreachable nodes
    val gen = for {
      nE <- Gen.chooseNum(1, 25)
      edges <- Gen.listOfN(nE, Gen.zip(Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 12L)))
      nS <- Gen.chooseNum(1, 6)
      seeds <- Gen.listOfN(nS, Gen.zip(Gen.chooseNum(0L, 14L),
        Gen.oneOf("en", "fr", "de")))
    } yield (edges.filter(p => p._1 != p._2), seeds.distinctBy(_._1))
    samples(gen, 8).filter(_._1.nonEmpty).foreach { case (edges, seeds) =>
      // naive fold: adjacency both ways; each round, every unlabeled
      // node with labeled neighbors takes (max count, min label)
      val adj = (edges ++ edges.map(e => (e._2, e._1))).distinct
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      var want = seeds.map { case (n, l) => n -> (l, 0) }.toMap
      for (r <- 1 to 2) {
        val adopt = adj.keys.filterNot(want.contains).flatMap { n =>
          val votes = adj(n).flatMap(m => want.get(m).map(_._1))
            .groupBy(identity).view.mapValues(_.size).toMap
          if (votes.isEmpty) None
          else Some(n -> (votes.toSeq.minBy { case (l, c) => (-c, l) }._1, r))
        }.toMap
        want = want ++ adopt
      }
      // free the returned pin per generated case — scalacheck runs
      // many cases in one JVM and stranded pins accumulate
      val lp = graft.dedup.Dedup.labelPropagation(
        edges.toDF("i", "j"), seeds.toDF("node", "label"), rounds = 2)
      val got = lp.collect()
        .map(row => row.getAs[Long]("node") ->
          (row.getAs[String]("label"), row.getAs[Int]("round"))).toMap
      org.apache.spark.sql.graftbridge.CheckpointBridge.free(lp)
      assert(got == want, s"edges $edges seeds $seeds:\ngot  $got\nwant $want")
    }
  }

  test("asof join equals the naive latest-at-or-before lookup") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // small key space + small time space force same-instant collisions,
    // empty-quote keys, and multi-quote races
    val gen = for {
      nP <- Gen.chooseNum(1, 30)
      nQ <- Gen.chooseNum(0, 30)
      ps <- Gen.listOfN(nP, Gen.zip(Gen.chooseNum(0L, 4L), Gen.chooseNum(0L, 20L)))
      qs <- Gen.listOfN(nQ, Gen.zip(Gen.chooseNum(0L, 4L), Gen.chooseNum(0L, 20L)))
    } yield (ps, qs)
    samples(gen, 15).foreach { case (ps, qs) =>
      val probes = ps.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
      val quotes = qs.zipWithIndex.map { case ((k, t), i) => (i.toLong + 1000, k, t) }
      val got = graft.core.AsofJoin.asof(
          probes.toDF("pid", "k", "t"), quotes.toDF("qid", "k", "t"),
          "k", "t", Seq("qid"))
        .select(col("pid"), col("_last.qid"))
        .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toMap
      probes.foreach { case (pid, k, t) =>
        val want = quotes.filter(q => q._2 == k && q._3 <= t)
          .sortBy(q => (q._3, q._1)).lastOption.map(_._1)
        assert(got(pid) == want, s"probe $pid (k=$k t=$t): got ${got(pid)} want $want")
      }
    }
  }

  test("walReplay equals a sequential per-cell replay oracle") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // tiny key/ts spaces force put/delete collisions and exact-ts ties
    val edit = for {
      rk <- Gen.chooseNum(1L, 4L)
      q <- Gen.oneOf("a", "b")
      tsDay <- Gen.chooseNum(1, 9)
      v <- Gen.chooseNum(0.0, 100.0)
      del <- Gen.prob(0.3)
    } yield (rk, q, tsDay, v, if (del) "delete" else "put")
    val gen = Gen.chooseNum(1, 30).flatMap(Gen.listOfN(_, edit))
    samples(gen, 20).foreach { raw =>
      val edits = raw.zipWithIndex.map { case ((rk, q, d, v, op), id) =>
        (rk, q, f"2024-01-0$d 00:00:00", v, id.toLong, op)
      }
      val df = edits.toDF("rowkey", "qualifier", "ts", "value", "event_id", "op")
        .withColumn("ts", col("ts").cast("timestamp"))
      val got = graft.analytics.Tools
        .walReplay(df, "2024-01-01 00:00:00", "2024-01-10 00:00:00")
        .select("rowkey", "qualifier", "value")
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
      // oracle: per cell, latest delete ts masks every put at ts <= it;
      // survivor = max (ts, id) put
      val want = edits.groupBy(e => (e._1, e._2)).flatMap { case (k, es) =>
        val delTs = es.filter(_._6 == "delete").map(_._3).sorted.lastOption
        val live = es.filter(e => e._6 == "put" && delTs.forall(e._3 > _))
        live.sortBy(e => (e._3, e._5)).lastOption.map(e => k -> e._4)
      }
      assert(got == want, s"edits=$edits\ngot=$got\nwant=$want")
    }
  }

  test("pointInTimeRead equals a sequential as-of oracle under keep/discard families") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val asOf = "2024-01-05 00:00:00"
    val edit = for {
      rk <- Gen.chooseNum(1L, 4L)
      fam <- Gen.oneOf("keepf", "dropf")
      tsDay <- Gen.chooseNum(1, 9)
      v <- Gen.chooseNum(0.0, 100.0)
      del <- Gen.prob(0.3)
    } yield (rk, fam, tsDay, v, if (del) "delete" else "put")
    val gen = Gen.chooseNum(1, 30).flatMap(Gen.listOfN(_, edit))
    samples(gen, 20).foreach { raw =>
      val edits = raw.zipWithIndex.map { case ((rk, fam, d, v, op), id) =>
        (rk, fam, "q", f"2024-01-0$d 00:00:00", v, id.toLong, op)
      }
      val df = edits.toDF("rowkey", "family", "qualifier", "ts", "value", "event_id", "op")
        .withColumn("ts", col("ts").cast("timestamp"))
      val got = graft.kv.Scans.pointInTimeRead(df, asOf, Set("keepf"))
        .select("rowkey", "family", "value")
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
      // oracle: puts at ts <= asOf; keep families honor deletes <= asOf,
      // discard families honor ALL deletes; survivor = max (ts, id) put
      // strictly newer than the effective delete
      val want = edits.groupBy(e => (e._1, e._2)).flatMap { case (k, es) =>
        val dels = es.filter(_._7 == "delete")
          .filter(e => k._2 == "dropf" || e._4 <= asOf)
        val delTs = dels.map(_._4).sorted.lastOption
        val live = es.filter(e =>
          e._7 == "put" && e._4 <= asOf && delTs.forall(e._4 > _))
        live.sortBy(e => (e._4, e._6)).lastOption.map(e => k -> e._5)
      }
      assert(got == want, s"edits=$edits\ngot=$got\nwant=$want")
    }
  }

  test("visibility evaluation equals the direct DNF oracle on random expressions") {
    import spark.implicits._
    val labels = Seq("a", "b", "c", "d")
    val atom = for {
      l <- Gen.oneOf(labels)
      neg <- Gen.prob(0.3)
    } yield (if (neg) "!" else "") + l
    val exprGen = for {
      terms <- Gen.chooseNum(1, 3)
      e <- Gen.listOfN(terms,
        Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, atom).map(_.mkString("&"))))
    } yield e.mkString("|")
    val gen = for {
      auths <- Gen.someOf(labels)
      exprs <- Gen.listOfN(25, exprGen)
    } yield (auths.toSet, exprs)
    samples(gen, 10).foreach { case (auths, exprs) =>
      val rows = exprs.zipWithIndex.map { case (e, i) => (i.toLong, e) }
      val got = graft.kv.Visibility
        .applyAuths(rows.toDF("k", "vis"), "vis", auths.toSeq)
        .select("k").as[Long].collect().toSet
      val want = rows.filter { case (_, e) =>
        e.split('|').exists(_.split('&').forall(a =>
          if (a.startsWith("!")) !auths(a.drop(1)) else auths(a)))
      }.map(_._1).toSet
      assert(got == want, s"auths=$auths exprs=$exprs\ngot=$got\nwant=$want")
    }
  }

  test("saltedRangeScan equals the direct range filter for random ranges and salt counts") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val gen = for {
      n <- Gen.chooseNum(1, 60)
      keys <- Gen.listOfN(n, Gen.chooseNum(0L, 500L))
      salts <- Gen.oneOf(2, 4, 8)
      a <- Gen.chooseNum(0L, 400L)
      span <- Gen.chooseNum(0L, 200L)
    } yield (keys.distinct, salts, a, a + span)
    samples(gen, 12).foreach { case (keys, salts, start, stop) =>
      val df = keys.toDF("k")
        .select(graft.core.Salt.saltedKey(col("k"), salts).as("salted_key"), col("k"))
      val got = graft.core.Salt.saltedRangeScan(df, "salted_key", salts, start, stop)
        .select("k").as[Long].collect().toSet
      val want = keys.filter(k => k >= start && k < stop).toSet
      assert(got == want, s"salts=$salts [$start,$stop) keys=$keys\ngot=$got\nwant=$want")
    }
  }

  test("saltedKey refuses negative and over-width keys instead of storing a broken format") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    for (bad <- Seq(-5L, 10000000000000L)) { // negative; 14 digits > width 12
      val e = intercept[Exception] {
        Seq(bad).toDF("k")
          .select(graft.core.Salt.saltedKey(col("k"), 8)).collect()
      }
      assert(e.getMessage.contains("non-negative integer"),
        s"key $bad: ${e.getMessage}")
    }
    // FRACTIONAL keys refuse loudly (truncating would silently collide
    // 5.2 and 5.5), as do unparseable strings
    for (bad <- Seq("5.5", "abc", "-7")) {
      val e = intercept[Exception] {
        Seq(bad).toDF("k")
          .select(graft.core.Salt.saltedKey(col("k"), 8)).collect()
      }
      assert(e.getMessage.contains("non-negative integer"),
        s"key $bad: ${e.getMessage}")
    }
    // integral keys NORMALIZE: a zero-padded string, an integral
    // double, and the plain bigint all store the IDENTICAL key —
    // integer salt prefix included (a raw pmod on the string/double
    // form would prefix "7.0-", a format no scan bound matches)
    def stored(df: org.apache.spark.sql.DataFrame) = df
      .select(graft.core.Salt.saltedKey(col("k"), 8).as("s"))
      .as[String].collect().head
    val want = stored(Seq(7L).toDF("k"))
    assert(want == "7-000000000007", want)
    assert(stored(Seq("007").toDF("k")) == want)
    assert(stored(Seq(7.0).toDF("k")) == want)
  }

  test("compactionSelect equals the brute-force window search on random file lists") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(0, 9)
      sizes <- Gen.listOfN(n, Gen.chooseNum(1L, 120L))
    } yield sizes
    samples(gen, 15).foreach { sizes =>
      val files = sizes.zipWithIndex.map { case (sz, i) => ("r", i.toLong, sz) }
      val got = graft.analytics.Tools
        .compactionSelect(files.toDF("region", "seq", "size"))
        .select("first_seq", "n_files", "tot_size")
        .as[(Long, Long, Long)].collect().toList
      // brute force: all (start, len) windows, ratio-valid, best by
      // (most files, fewest bytes, earliest start)
      val wins = for {
        len <- 3 to 5
        s <- 0 to sizes.length - len
        w = sizes.slice(s, s + len)
        tot = w.sum
        if w.forall(x => x <= 1.2 * (tot - x))
      } yield (s, len, tot)
      val want = wins.sortBy { case (s, len, tot) => (-len, tot, s) }.headOption
        .map { case (s, len, tot) => (s.toLong, len.toLong, tot) }.toList
      assert(got == want, s"sizes=$sizes\ngot=$got\nwant=$want")
    }
  }

  test("balancerPlan keeps every server within one region of even count") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(1, 40)
      sizes <- Gen.listOfN(n, Gen.chooseNum(1L, 1000L))
      servers <- Gen.chooseNum(1, 7)
    } yield (sizes.zipWithIndex.map { case (sz, i) => (i.toLong, sz) }, servers)
    samples(gen, 12).foreach { case (stats, servers) =>
      val counts = graft.analytics.Tools
        .balancerPlan(stats.toDF("bucket", "n_rows"), servers)
        .groupBy("server").count().as[(Int, Long)].collect().toMap
      val per = (0 until servers).map(counts.getOrElse(_, 0L))
      assert(per.max - per.min <= 1,
        s"uneven deal for ${stats.size} regions / $servers servers: $counts")
      assert(per.sum == stats.size)
    }
  }

  test("batchCells equals naive per-row chunking on random cell sets") {
    import spark.implicits._
    val gen = for {
      n <- Gen.chooseNum(1, 40)
      cells <- Gen.listOfN(n, for {
        rk <- Gen.chooseNum(0, 5).map("r" + _)
        fam <- Gen.oneOf("f", "g")
        q <- Gen.chooseNum(0, 9).map("q" + _)
      } yield (rk, fam, q))
      batch <- Gen.chooseNum(1, 4)
    } yield (cells.distinct.map(c => (c._1, c._2, c._3, c._1 + c._3)), batch)
    samples(gen, 8).foreach { case (cells, batch) =>
      val want = cells.groupBy(_._1).flatMap { case (_, rows) =>
        rows.sortBy(r => (r._2, r._3)).zipWithIndex.map { case (r, k) =>
          (r._1, r._2, r._3, r._4, (k / batch).toLong, (k % batch).toLong)
        }
      }.toSet
      val got = graft.kv.Scans.batchCells(
          cells.toDF("rowkey", "family", "qualifier", "value"), batch)
        .as[(String, String, String, String, Long, Long)].collect().toSet
      assert(got == want, s"batch=$batch cells=$cells:\ngot  $got\nwant $want")
    }
  }

  test("familyTimeRange equals the naive per-cell filter on random ranges") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def ts(d: Int) = f"2024-01-$d%02d 00:00:00"
    val gen = for {
      n <- Gen.chooseNum(1, 50)
      cells <- Gen.listOfN(n, for {
        rk <- Gen.chooseNum(0L, 9L)
        fam <- Gen.oneOf("a", "b", "c")
        day <- Gen.chooseNum(1, 28)
      } yield (rk, fam, "q", ts(day)))
      aLo <- Gen.chooseNum(1, 27); aHi <- Gen.chooseNum(aLo + 1, 28)
      bLo <- Gen.chooseNum(1, 27); bHi <- Gen.chooseNum(bLo + 1, 28)
    } yield (cells, Map("a" -> (ts(aLo), ts(aHi)), "b" -> (ts(bLo), ts(bHi))))
    samples(gen, 8).foreach { case (cells, ranges) =>
      val want = cells.filter { case (_, fam, _, t) =>
        ranges.get(fam).forall { case (lo, hi) => t >= lo && t < hi }
      }.toSet
      val df = cells.toDF("rowkey", "family", "qualifier", "ts_s")
        .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
      val got = graft.kv.Scans.familyTimeRange(df, ranges)
        .select(col("rowkey"), col("family"), col("qualifier"),
          org.apache.spark.sql.functions.date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
        .as[(Long, String, String, String)].collect().toSet
      assert(got == want.map(c => (c._1, c._2, c._3, c._4)),
        s"ranges $ranges cells $cells:\ngot $got\nwant $want")
    }
  }

  test("ParseFilter round-trips random filter ASTs (render -> parse -> same rows)") {
    import spark.implicits._
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions.col
    import graft.filters.{Comparators, CompareOp, ParseFilter}

    // AST over the pure grammar; each node knows its DSL rendering and
    // its direct (parser-free) Column semantics — the parser must agree
    sealed trait F { def render: String; def sem: Column }
    case class Pref(p: String) extends F {
      def render = s"PrefixFilter('${p.replace("'", "''")}')"
      def sem = col("rowkey").startsWith(p)
    }
    case class Val(op: CompareOp.Value, v: String) extends F {
      def render = s"ValueFilter(${opTok(op)}, 'binary:${v.replace("'", "''")}')"
      def sem = Comparators.binary(v)(col("value"), op)
    }
    case class Qual(op: CompareOp.Value, v: String) extends F {
      def render = s"QualifierFilter(${opTok(op)}, 'binary:${v.replace("'", "''")}')"
      def sem = Comparators.binary(v)(col("qualifier"), op)
    }
    case class Mrr(r: Seq[(String, String)]) extends F {
      def render = "MultiRowRangeFilter(" +
        r.map { case (a, b) => s"'$a', '$b'" }.mkString(", ") + ")"
      def sem = graft.filters.Filters.multiRowRange(col("rowkey"), r)
    }
    case class And(l: F, r: F) extends F {
      def render = s"(${l.render} AND ${r.render})"
      def sem = l.sem && r.sem
    }
    case class Or(l: F, r: F) extends F {
      def render = s"(${l.render} OR ${r.render})"
      def sem = l.sem || r.sem
    }
    def opTok(op: CompareOp.Value): String = op match {
      case CompareOp.LESS => "<"; case CompareOp.LESS_OR_EQUAL => "<="
      case CompareOp.EQUAL => "="; case CompareOp.NOT_EQUAL => "!="
      case CompareOp.GREATER_OR_EQUAL => ">="; case CompareOp.GREATER => ">"
    }

    val ops = Gen.oneOf(CompareOp.LESS, CompareOp.LESS_OR_EQUAL, CompareOp.EQUAL,
      CompareOp.NOT_EQUAL, CompareOp.GREATER_OR_EQUAL, CompareOp.GREATER)
    // values include the quote char to exercise the '' escape
    val str = Gen.chooseNum(1, 3).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "1", "2", "'", "x y")).map(_.mkString))
    def leaf: Gen[F] = Gen.oneOf(
      str.map(Pref.apply),
      Gen.zip(ops, str).map { case (o, v) => Val(o, v) },
      Gen.zip(ops, str).map { case (o, v) => Qual(o, v) },
      Gen.chooseNum(1, 2).flatMap(n => Gen.listOfN(n,
        Gen.zip(Gen.alphaLowerStr.map(_.take(1) + "0"), Gen.alphaLowerStr.map(_.take(1) + "z")))
        .map(Mrr.apply)))
    def tree(depth: Int): Gen[F] =
      if (depth == 0) leaf
      else Gen.oneOf(leaf,
        Gen.zip(tree(depth - 1), tree(depth - 1)).map { case (l, r) => And(l, r) },
        Gen.zip(tree(depth - 1), tree(depth - 1)).map { case (l, r) => Or(l, r) })

    val cells = (for {
      rk <- Seq("a1", "b2", "'q", "x y", "12")
      (q, v) <- Seq(("aa", "1"), ("bb", "'"), ("cc", "x y"))
    } yield (rk, "f", q, v)).toDF("rowkey", "family", "qualifier", "value")

    samples(tree(2), 25).foreach { ast =>
      val direct = cells.where(ast.sem)
        .select("rowkey", "qualifier").as[(String, String)].collect().toSet
      val parsed = cells.where(ParseFilter.parse(ast.render))
        .select("rowkey", "qualifier").as[(String, String)].collect().toSet
      assert(parsed == direct, s"AST ${ast.render}:\nparsed $parsed\ndirect $direct")
    }
  }

  test("funnel equals the naive greedy chain on random event streams") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.analytics.Tools
    val gen = Gen.listOfN(80, for {
      u <- Gen.chooseNum(1L, 6L)
      m <- Gen.chooseNum(0, 59)
      t <- Gen.oneOf("a", "b", "c", "x")
    } yield (u, f"2024-01-01 00:$m%02d:17", t))
    samples(gen, 6).foreach { data =>
      val ev = data.toDF("user_id", "_t", "event_type")
        .select(col("user_id"), to_timestamp(col("_t")).as("ts"), col("event_type"))
      val got = Tools.funnel(ev, "user_id", "ts", "event_type", Seq("a", "b", "c"))
        .select("user_id", "depth").as[(Long, Long)].collect().toMap
      // naive greedy per user: earliest a, earliest b after it, ...
      val naive = data.groupBy(_._1).flatMap { case (u, rows) =>
        def first(t: String, after: String): Option[String] =
          rows.filter(r => r._3 == t && r._2 > after).map(_._2).sorted.headOption
        first("a", "").map { ta =>
          val tb = first("b", ta)
          val tc = tb.flatMap(first("c", _))
          u -> (1L + tb.size + tc.size)
        }
      }.toMap
      assert(got == naive, s"funnel drifted: got $got want $naive")
    }
  }

  test("rangeJoinBinned equals the naive BETWEEN filter on random windows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, to_timestamp}
    import graft.core.RangeJoin
    val facts = Gen.listOfN(60, for {
      id <- Gen.chooseNum(1L, 10000L)
      m <- Gen.chooseNum(0, 59); s <- Gen.chooseNum(0, 59)
    } yield (id, f"2024-01-01 03:$m%02d:$s%02d"))
    val wins = Gen.listOfN(8, for {
      id <- Gen.chooseNum(1L, 100L)
      m1 <- Gen.chooseNum(0, 50); dur <- Gen.chooseNum(1, 30)
    } yield (id, f"2024-01-01 03:$m1%02d:00", math.min(59, m1 + dur)))
    samples(Gen.zip(facts, wins), 5).foreach { case (fd, wd) =>
      val f = fd.toDF("fact_id", "_t")
        .select(col("fact_id"), to_timestamp(col("_t")).as("ts"))
      val w = wd.map { case (id, lo, hiM) => (id, lo, f"2024-01-01 03:$hiM%02d:00") }
        .toDF("window_id", "_lo", "_hi")
        .select(col("window_id"), to_timestamp(col("_lo")).as("lo"),
          to_timestamp(col("_hi")).as("hi"))
      val got = RangeJoin.rangeJoinBinned(f, "ts", w, "lo", "hi", binSeconds = 300)
        .select("window_id", "fact_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toList
      val want = f.crossJoin(w)
        .where(col("ts") >= col("lo") && col("ts") <= col("hi"))
        .select("window_id", "fact_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sorted.toList
      assert(got == want, s"binned join drifted (${got.size} vs ${want.size})")
    }
  }

  test("canonicalizeUrl is idempotent on randomized component URLs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val gen = for {
      scheme <- Gen.oneOf("http://", "https://", "HTTPS://", "")
      www <- Gen.oneOf("www.", "WWW.", "")
      host <- Gen.oneOf("example.com", "Sub.Example.COM", "a.b.co")
      port <- Gen.oneOf("", ":80", ":443", ":8080")
      path <- Gen.listOfN(2, Gen.alphaLowerStr.map(_.take(4))).map(_.mkString("/", "/", ""))
      slash <- Gen.oneOf("", "/")
      q <- Gen.oneOf("", "?id=7", "?utm_source=x", "?utm_a=1&id=2&utm_b=3", "?id=1&utm_x=9")
      frag <- Gen.oneOf("", "#top", "#a/b?c")
    } yield scheme + www + host + port + path + slash + q + frag
    val urls = samples(gen, 200).toDF("url")
    val once = urls.select(graft.dedup.Dedup.canonicalizeUrl(col("url")).as("url"))
    val twice = once.select(graft.dedup.Dedup.canonicalizeUrl(col("url")).as("c"))
    val pairs = once.as[String].collect().zip(twice.as[String].collect())
    pairs.foreach { case (a, b) =>
      assert(a == b, s"not idempotent: '$a' -> '$b'")
      assert(!b.matches("^https?://.*") && !b.startsWith("www."), s"residue in '$b'")
    }
    // hand corners (r11): '/?' INSIDE a query value is URL structure
    // only before the FIRST '?' — a nested-URL redirect param must
    // pass byte-identical; embedded newlines must not swallow the
    // path/query tail (regexp_extract '' on no-match) or leave a
    // half-stripped fragment
    def canon(u: String): String = Seq(u).toDF("url")
      .select(graft.dedup.Dedup.canonicalizeUrl(col("url")))
      .as[String].collect().head
    assert(canon("site.com/login?next=/dash/?tab=1") ==
      "site.com/login?next=/dash/?tab=1")
    assert(canon("site.com/login/?next=/dash/") ==
      "site.com/login?next=/dash/")
    assert(canon("example.com/a\nb") == "example.com/a\nb")
    assert(canon("example.com/a#x\ny") == "example.com/a")
  }

  test("lineDedup with an infinite df cap reconstructs every doc verbatim") {
    import spark.implicits._
    val gen = Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "ep")))
    val docs = samples(gen, 30).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
    val df = docs.toDF("doc_id", "text")
    // maxDf >= corpus size: nothing is ever removed, so the cleaned
    // digest must equal the md5 of the original text for EVERY doc —
    // the reconstruction (span cut + sorted-struct rebuild) is exact
    val got = graft.dedup.Dedup.lineDedup(df, spanWords = 3, maxDf = 1000)
      .select("doc_id", "clean_digest").as[(Long, String)].collect().toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    docs.foreach { case (id, text) =>
      val want = md.digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(got(id) == want, s"doc $id rebuilt differently")
    }
  }

  test("applySplits conserves rows and emits only daughters 2b / 2b+1") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.analytics.Tools
    val gen = Gen.listOfN(60, for {
      b <- Gen.chooseNum(0L, 3L)
      k <- Gen.chooseNum(0L, 1000L)
    } yield (b, k))
    samples(gen, 8).foreach { data =>
      val tagged = data.toDF("bucket", "k")
      val buckets = tagged.groupBy("bucket").agg(count(lit(1)).as("n_rows"),
        min("k").as("min_key"), max("k").as("max_key"))
      val got = Tools.applySplits(tagged, Tools.normalizerPlan(buckets), "k")
        .select("daughter", "n_rows").as[(Long, Long)].collect()
      assert(got.map(_._2).sum == data.size.toLong, "rows not conserved")
      val parents = data.map(_._1).toSet
      got.map(_._1).foreach { d =>
        assert(parents.contains(d / 2), s"daughter $d has no parent bucket") }
    }
  }

  test("blockEncodingDecision equals a sequential per-block encoder replay") {
    import spark.implicits._
    // independent oracle: the encoders as the literal per-block state
    // machine the reference runs (prev-cell state, reset per block) —
    // a different formulation from the window+lag plan under test
    def vint(x: Long) = if (x < 128) 1L else if (x < 16384) 2L else 3L
    def fits(x: Long): Long =
      if (x < 0) 8 else (1 to 7).find(n => x < (1L << (8 * n))).getOrElse(8).toLong
    def commonChars(a: String, b: String): Long =
      a.zip(b).takeWhile { case (x, y) => x == y }.size.toLong
    def tsCommon(a: Long, b: Long): Long =
      (1 to 8).takeWhile(i => ((a >> ((8 - i) * 8)) & 255) == ((b >> ((8 - i) * 8)) & 255))
        .size.toLong
    val famLen = 2L
    def naive(cells: Seq[(String, String, Long, String)], blockCells: Int) = {
      var raw, pfx, dif, fst = 0L
      var prev: Option[(String, String, Long, String)] = None
      cells.zipWithIndex.foreach { case (c @ (row, q, ts, v), idx) =>
        val (rlen, qlen, vlen) = (row.length.toLong, q.length.toLong, v.length.toLong)
        val klen = 2 + rlen + 1 + famLen + qlen + 9
        raw += 8 + klen + vlen
        val p = if (idx % blockCells == 0) None else prev
        p match {
          case None =>
            pfx += vint(klen) + vint(vlen) + 1 + klen + vlen
            dif += (1 + famLen) + 1 + vint(klen) + vint(vlen) + 1 +
              rlen + 2 + qlen + fits(ts) + 1 + vlen
            fst += 2 + vint(klen) + vint(vlen) + klen + vlen
          case Some((prow, pq, pts, pv)) =>
            val rkc = commonChars(row, prow)
            val com = if (rkc < rlen) rkc + 2 else rkc + 3 + famLen + commonChars(q, pq)
            val tsc = tsCommon(ts, pts)
            val comT = if (rkc == rlen && q == pq)
              com + (if (tsc == 8) 9 else tsc) else com
            val suffix = if (com < rlen + 2) rlen + 2 - com + qlen
              else qlen - (com - rlen - 3 - famLen)
            pfx += vint(klen - comT) + vint(vlen) + vint(comT) + klen - comT + vlen
            val sameK = if (qlen == pq.length) 0L else vint(klen)
            val sameV = if (vlen == pv.length) 0L else vint(vlen)
            dif += 1 + sameK + sameV + vint(com) + suffix +
              math.min(fits(ts), fits(math.abs(pts - ts))) + vlen
            fst += 1 + sameK + sameV + vint(com) + suffix + (8 - tsc) +
              (if (v == pv) 0L else vlen)
        }
        prev = Some(c)
      }
      (cells.size.toLong, raw, pfx, dif, fst)
    }
    val cellGen = for {
      rowN <- Gen.chooseNum(0, 12)
      q <- Gen.oneOf("cl", "click", "view", "purchase")
      ts <- Gen.chooseNum(0L, 3000L)
      v <- Gen.oneOf("a", "xy", "value9", "")
    } yield (f"$rowN%04d", q, ts, v)
    val setGen = Gen.chooseNum(5, 60).flatMap(n => Gen.listOfN(n, cellGen))
    samples(setGen, 8).zipWithIndex.foreach { case (cells, i) =>
      // the plan sorts by (row, q, ts, tie); feed the naive replay the
      // SAME order so both price the same physical layout
      val sorted = cells.zipWithIndex
        .map { case ((r, q, t, v), tie) => (r, q, t, v, tie.toLong) }
        .sortBy { case (r, q, t, _, tie) => (r, q, t, tie) }
      val want = naive(sorted.map(c => (c._1, c._2, c._3, c._4)), 4)
      val df = sorted.toDF("row", "q", "ts", "v", "tie")
        .withColumn("reg", org.apache.spark.sql.functions.lit(0L))
      val got = graft.analytics.Tools.blockEncodingDecision(df,
          org.apache.spark.sql.functions.col("reg"),
          org.apache.spark.sql.functions.col("row"),
          org.apache.spark.sql.functions.col("q"),
          org.apache.spark.sql.functions.col("ts"),
          org.apache.spark.sql.functions.col("v"),
          org.apache.spark.sql.functions.col("tie"),
          famLen = 2, blockCells = 4)
        .collect().map(r => (r.getAs[Long]("n_cells"), r.getAs[Long]("raw_bytes"),
          r.getAs[Long]("prefix_bytes"), r.getAs[Long]("diff_bytes"),
          r.getAs[Long]("fast_diff_bytes"))).head
      assert(got == want, s"sample $i: got $got want $want")
    }
  }

  test("CommonPrefixLen equals the SQL flags-array fold, code points included") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr}
    // the fold CommonPrefixLen replaced in the encoding operators —
    // kept here as the semantic reference (and still the DuckDB form)
    val foldSql =
      "cast(IF(array_position(transform(sequence(1, greatest(length(a), " +
        "length(b))), i -> IF(substring(a, i, 1) = substring(b, i, 1), 1, 0)" +
        "), 0) = 0, greatest(length(a), length(b)), " +
        "array_position(transform(sequence(1, greatest(length(a), length(b))), " +
        "i -> IF(substring(a, i, 1) = substring(b, i, 1), 1, 0)), 0) - 1) as bigint)"
    val alphabet = Seq("a", "b", "0", "é", "λ", "語", "🙂")
    val strGen = Gen.chooseNum(0, 9).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(alphabet)).map(_.mkString))
    val pairGen = for { a <- strGen; b <- strGen
      // bias toward shared prefixes so the interesting branch fires
      sharePrefix <- Gen.oneOf(true, false)
    } yield if (sharePrefix) (a, a.take(a.length / 2) + b) else (a, b)
    val pairs = samples(pairGen, 300) ++
      Seq(("", ""), ("abc", "abc"), ("abc", "ab"), ("", "x"),
        // one-sided null: the fold's substring(NULL, i, 1) fails the
        // IF at position 1 → 0, and the total native expression
        // matches (both-null is out of contract: the fold propagates
        // NULL there, the native form stays 0 — no operator compares
        // two nullable keys)
        (null, "x"), ("x", null))
    val df = pairs.toDF("a", "b")
    val out = df.select(
        graft.core.CommonPrefixLen.commonPrefixLen(col("a"), col("b"))
          .as("native"),
        expr(foldSql).as("fold"), col("a"), col("b"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(0) == r.getLong(1),
        s"'${r.getString(2)}' vs '${r.getString(3)}': " +
          s"native ${r.getLong(0)} != fold ${r.getLong(1)}")
    }
  }

  test("visibility adminReplay equals the sequential op-log interpreter") {
    import spark.implicits._
    // INDEPENDENT inline oracle: the DefaultVisibilityLabelServiceImpl
    // semantics re-implemented here from scratch (labels set + per-user
    // auth sets, ops in order) — NOT the library's replayLocal, so a
    // shared per-op bug in the library cannot self-certify. Both
    // library paths (replayLocal, relational adminReplay) are asserted
    // against it op-for-op.
    def oracle(ops: Seq[(Long, String, String, String)]) = {
      val labelRe = "^[A-Za-z_\\-:/.0-9]+$"
      var labels = Set.empty[String]
      var auths = Set.empty[(String, String)]
      val out = scala.collection.mutable.Map[Long, String]()
      ops.sortBy(_._1).foreach { case (idx, op, g, l) =>
        op match {
          case "add_label" =>
            out(idx) =
              if (!l.matches(labelRe)) "InvalidLabelException"
              else if (labels(l)) "LabelAlreadyExistsException"
              else { labels += l; "OK" }
          case "set_auths" =>
            out(idx) =
              if (!labels(l)) "InvalidLabelException"
              else { auths += ((g, l)); "OK" }
          case "clear_auths" =>
            out(idx) =
              if (!auths((g, l))) "InvalidLabelException"
              else { auths -= ((g, l)); "OK" }
          case _ => ()
        }
      }
      (out.toMap, auths)
    }
    // generator covers the FULL shape space adminReplay now handles:
    // dupes, ghost labels, repeated clears, AND re-grant cycles
    // (set→clear→set→clear — the r11 grant-epoch fix's target)
    val logGen = for {
      labs <- Gen.someOf(Seq("alpha", "beta", "g:1", "x.y", "bad lbl!", "no|pe"))
      dupes <- Gen.someOf(labs)
      pairs <- Gen.someOf(for {
        g <- Seq("u0", "u1", "u2"); l <- labs ++ Seq("ghost")
      } yield (g, l))
      clears <- Gen.someOf(pairs)
      extraClears <- Gen.someOf(Seq(("u0", "never_set"), ("u2", "alpha")))
      // repeated clears (first OK, retries fail "not set")
      reclears <- Gen.someOf(clears)
      // re-grant cycles: set AGAIN after the clear, then clear some of
      // those re-grants — each epoch's first clear must succeed
      regrants <- Gen.someOf(clears)
      recycleClears <- Gen.someOf(regrants)
    } yield {
      val adds = labs.zipWithIndex.map { case (l, i) =>
        (100L + i, "add_label", null.asInstanceOf[String], l) }
      val readds = dupes.zipWithIndex.map { case (l, i) =>
        (200L + i, "add_label", null.asInstanceOf[String], l) }
      val sets = pairs.zipWithIndex.map { case ((g, l), i) =>
        (1000L + i, "set_auths", g, l) }
      val cls = (clears ++ extraClears.filterNot(pairs.contains)).zipWithIndex
        .map { case ((g, l), i) => (3000L + i, "clear_auths", g, l) }
      val recls = reclears.zipWithIndex.map { case ((g, l), i) =>
        (4000L + i, "clear_auths", g, l) }
      val regr = regrants.zipWithIndex.map { case ((g, l), i) =>
        (5000L + i, "set_auths", g, l) }
      val recy = recycleClears.zipWithIndex.map { case ((g, l), i) =>
        (6000L + i, "clear_auths", g, l) }
      (adds ++ readds ++ sets ++ cls ++ recls ++ regr ++ recy).toSeq
    }
    samples(logGen, 12).filter(_.nonEmpty).foreach { log =>
      val (wantOut, wantAuths) = oracle(log)
      // library sequential replay vs the independent oracle
      val (localOut, localAuths) = graft.kv.Visibility.replayLocal(log)
      assert(localOut.map(r => (r._1, r._5)).toMap == wantOut,
        "replayLocal diverges from the independent interpreter")
      assert(localAuths.toSet == wantAuths,
        s"replayLocal auths ${localAuths.toSet} != $wantAuths")
      // relational replay vs the independent oracle
      val df = log.toDF("op_idx", "op", "grantee", "label")
      val gotOut = graft.kv.Visibility.adminReplay(df)
        .select("op_idx", "outcome").as[(Long, String)].collect().toMap
      assert(gotOut == wantOut,
        s"outcomes diverge: ${gotOut.toSet.diff(wantOut.toSet)} vs ${wantOut.toSet.diff(gotOut.toSet)}")
      // finalAuths: exact when no re-grant cycle exists; a genuine
      // cycle (successful set AFTER a successful clear of the same
      // pair) must fail LOUDLY, never answer "not held"
      val hasCycle = log.exists {
        case (sIdx, "set_auths", g, l) =>
          wantOut.get(sIdx).contains("OK") && log.exists {
            case (cIdx, "clear_auths", g2, l2) =>
              g2 == g && l2 == l && cIdx < sIdx &&
                wantOut.get(cIdx).contains("OK")
            case _ => false
          }
        case _ => false
      }
      if (hasCycle) {
        val e = intercept[IllegalArgumentException] {
          graft.kv.Visibility.finalAuths(df).collect()
        }
        assert(e.getMessage.contains("RE-GRANTED"), e.getMessage)
      } else {
        val gotAuths = graft.kv.Visibility.finalAuths(df)
          .as[(String, String)].collect().toSet
        assert(gotAuths == wantAuths, s"held auths $gotAuths != $wantAuths")
      }
    }
  }

  test("visibility atoms: generated malformed strings vs the full-region label-alphabet oracle") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the r13 guard class under test: a NEGATED atom authorizes ONLY
    // when the negated token is a valid label (labelRegex full-region)
    // and absent from the auth set — every other negation (multi-`!`
    // prefixes, embedded whitespace/newlines, non-alphabet chars,
    // empties) must DENY, matching the reference's parse-time
    // rejection. Example-based specs covered instances; generated
    // atoms close the class (r13 verdict item 8).
    val atomChar = Gen.frequency(
      (6, Gen.oneOf(('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9'))),
      (3, Gen.oneOf('_', '-', ':', '/', '.')),
      (3, Gen.oneOf('!', ' ', '\n', '\t', '§', '*')))
    val atomGen = for {
      n <- Gen.chooseNum(0, 8)
      cs <- Gen.listOfN(n, atomChar)
      negs <- Gen.chooseNum(0, 2) // 0..2 EXTRA leading bangs on top of
                                  // the test's own "!" → "!x".."!!!x"
    } yield ("!" * negs) + cs.mkString
    val auths = Seq("ops", "a", "B2", "x_y")
    // half the corpus negated (the guard arm), half plain (membership
    // arm); seed a few exact auth hits so both arms exercise both
    // outcomes
    val atoms = (samples(atomGen, 300).flatMap(x => Seq("!" + x, x)) ++
      Seq("!ops", "ops", "!zz", "zz", "!", "", " ", "!ops\n", "!!a")).distinct
    // local full-region mirror: Spark trim strips SPACES only (not \n
    // or \t — String.trim would diverge), label alphabet is the
    // anchored [A-Za-z_\-:/.0-9]+ of VisibilityLabelsValidator
    def sparkTrim(s: String) =
      s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    def labelOk(s: String) = s.nonEmpty && s.forall(c =>
      (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || "_-:/.".contains(c))
    def localVisible(vis: String): Boolean =
      if (vis.isEmpty) true // no visibility expression = public cell
      else {
        val atom = sparkTrim(vis)
        if (atom.isEmpty) false
        else if (atom.startsWith("!")) {
          val neg = sparkTrim(atom.drop(1))
          labelOk(neg) && !auths.contains(neg)
        } else auths.contains(atom)
      }
    val df = atoms.zipWithIndex.map { case (a, i) => (i.toLong, a) }
      .toDF("id", "vis")
    val got = graft.kv.Visibility.applyAuths(df, "vis", auths)
      .select("id").as[Long].collect().toSet
    val want = atoms.zipWithIndex
      .collect { case (a, i) if localVisible(a) => i.toLong }.toSet
    val diff = (got diff want) ++ (want diff got)
    assert(got == want, diff.toSeq.sorted.map(i => atoms(i.toInt))
      .map(a => s"'${a.replace("\n", "\\n").replace("\t", "\\t")}'")
      .mkString(s"${diff.size} atoms disagree: ", ", ", ""))
  }

  test("TimestampsFilter grammar: random epochs parse bare and quoted identically; garbage refuses loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.filters.ParseFilter
    // corpus: each generated epoch plus a +1ms decoy — exact-version
    // selection must never admit the neighbor
    val eps = samples(Gen.chooseNum(0L, 4102444800000L), 40).distinct
    val vc = eps.flatMap(e => Seq(e, e + 1L)).toDF("ms")
      .withColumn("ts", timestamp_millis(col("ms")))
      .withColumn("rowkey", col("ms"))
      .withColumn("family", lit("f")).withColumn("qualifier", lit("q"))
      .withColumn("value", col("ms").cast("string"))
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
    samples(Gen.chooseNum(1, 4), 8).zipWithIndex.foreach { case (k, i) =>
      val list = samples(Gen.oneOf(eps), k + i).distinct
      val want = list.map(_.toString).toSet
      // reference grammar: bare epoch-millis longs
      val bare = ParseFilter.filter(vc,
          s"TimestampsFilter(${list.mkString(", ")})")
        .select("value").as[String].collect().toSet
      assert(bare == want, s"bare list=$list got=$bare")
      // extension grammar: quoted datetimes (UTC session) — identical
      // row set to the bare form on the same instants
      val quoted = ParseFilter.filter(vc,
          list.map(e => s"'${fmt.format(java.time.Instant.ofEpochMilli(e))}'")
            .mkString("TimestampsFilter(", ", ", ")"))
        .select("value").as[String].collect().toSet
      assert(quoted == bare, s"quoted diverges: list=$list got=$quoted")
    }
    // malformed arguments refuse loudly — digit-led garbage fails
    // tsLong's digit check positionally at PARSE time, letter-led
    // garbage fails the quote expectation; neither becomes
    // ts IN (NULL) = a silently empty scan
    val garbageGen = for {
      head <- Gen.oneOf(Gen.chooseNum('0', '9'), Gen.chooseNum('a', 'z'))
      tail <- Gen.listOfN(4, Gen.frequency(
        (2, Gen.chooseNum('0', '9')), (2, Gen.chooseNum('a', 'z'))))
      if tail.exists(c => c >= 'a') || head >= 'a' // never a pure number
    } yield (head +: tail).mkString
    samples(garbageGen.retryUntil(w => !w.forall(_.isDigit)), 20).foreach { w =>
      val e = intercept[Throwable] {
        ParseFilter.filter(vc, s"TimestampsFilter($w)").collect()
      }
      assert(e != null, s"garbage '$w' was silently accepted")
    }
  }

  test("EditDistance (Myers bit-vector) equals the reference two-row DP") {
    import org.apache.spark.unsafe.types.UTF8String
    // trivially-correct reference: the textbook two-row DP (the r6–r15
    // implementation this round's bit-parallel form replaced)
    def refDp(s: String, t: String): Long = {
      if (s.isEmpty) return t.length.toLong
      if (t.isEmpty) return s.length.toLong
      var prev = Array.tabulate(t.length + 1)(identity)
      var cur = new Array[Int](t.length + 1)
      for (i <- 1 to s.length) {
        cur(0) = i
        val sc = s.charAt(i - 1)
        for (j <- 1 to t.length) {
          val sub = prev(j - 1) + (if (sc == t.charAt(j - 1)) 0 else 1)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
        }
        val tmp = prev; prev = cur; cur = tmp
      }
      prev(t.length).toLong
    }
    def got(s: String, t: String): Long =
      graft.text.EditDistance.compute(
        UTF8String.fromString(s), UTF8String.fromString(t))
    // fixed edge cases: empty strings, equal strings, block boundaries
    // (63/64/65/127/128/129 chars exercise the single-word fast path,
    // the word seam, and the partial-last-block score bit), shared
    // prefixes/suffixes (the trimming path), and non-ASCII chars (the
    // open-hash Peq fallback)
    val fixed = Seq(
      ("", ""), ("", "abc"), ("abc", ""), ("abc", "abc"),
      ("a" * 64, "a" * 64), ("a" * 64, "a" * 63 + "b"),
      ("ab" * 40, "ba" * 40), ("a" * 129, "a" * 64 + "b" + "a" * 64),
      ("日本語テキスト", "日本語のテキスト"), ("αβγ" * 30, "αβδ" * 30),
      ("x" + "common" * 20 + "y", "z" + "common" * 20 + "w"))
    fixed.foreach { case (s, t) =>
      assert(got(s, t) == refDp(s, t), s"fixed s='$s' t='$t'")
    }
    // randomized: lengths straddling several 64-char blocks, small
    // alphabet (forces dense match structure), occasional non-ASCII
    val gen = for {
      ls <- Gen.chooseNum(0, 200)
      lt <- Gen.chooseNum(0, 200)
      s <- Gen.listOfN(ls, Gen.frequency(
        (8, Gen.oneOf('a', 'b', 'c', ' ')), (1, Gen.oneOf('é', '中', 'Ω'))))
      t <- Gen.listOfN(lt, Gen.frequency(
        (8, Gen.oneOf('a', 'b', 'c', ' ')), (1, Gen.oneOf('é', '中', 'Ω'))))
    } yield (s.mkString, t.mkString)
    samples(gen, 300).foreach { case (s, t) =>
      assert(got(s, t) == refDp(s, t),
        s"len ${s.length}x${t.length}: got=${got(s, t)} want=${refDp(s, t)} s='$s' t='$t'")
    }
  }

  test("FuzzyMatch equals the mask semantics it encodes (overlap-prefix)") {
    val gen = for {
      pat <- Gen.listOfN(6, Gen.oneOf('a', 'b', '?')).map(_.mkString)
      s <- Gen.listOfN(8, Gen.oneOf('a', 'b', 'c')).map(_.mkString)
      n <- Gen.chooseNum(0, 8)
    } yield (pat, s.take(n))
    samples(gen, 200).foreach { case (pat, s) =>
      val k = math.min(pat.length, s.length)
      val want = (0 until k).forall(i => pat(i) == '?' || pat(i) == s(i))
      assert(FuzzyMatch.matches(s, pat) == want, s"s=$s pat=$pat")
    }
  }

  test("region pruning keeps every file that can hold a match, on random predicates at span edges") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.LongType
    import graft.core.Region
    val rnd = new scala.util.Random(1313L)
    val (k, j) = (AttributeReference("k", LongType)(), AttributeReference("j", LongType)())
    // at most 5 values, at 0 or against either end of Long
    def span(): Region.Span = {
      val width = rnd.nextInt(5)
      val lo = rnd.nextInt(3) match {
        case 0 => Long.MinValue + rnd.nextInt(3)
        case 1 => rnd.nextInt(7) - 3L
        case _ => Long.MaxValue - width - rnd.nextInt(3)
      }
      Region.Span(lo, lo + width)
    }
    def values(s: Region.Span): Seq[Long] = (0L to s.hi - s.lo).map(s.lo + _)
    val comparisons: Seq[(Expression, Expression) => Expression] = Seq(
      EqualTo(_, _), LessThan(_, _), LessThanOrEqual(_, _), GreaterThan(_, _), GreaterThanOrEqual(_, _))
    var (pruned, narrowed) = (0, 0)
    for (_ <- 1 to 3000) {
      val spans = Map(k -> span(), j -> span())
      // a literal at, or one past, an edge of its column's span, or at an end of Long
      def lit(a: AttributeReference): Long = {
        val s = spans(a)
        val near = Seq(s.lo - 1, s.lo, s.lo + 1, s.hi - 1, s.hi, s.hi + 1, Long.MinValue, Long.MaxValue, 0L)
        near(rnd.nextInt(near.size))
      }
      def pred(depth: Int): Expression = {
        val a = if (rnd.nextBoolean()) k else j
        rnd.nextInt(if (depth == 0) 7 else 9) match {
          case 5 => In(a, Seq.fill(rnd.nextInt(4))(Literal(lit(a))))
          case 6 => InSet(a, Set.fill(1 + rnd.nextInt(3))(Long.box(lit(a)): Any))
          case 7 => And(pred(depth - 1), pred(depth - 1))
          case 8 => Or(pred(depth - 1), pred(depth - 1))
          case _ =>
            val c = comparisons(rnd.nextInt(comparisons.size))
            if (rnd.nextBoolean()) c(a, Literal(lit(a))) else c(Literal(lit(a)), a)
        }
      }
      val filters = Seq.fill(1 + rnd.nextInt(3))(pred(2))
      val rows = for (v <- values(spans(k)); w <- values(spans(j))) yield (v, w)
      def holds(p: Expression, row: (Long, Long)): Boolean =
        BindReferences.bindReference(p, Seq(k, j)).eval(InternalRow(row._1, row._2)) == true
      // a span left unknown keeps the file whatever the predicate
      val known = if (rnd.nextInt(5) == 0) spans - j else spans
      val region = Region(new org.apache.hadoop.fs.FileStatus(), rows.size.toLong, known.map { case (a, s) => a.name -> s })
      for (p <- filters if !region.mayHold(p)) {
        pruned += 1
        assert(!rows.exists(holds(p, _)), s"mayHold is false for $p over $known, yet a row matches")
      }
      Region.keyRange(filters, "k").foreach { case (lo, hi) =>
        if (values(spans(k)).exists(v => v < lo || v > hi)) narrowed += 1
        for ((v, w) <- rows if filters.forall(holds(_, (v, w))))
          assert(lo <= v && v <= hi, s"keyRange [$lo, $hi] of $filters excludes k = $v, which matches")
      }
    }
    assert(pruned > 500 && narrowed > 500, s"only $pruned pruned and $narrowed narrowed")
  }
}
