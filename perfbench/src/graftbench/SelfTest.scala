package graftbench

import scala.collection.mutable

import Gen._

/** Checks of the benchmark itself: the generators are deterministic in
  * the seed and have the promised shape, and the result checks count an
  * injected wrong result. Exits non-zero on the first failed check.
  *
  * Usage: graftbench.SelfTest <tmpDir> */
object SelfTest {
  private var failures = 0
  private def check(ok: Boolean, what: String): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what")
    if (!ok) failures += 1
  }

  def keysOf(op: KvOp): Seq[Long] = op match {
    case Get(k) => Seq(k)
    case MultiGet(ks) => ks
    case BulkGet(ks) => ks
    case RangeScan(a, _) => Seq(a)
    case SmallScan(a, _) => Seq(a)
    case w: Write => w.puts ++ w.dels
    case _: FilterScan => Nil
  }

  def generators(): Unit = {
    def ops(seed: Long, stream: Long, warm: Boolean, n: Int) = {
      val s = new OpStream(seed, stream, warm)
      Seq.fill(n)(s.next())
    }
    val a = ops(7, timedSeed(7), warm = false, 400)
    check(a == ops(7, timedSeed(7), warm = false, 400), "same seed gives the same op sequence")
    check(a != ops(8, timedSeed(8), warm = false, 400), "another seed gives another op sequence")
    check(batchParams(timedSeed(7)) == batchParams(timedSeed(7)) &&
      batchParams(timedSeed(7)) != batchParams(timedSeed(8)), "batch parameters follow the seed")

    val n = 2000
    val mix = ops(3, timedSeed(3), warm = false, n).groupBy(_.cls).map { case (c, xs) => c -> xs.size.toDouble / n }
    val want = BlockMix.map { case (c, k) => c -> k.toDouble / BlockSize }.toMap
    check(want.forall { case (c, w) => math.abs(mix.getOrElse(c, 0.0) - w) < 0.005 },
      s"op mix within 0.5 points of ${want.toSeq.sorted.mkString(" ")}: got ${mix.toSeq.sorted.mkString(" ")}")

    val z = new Zipf((0L until 100000L).toArray, 0.99, new java.util.Random(11))
    val draws = 200000
    val head = Iterator.fill(draws)(z.nextRank()).count(_ < 100).toDouble / draws
    check(math.abs(head - z.headShare(100)) < 0.015,
      f"zipfian head: top-100 share $head%.4f vs analytic ${z.headShare(100)}%.4f")

    val timedKeys = ops(5, timedSeed(5), warm = false, 300).flatMap(keysOf).toSet
    val warmKeys = ops(5, warmupSeed(5), warm = true, 300).flatMap(keysOf).toSet
    check(timedKeys.nonEmpty && warmKeys.nonEmpty && (timedKeys & warmKeys).isEmpty,
      s"warmup keys (${warmKeys.size}) are disjoint from timed keys (${timedKeys.size})")
    val absentShare = timedKeys.count(k => absent(5, k)).toDouble / timedKeys.size
    check(absentShare > 0.02 && absentShare < 0.09, f"about 5%% of drawn keys are absent: $absentShare%.3f")

    val cm = new CellModel(Seq(
      org.apache.spark.sql.Row(123L, "Customer#000000123", 7, 1.0, "BUILDING"),
      org.apache.spark.sql.Row(45L, "Customer#000000045", 3, 2.0, "MACHINERY")))
    check(cm.expected("PrefixFilter('12') AND (ValueFilter(=, 'substring:build') OR " +
      "QualifierFilter(>=, 'binary:c_nat'))").map(_._3).sorted == Seq("c_mktsegment", "c_nationkey"),
      "driver-side filter evaluator")
  }

  /** Real graft calls on a small session: data and digests follow the
    * seed, and a wrong result is counted and named. */
  def withSpark(tmp: String): Unit = {
    val spark = Main.session(2, tmp)
    try {
      val d1 = Digest.compute(Data.documents(spark, 1, 1.0))
      check(d1 == Digest.compute(Data.documents(spark, 1, 1.0)), s"same seed gives the same data digest $d1")
      check(d1 != Digest.compute(Data.documents(spark, 2, 1.0)), "another seed gives other data")

      val res = new Results
      val kv = new KvWorkload(spark, 1, new Tracer(spark, false), res)
      kv.generate(s"$tmp/kv")
      kv.layout(s"$tmp/kv", 1)
      kv.setup()
      val s = new OpStream(1, timedSeed(1), warmup = false)
      val reads = Iterator.continually(s.next()).filter(_.cls != "write").take(6).toSeq
      reads.foreach(kv.run(_, timed = true))
      check(res.failures.isEmpty, s"kv reads agree with the model: ${res.failures.mkString("; ")}")
      val k = s.zipf.next()
      kv.modelForTest.apply(Write("put", Seq(k), Nil, 99L)) // the model now expects a put graft never saw
      kv.run(Get(k), timed = true)
      check(res.failures.size == 1 && res.failures.head._1.startsWith("get#"),
        s"an injected wrong kv result is counted and named: ${res.failures.mkString("; ")}")

      val bres = new Results
      val b = new BatchWorkload(spark, 1, new Tracer(spark, false), bres)
      b.generate(s"$tmp/hb")
      b.layout(s"$tmp/hb", 1)
      val p = batchParams(timedSeed(1))
      val jobs = b.jobs(p).filter(j => Set("agg_minmax", "snapshot_diff").contains(j.name))
      val refs = b.warmupAndReferences(batchParams(warmupSeed(1)), p, 2)
        .filter { case (n, _) => jobs.exists(_.name == n) }
      val expect = mutable.Map.empty[String, Digest]
      jobs.foreach(b.runTimed(_, refs, expect))
      check(bres.failures.isEmpty, s"batch jobs agree with their plain formulations: ${bres.failures.mkString("; ")}")
      val wrong = refs.map { case (n, r) => n -> (if (n == "agg_minmax") r.map(d => d.copy(xor = d.xor ^ 1L)) else r) }
      jobs.foreach(b.runTimed(_, wrong, expect))
      check(bres.failures.map(_._1) == Seq("agg_minmax"),
        s"an injected wrong batch result is counted and named: ${bres.failures.mkString("; ")}")
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    generators()
    withSpark(args(0))
    println(if (failures == 0) "selftest passed" else s"selftest: $failures check(s) failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
