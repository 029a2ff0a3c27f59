package graftbench

import scala.collection.mutable

/** Seeded input generation that needs no Spark: key distributions, the
  * kv op stream and the batch-job parameters. Everything here is a pure
  * function of the seed, so the same seed replays the same inputs. */
object Gen {

  /** Stream seeds: the timed phase and the warmup draw from disjoint
    * derived streams of one run seed. */
  def timedSeed(seed: Long): Long = mix(seed * 2 + 1)
  def warmupSeed(seed: Long): Long = mix(seed * 2 + 2)

  /** SplitMix64 finalizer — a cheap, well-spread 64-bit hash. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  // ---- the kv key space ---------------------------------------------

  /** Orders keys live in [0, KeyUniverse). A key is present in the base
    * table unless `absent(k)` (about 5% of keys); warmup keys are the
    * 1/16 of the universe with `warmupKey(k)`, timed keys the rest. */
  val KeyUniverse = 158000L

  def absent(seed: Long, k: Long): Boolean = java.lang.Math.floorMod(mix(seed ^ mix(k)), 20L) == 0L
  def warmupKey(seed: Long, k: Long): Boolean = java.lang.Math.floorMod(mix(~seed ^ mix(k + 7)), 16L) == 15L

  /** YCSB's zipfian generator (Gray et al., "Quickly generating
    * billion-record synthetic databases") over ranks [0, n), with ranks
    * mapped to items through a seeded permutation so that the hot keys
    * are scattered over the key space rather than clustered at 0. */
  final class Zipf(items: Array[Long], theta: Double, rng: java.util.Random) {
    private val n = items.length
    private val zetan = Zipf.zeta(n, theta)
    private val zeta2 = Zipf.zeta(2, theta)
    private val alpha = 1.0 / (1.0 - theta)
    private val eta = (1 - math.pow(2.0 / n, 1 - theta)) / (1 - zeta2 / zetan)
    def nextRank(): Int = {
      val u = rng.nextDouble()
      val uz = u * zetan
      if (uz < 1.0) 0
      else if (uz < 1.0 + math.pow(0.5, theta)) 1
      else math.min(n - 1, (n * math.pow(eta * u - eta + 1, alpha)).toInt)
    }
    def next(): Long = items(nextRank())
    /** Share of draws that land on the `h` hottest ranks. */
    def headShare(h: Int): Double = Zipf.zeta(h, theta) / zetan
  }
  object Zipf {
    def zeta(n: Int, theta: Double): Double = {
      var s = 0.0; var i = 1
      while (i <= n) { s += 1.0 / math.pow(i, theta); i += 1 }
      s
    }
  }

  /** The keys one stream may draw (timed or warmup pool), shuffled by
    * the stream seed into zipfian rank order. */
  def keyPool(dataSeed: Long, warmup: Boolean, streamSeed: Long): Array[Long] = {
    val ks = (0L until KeyUniverse).filter(k => warmupKey(dataSeed, k) == warmup).toArray
    val r = new java.util.Random(streamSeed)
    var i = ks.length - 1
    while (i > 0) { val j = r.nextInt(i + 1); val t = ks(i); ks(i) = ks(j); ks(j) = t; i -= 1 }
    ks
  }

  // ---- the kv op stream ----------------------------------------------

  sealed trait KvOp { def cls: String }
  final case class Get(key: Long) extends KvOp { def cls = "get" }
  final case class MultiGet(keys: Seq[Long]) extends KvOp { def cls = "multiget" }
  final case class BulkGet(keys: Seq[Long]) extends KvOp { def cls = "bulkget" }
  final case class RangeScan(start: Long, stop: Long) extends KvOp { def cls = "range" }
  final case class SmallScan(start: Long, limit: Int) extends KvOp { def cls = "small" }
  final case class FilterScan(filter: String) extends KvOp { def cls = "filter" }
  /** One 100-key mutation batch. `puts` carries (key, row-payload seed);
    * `dels` the keys to delete; `kind` names the Mutations call. */
  final case class Write(kind: String, puts: Seq[Long], dels: Seq[Long],
                         payloadSeed: Long) extends KvOp { def cls = "write" }

  val Classes = Seq("get", "multiget", "bulkget", "range", "small", "filter", "write")
  val WriteKinds = Seq("put", "checkAndPut", "deleteRows", "checkAndDelete", "mutateRow")

  /** One block of 40 ops holds the mix exactly (45% get, 15% multiGet,
    * 5% bulk multiGet, 15% range, 5% small, 5% filter, 10% write); the
    * block's order is shuffled by the stream. A pass of kv_mixed is one
    * block. */
  val BlockMix: Seq[(String, Int)] = Seq("get" -> 18, "multiget" -> 6, "bulkget" -> 2,
    "range" -> 6, "small" -> 2, "filter" -> 2, "write" -> 4)
  val BlockSize: Int = BlockMix.map(_._2).sum

  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val SegmentSubstrings = Seq("auto", "build", "furn", "house", "mach", "ing")
  val NCustomers = 15000

  /** An endless op stream: blocks of [[BlockMix]], keys zipfian over the
    * stream's key pool. Write kinds cycle through every Mutations call
    * from `firstWrite`: the warmup block's writes start at put and the
    * timed stream at the next kind, so five timed writes commit every kind. */
  final class OpStream(dataSeed: Long, streamSeed: Long, warmup: Boolean, firstWrite: Int = 0) {
    private val rng = new java.util.Random(streamSeed)
    val zipf = new Zipf(keyPool(dataSeed, warmup, streamSeed), 0.99, rng)
    private var pending = List.empty[KvOp]
    private var writeNo = firstWrite

    private def distinctKeys(n: Int): Seq[Long] = {
      val s = mutable.LinkedHashSet.empty[Long]
      while (s.size < n) s += zipf.next()
      s.toSeq
    }

    private def filterString(): String = {
      def prefix() = (100 + rng.nextInt(900)).toString
      def seg() = Segments(rng.nextInt(Segments.size))
      rng.nextInt(5) match {
        case 0 => s"PrefixFilter('${prefix()}')"
        case 1 => s"PrefixFilter('${prefix()}') AND ValueFilter(=, 'binary:${seg()}')"
        case 2 => s"PrefixFilter('${prefix()}') AND (ValueFilter(=, 'substring:" +
          s"${SegmentSubstrings(rng.nextInt(SegmentSubstrings.size))}') OR " +
          "QualifierFilter(>=, 'binary:c_nat'))"
        case 3 => s"(PrefixFilter('${prefix()}') OR PrefixFilter('${prefix()}')) AND " +
          "QualifierFilter(=, 'binary:c_name')"
        case _ => s"PrefixFilter('${prefix().take(2)}') AND QualifierFilter(=, " +
          s"'binary:c_mktsegment') AND ValueFilter(=, 'binary:${seg()}')"
      }
    }

    private def make(cls: String): KvOp = cls match {
      case "get" => Get(zipf.next())
      case "multiget" => MultiGet(distinctKeys(10))
      case "bulkget" => BulkGet(distinctKeys(2000))
      case "range" =>
        val s = zipf.next(); RangeScan(s, s + 900 + rng.nextInt(200))
      case "small" => SmallScan(zipf.next(), 20 + rng.nextInt(80))
      case "filter" => FilterScan(filterString())
      case "write" =>
        val kind = WriteKinds(writeNo % WriteKinds.size); writeNo += 1
        val keys = distinctKeys(100)
        val (puts, dels) = kind match {
          case "put" | "checkAndPut" => (keys, Nil)
          case "deleteRows" | "checkAndDelete" => (Nil, keys)
          case _ => keys.splitAt(50)
        }
        Write(kind, puts, dels, rng.nextLong())
    }

    def nextBlock(): Seq[KvOp] = {
      val classes = BlockMix.flatMap { case (c, n) => Seq.fill(n)(c) }.toArray
      var i = classes.length - 1
      while (i > 0) { val j = rng.nextInt(i + 1); val t = classes(i); classes(i) = classes(j); classes(j) = t; i -= 1 }
      classes.toSeq.map(make)
    }

    def next(): KvOp = {
      if (pending.isEmpty) pending = nextBlock().toList
      val op = pending.head; pending = pending.tail; op
    }
  }

  /** The payload of one put row, derived from (payload seed, key) so the
    * model and the put batch agree without shipping rows around. */
  val Statuses = Seq("O", "F", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  final case class OrderRow(key: Long, cust: Long, status: String, price: Double,
                            dateMicros: Long, priority: String)
  def putRow(payloadSeed: Long, key: Long): OrderRow = {
    val h = mix(payloadSeed ^ mix(key))
    def f(salt: Int, m: Long) = java.lang.Math.floorMod(mix(h + salt), m)
    OrderRow(key, f(1, NCustomers), Statuses(f(2, 3).toInt), f(3, 50000000L) / 100.0,
      (694224000L + f(4, 2557) * 86400L) * 1000000L, Priorities(f(5, 5).toInt))
  }

  // ---- batch-job parameters ------------------------------------------

  /** Seeded knobs for one pass of batch_analytics. The
    * timed passes all use one parameter set, so digests must agree
    * across passes; the warmup pass uses another. The seed picks window
    * offsets, event types, terms, query vectors and thresholds; knobs that
    * set how much work a job does (columns, window widths, k, iterations)
    * are fixed so that the cost of a pass does not depend on the seed. */
  final case class BatchParams(
    aggCol: String, weightCol: String, shipLo: Long, shipDays: Int,
    groupKeys: Seq[String], eventType: String, tsLoDay: Int, tsDays: Int,
    maxVersions: Int, copyLoDay: Int, syncBucket: Long, mutateMod: Int,
    tfidfK: Int, minhashThreshold: Double, minQuality: Double, kmeansK: Int,
    ivfQueries: Seq[Long], ivfK: Int)

  def batchParams(streamSeed: Long): BatchParams = {
    val r = new java.util.Random(streamSeed)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    val lo = 694224000L + r.nextInt(2557 - 900) * 86400L // a 900-day window inside 1992-1998
    BatchParams(
      aggCol = "l_extendedprice",
      weightCol = "l_quantity",
      shipLo = lo, shipDays = 900,
      groupKeys = Seq("l_returnflag", "l_linestatus"),
      eventType = pick(Seq("click", "view", "purchase", "signup", "error")),
      tsLoDay = r.nextInt(20), tsDays = 7,
      maxVersions = 2,
      copyLoDay = r.nextInt(20),
      syncBucket = pick(Seq(500L, 1000L, 2000L)),
      mutateMod = 300 + r.nextInt(400),
      tfidfK = 3,
      minhashThreshold = pick(Seq(0.5, 0.6, 0.7)),
      minQuality = pick(Seq(0.2, 0.3, 0.4)),
      kmeansK = 10,
      ivfQueries = Seq.fill(10)(r.nextInt(Data.NVectors).toLong).distinct,
      ivfK = 5)
  }
}
