package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Builder-side sf1 scale spike (the r6 methodology, now a committed
  * tool): synthesize a 10× corpus from sf0.1 and time named queries
  * against it, printing per-query seconds and the ratio to a supplied
  * sf0.1 time when given. A ratio ≤ 10 for 10× data is at-or-below
  * linear; anything materially above flags a superlinear path (this is
  * how the r6 spike caught IVF's fixed-cell-count quadratic).
  *
  * Synthesis preserves LINEAR scaling of the near-dup structure:
  * - documents: 10 copies, copy c > 0 word-remapped (`w` → `w§c`) so
  *   copies don't form cross-copy near-dup cliques; doc_id offset per
  *   copy. Vocabulary grows 10× — realistic for vocab/top-k paths.
  * - embeddings: 10 copies, copy c > 0 element-wise multiplied by a
  *   deterministic ±1 mask per (copy, dim) — decorrelates cross-copy
  *   cosines; vec_id offset per copy.
  * - relational tables (orders/lineitem/events/customer/part/
  *   supplier): 10 copies with every ENTITY key offset per copy —
  *   10× the customers/users/orders with the per-entity history of
  *   the source, which is how a corpus actually grows 10×. FK edges
  *   (orders↔lineitem↔part/supplier, orders↔customer, events↔user)
  *   stay intact within each copy because both sides of every edge
  *   shift by the same offset. Group-count-scaling queries (per-user
  *   windows, per-order fanouts) therefore scale by partition COUNT,
  *   not partition size — the cluster-shaped growth. Dimension tables
  *   (region/nation) stay fixed like real dimensions.
  *
  * Usage: runMain graft.ScaleSpike <srcSfDir> <spikeDir> <q1,q2,...>
  *          [copies] [tablesCsv]
  * `copies` (default 10) sets the multiplier — 100 from sf0.1 builds
  * the sf10 corpus (the 100 TB claim's next decade, r12 verdict item
  * 3). `tablesCsv` (default all) restricts synthesis to the tables
  * the timed queries actually read, so a documents/embeddings spike
  * doesn't pay a 100× lineitem build it never scans.
  * Env: SPARK_GRAFT_CPUS (default 32).
  */
object ScaleSpike {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(Session.cpus(32))
    try run(spark, args) finally spark.stop()
  }

  /** The synthesis + timing body, session-injected so specs can drive
    * it on the shared test session (main stops ITS session after). */
  private[graft] def run(spark: SparkSession, args: Array[String]): Unit = {
    val (srcDir, spikeDir, qlist) = (args(0), args(1), args(2))
    val copies = if (args.length > 3) args(3).toInt else 10
    require(copies >= 2 && copies <= 100,
      s"copies=$copies outside [2, 100] — entity-key offsets are sized " +
        "for at most 100 copies (off(99) ≈ 1e10 keeps Knuth-hash and " +
        "div-batch arithmetic exact)")
    val onlyTables: Option[Set[String]] =
      if (args.length > 4) Some(args(4).split(",").map(_.trim).toSet)
      else None

    val out = new java.io.File(spikeDir)
    out.mkdirs()
    // per-table guard (not one marker for the whole dir): a spike dir
    // from an earlier tool version holds only documents/embeddings and
    // must gain the relational tables without re-paying those two
    def stampOk(tgt: java.io.File): Boolean = {
      val stamp = new java.io.File(tgt, "_SPIKE_COPIES")
      stamp.exists() &&
        scala.util.Try(new String(java.nio.file.Files.readAllBytes(
          stamp.toPath)).trim.toInt == copies).getOrElse(false)
    }
    def deleteRecursively(f: java.io.File): Unit = {
      // listFiles() returns NULL (not empty) on an I/O error or a
      // concurrent-deletion race — report the path we could not clear
      // instead of NPE-ing mid-cleanup (r14 advice)
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .foreach(deleteRecursively)
      if (!f.delete() && f.exists())
        System.err.println(s"[spike] WARN could not delete $f — " +
          "stale-table cleanup incomplete; clear it manually")
    }
    def spikeTable(name: String)(mkCopy: (DataFrame, Int) => DataFrame): Unit = {
      val tgt = new java.io.File(out, s"$name.parquet")
      if (onlyTables.exists(!_.contains(name))) {
        // filtered tables stay ABSENT, not merely unrefreshed: a dir
        // left over from a run at a DIFFERENT multiplier (or killed
        // mid-write) is PRESENT with wrong-sized data, so a later
        // timed query touching it silently reads the wrong corpus —
        // the loud-on-missing-path guarantee only held for fresh dirs
        // (r13 advice). Delete the stale dir so that query fails
        // loudly on the missing path instead.
        if (tgt.exists() &&
            (!new java.io.File(tgt, "_SUCCESS").exists() || !stampOk(tgt))) {
          deleteRecursively(tgt)
          System.err.println(s"[spike] deleted stale $name " +
            s"(stamp != $copies copies or uncommitted write); filtered " +
            "out of this run, so it stays absent rather than wrong-sized")
        }
        return
      }
      // trust the table only if its write COMMITTED (_SUCCESS) AND was
      // built at THIS copies multiplier (_SPIKE_COPIES stamp, r13
      // review): a run killed mid-write leaves a partial part-file
      // set, and a dir built at a DIFFERENT multiplier (say 10×
      // reused by a 100× run) would time a wrong-sized corpus against
      // the wrong linear bar — both report misleadingly sub-linear
      // ratios with no sign of the corruption. A missing stamp (a
      // pre-r13 spike dir) or a mismatch rebuilds.
      if (!new java.io.File(tgt, "_SUCCESS").exists() || !stampOk(tgt)) {
        val src =
          if (name == "events") graft.core.Tables.load(spark, srcDir, name)
          else spark.read.parquet(s"$srcDir/$name.parquet")
        (0 until copies).map(c => if (c == 0) src else mkCopy(src, c))
          .reduce(_ unionByName _)
          .repartition(32).write.mode("overwrite").parquet(tgt.getPath)
        // stamp AFTER the committed write: mode(overwrite) clears the
        // dir, so a surviving stamp always describes the current data
        java.nio.file.Files.write(
          new java.io.File(tgt, "_SPIKE_COPIES").toPath,
          copies.toString.getBytes("UTF-8"))
        System.err.println(s"[spike] synthesized ${copies}x $name")
      }
    }
    // entity-key offsets: big enough that copies never collide, small
    // enough that key arithmetic (div-batching, Knuth hashes) stays
    // exact long math
    def off(c: Int): Long = c * 100000000L

    spikeTable("documents") { (docs, c) =>
      docs.select(
        (col("doc_id") + c * 10000000L).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          w => concat(w, lit(s"§$c"))), " ").as("text"),
        col("lang"), col("source"),
        // n_chars tracks the remapped text: each word grew by "§" +
        // the copy index's digits (2 chars for c < 10, 3 for c ≥ 10 —
        // the old constant 2 under-counted multi-digit copies)
        (col("n_chars") +
          size(split(col("text"), " ")) * (1 + c.toString.length))
          .as("n_chars"))
    }
    spikeTable("embeddings") { (emb, c) =>
      emb.select(
        (col("vec_id") + c * 10000000L).as("vec_id"),
        // sign mask from hash(dim, copy): copies sharing a parity
        // pattern (a bare (i+c)%2 mask) would be bit-identical
        // cross-copy — hash-derived signs decorrelate every pair
        expr(s"transform(embedding, (v, i) -> CAST(v * (1 - 2 * (abs(hash(i, $c)) % 2)) AS FLOAT))")
          .as("embedding"),
        col("label"))
    }
    spikeTable("orders") { (o, c) =>
      o.withColumn("o_orderkey", col("o_orderkey") + off(c))
        .withColumn("o_custkey", col("o_custkey") + off(c))
    }
    spikeTable("lineitem") { (l, c) =>
      l.withColumn("l_orderkey", col("l_orderkey") + off(c))
        .withColumn("l_partkey", col("l_partkey") + off(c))
        .withColumn("l_suppkey", col("l_suppkey") + off(c))
    }
    spikeTable("events") { (e, c) =>
      e.withColumn("event_id", col("event_id") + off(c))
        .withColumn("user_id", col("user_id") + off(c))
    }
    spikeTable("customer") { (cu, c) =>
      cu.withColumn("c_custkey", col("c_custkey") + off(c))
    }
    spikeTable("part") { (p, c) =>
      p.withColumn("p_partkey", col("p_partkey") + off(c))
    }
    spikeTable("supplier") { (su, c) =>
      su.withColumn("s_suppkey", col("s_suppkey") + off(c))
    }
    // dimension tables: reuse the source files (copy). Same resume
    // discipline as spikeTable: a dir is trusted only once its copy
    // COMMITTED (_SUCCESS last — copied after every part file, or
    // created when the source has none), else a run killed mid-copy
    // leaves a truncated dimension that reports misleadingly
    // sub-linear ratios with no sign of corruption. Flat files commit
    // via copy-to-tmp + atomic rename.
    // spike-ELIGIBLE tables excluded by the tablesCsv filter must stay
    // ABSENT from the spike dir, not be copied at 1×: a 1×-copied
    // table carries _SUCCESS, so a later unfiltered run's spikeTable
    // guard would trust it as spiked and time queries against a
    // 1/copies-sized corpus — the misleading-sublinear corruption the
    // guards exist to prevent. A query that needs an excluded table
    // fails loudly on the missing path instead.
    val spikeEligible = Set("documents", "embeddings", "orders",
      "lineitem", "events", "customer", "part", "supplier")
    for (f <- new java.io.File(srcDir).listFiles()
         if f.getName.endsWith(".parquet")
         if !(spikeEligible.contains(f.getName.stripSuffix(".parquet")) &&
           onlyTables.exists(!_.contains(f.getName.stripSuffix(".parquet"))))) {
      val tgt = new java.io.File(out, f.getName)
      if (f.isDirectory) {
        if (!new java.io.File(tgt, "_SUCCESS").exists()) {
          if (tgt.exists()) { // partial earlier copy: start clean
            tgt.listFiles().foreach(_.delete()); tgt.delete()
          }
          tgt.mkdirs()
          val (marker, parts) = f.listFiles().partition(_.getName == "_SUCCESS")
          // flat layout only: Files.copy of a SUBDIRECTORY creates an
          // empty dir without error, which would then be committed by
          // the _SUCCESS stamp below and trusted forever — refuse a
          // nested/partitioned dim layout loudly instead
          parts.foreach { p =>
            require(p.isFile, s"spike dim copy: nested entry $p — " +
              "recurse support needed for partitioned dim layouts")
            java.nio.file.Files.copy(
              p.toPath, new java.io.File(tgt, p.getName).toPath)
          }
          val m = new java.io.File(tgt, "_SUCCESS")
          if (marker.nonEmpty)
            java.nio.file.Files.copy(marker.head.toPath, m.toPath)
          else m.createNewFile()
        }
      } else if (!tgt.exists()) {
        val tmp = new java.io.File(out, f.getName + "._tmp")
        java.nio.file.Files.copy(f.toPath, tmp.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        java.nio.file.Files.move(tmp.toPath, tgt.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
    }

    val names = qlist.split(",").map(_.trim).filter(_.nonEmpty)
    names.foreach { n =>
      graft.pipeline.PipelineQueries.resetShared()
      val t0 = System.nanoTime()
      // same action as Bench, CONSTRUCTION INCLUDED: several closures
      // do O(N) eager driver-side setup (the graft.core.Once builds:
      // ensureBucketed writes, Indexes.ensure dirs and snapshot
      // ingests) — building the frame outside the
      // window would hide a superlinear regression living in setup
      // from the exact tool built to catch superlinear scaling. The
      // noop write is Bench's action: full materialization, so a
      // count()-pruned plan can't report as sublinear.
      Bench.materialize(SparkEntry.benchQueries(n)(spark, spikeDir))
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[spike] $n%-24s ${sec}%8.2f s")
    }
  }
}
