package graft
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [query...]
  * With no names, dumps every query and every oracle (the correctness
  * gate's contract). With names, dumps only those queries and their oracle
  * entries — fast oracle-parity iteration via tools/check.py.
  * Env: SPARK_GRAFT_CPUS (default 4). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "Verify: <sfDir> <outDir> [query...]")
    val sfDir = args(0); val outDir = args(1)
    val (qs, oracles) =
      if (args.length == 2) (SparkEntry.queries.toSeq, SparkEntry.oracleSql)
      else {
        val sel = SparkEntry.select(SparkEntry.queries, args.drop(2).toSeq, "Verify")
        val names = sel.map(_._1).toSet
        (sel, SparkEntry.oracleSql.filter(kv => names(kv._1)))
      }
    val spark = Session.local(Session.cpus(4))
    // clear stale results first: a query that fails this run must not
    // inherit a previous run's parquet and pass by accident
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmrf)
      f.delete()
    }
    val out = new java.io.File(outDir)
    if (out.exists()) rmrf(out)
    out.mkdirs()
    var failed = 0
    qs.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[verify] $failed queries failed")
      sys.exit(1)
    }
  }

  /** JSON string escape: backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in builder-authored SQL would otherwise
    * make the driver's json.load fail and silently zero the round's
    * correctness. ONE copy, shared with Bench's record paths (an
    * escaping fix applied to one writer must not leave the other
    * emitting unparseable JSON). */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
