package graft

import org.apache.spark.sql.SparkSession

/** The one local-session factory: every main (Bench, Verify, Probe,
  * ScaleSpike) and the spec trait build their session here, so a
  * session knob changes in one place and every entry point runs the
  * same shape. */
object Session {

  /** A main's core count: `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.trim.toInt)

  /** `local[cpus]`, shuffle partitions = cpus, UTC, UI off, codegen
    * cache sized to the query surface, [[GraftExtensions]] installed,
    * plus the `SPARK_GRAFT_CONF` extras.
    *
    * The extension puts graft's SQL functions in the session and binds
    * filter comparison constants as codegen parameters
    * ([[graft.core.ParamLits]]), so kv reads no longer churn the codegen
    * cache: a Get, range or multi-get with a new key reuses the class
    * compiled for the previous one.
    *
    * Codegen cache (r17): the default 100 entries thrash under 314
    * distinct queries (~5 codegen'd stages each), so EVERY bench pass
    * recompiled virtually every stage — janino frames dominated driver
    * stack samples and a 63-query A/B measured ~1.8x end-to-end
    * (p1/p2/p3 45-52/42-50/42-53 s stock vs 25.2/25.0/23.0 s sized,
    * quiet windows). Scale-independent: this is driver-JVM metadata
    * (the cache holds compiled classes, ~KBs each), and any
    * long-running service with a wide query surface wants it sized to
    * that surface, not to the 100-entry default.
    *
    * `SPARK_GRAFT_CONF=k=v;k2=v2` — extra session confs, an experiment
    * aid (e.g. codegen knobs for the in-suite-amplification probes);
    * round records never set it, so they run stock. Malformed
    * entries fail loudly — a typo'd knob silently ignored would make
    * an experiment "measure" the stock config. LIMITATION (r14
    * advice): ';' is the entry separator with no escape, so a conf
    * VALUE containing a semicolon (legal in e.g. extraJavaOptions)
    * cannot be injected here — the truncated tail entry then fails
    * the k=v require loudly rather than half-applying. */
  def local(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .withExtensions(new GraftExtensions)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.nonEmpty)
      .foreach { kv =>
        val i = kv.indexOf('=')
        require(i > 0, s"SPARK_GRAFT_CONF entry '$kv' is not k=v")
        builder.config(kv.take(i), kv.drop(i + 1))
      })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
