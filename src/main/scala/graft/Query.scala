package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How Verify's dump of a query is checked: against DuckDB running
  * `sql` on the same tables, or by specs alone, for the stated reason
  * (no portable SQL form of the computation). */
sealed trait Check
final case class Oracle(sql: String) extends Check
final case class RowsOnly(reason: String) extends Check

/** One registered query: the correctness-checked `build`, its check,
  * and the bounded-state variant the bench times in its place when the
  * exact form is an oracle-only plan (exact median, exact NDV). Adding
  * or removing a query is one record; every registry view
  * (`SparkEntry.queries` / `benchQueries` / `oracleSql`) projects it. */
final case class Query(name: String,
                       build: (SparkSession, String) => DataFrame,
                       check: Check,
                       bench: Option[(SparkSession, String) => DataFrame] = None)

object Query {
  /** Name-keyed index of `qs`; a repeated name fails naming it (a map
    * merge would silently keep only the last record). */
  def index(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    require(dups.isEmpty, s"duplicate query name${if (dups.size == 1) "" else "s"}: " +
      dups.toSeq.sorted.mkString(", "))
    qs.map(q => q.name -> q).toMap
  }
}
