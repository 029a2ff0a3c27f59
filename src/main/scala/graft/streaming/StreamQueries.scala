package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.Tables
import graft.{Oracle, Query}

/** SURVEY §2K — the windowed counter view, batch form (oracle-checked;
  * the streaming path over the same transform is driven by
  * StreamingSpec through a file-source stream). */
object StreamQueries {

  val queries: Seq[Query] = Seq(
    Query("stream_counters", (s, d) =>
      StreamOps.windowedCounters(Tables.load(s, d, "events"))
        .orderBy("window_start", "event_type"),
      Oracle("""SELECT date_trunc('day', ts) AS window_start, event_type,
        |       count(*) AS n_events, round(sum(value), 4) AS sum_v
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin)),
    // gaps-and-islands via the native session_window aggregate — one
    // shuffle on the key; the same construct runs streaming with a
    // watermark (open sessions only in state)
    Query("sessionize", (s, d) =>
      StreamOps.sessionize(Tables.load(s, d, "events"))
        .orderBy("user_id", "session_start"),
      // lag/cumsum islands form of the same sessions: a session breaks
      // where the per-user gap exceeds 1h; start = min ts per island
      Oracle("""WITH lagged AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w > INTERVAL '1 hour' THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |sess AS (
        |  SELECT user_id, ts, value,
        |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM lagged)
        |SELECT user_id, min(ts) AS session_start,
        |       count(*) AS n_events, round(sum(value), 4) AS sum_v
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin)),
    // per-window trending top-3 via the bounded-state heap; the same
    // report runs streaming through streamingTopK (FMGWS state,
    // watermark-evicted) — StreamingSpec proves convergence
    Query("stream_topk", (s, d) =>
      StreamOps.windowedTopK(Tables.load(s, d, "events"), 3)
        .orderBy("window_start", "rank"),
      Oracle("""WITH c AS (SELECT date_trunc('day', ts) AS window_start, event_type,
        |                  count(*) AS n_events
        |           FROM events GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY window_start
        |                 ORDER BY n_events DESC, event_type DESC) AS rank
        |      FROM c)
        |SELECT window_start, rank, event_type, n_events FROM r
        |WHERE rank <= 3 ORDER BY window_start, rank""".stripMargin)),
    // stream-STREAM attribution join: signups matched to purchases in
    // [ts, ts+1h] per user, LEFT OUTER so non-converters keep the
    // denominator; the identical call runs streaming where the time
    // bound + both-side watermarks make the buffered state finite
    Query("stream_join", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.load(s, d, "events")
      StreamOps.conversionJoin(
          ev.where(col("event_type") === "signup"),
          ev.where(col("event_type") === "purchase"))
        .groupBy("user_id")
        .agg(countDistinct("signup_ts").as("n_signups"),
          countDistinct(when(col("purchase_ts").isNotNull, col("signup_ts")))
            .as("n_converted"),
          min(when(col("purchase_ts").isNotNull,
            floor(unix_timestamp(col("purchase_ts")))
              - floor(unix_timestamp(col("signup_ts")))))
            .as("fastest_convert_sec"))
        .orderBy("user_id")
    },
      Oracle("""WITH s AS (SELECT user_id, ts AS signup_ts FROM events
        |           WHERE event_type = 'signup'),
        |p AS (SELECT user_id, ts AS purchase_ts FROM events
        |      WHERE event_type = 'purchase'),
        |j AS (SELECT s.user_id, s.signup_ts, p.purchase_ts
        |      FROM s LEFT JOIN p ON s.user_id = p.user_id
        |        AND p.purchase_ts >= s.signup_ts
        |        AND p.purchase_ts <= s.signup_ts + INTERVAL 1 HOUR)
        |SELECT user_id,
        |  CAST(count(DISTINCT signup_ts) AS BIGINT) AS n_signups,
        |  CAST(count(DISTINCT CASE WHEN purchase_ts IS NOT NULL
        |                           THEN signup_ts END) AS BIGINT) AS n_converted,
        |  min(CASE WHEN purchase_ts IS NOT NULL THEN
        |    CAST(floor(epoch(purchase_ts)) AS BIGINT)
        |      - CAST(floor(epoch(signup_ts)) AS BIGINT) END)
        |    AS fastest_convert_sec
        |FROM j GROUP BY 1 ORDER BY user_id""".stripMargin)),
    // stream-static dimension enrichment (user -> market segment via
    // the customer table, broadcast), facts without a dim row kept as
    // 'unknown' — the left-join discipline that prevents the silent
    // undercount; the identical plan runs streaming per micro-batch
    Query("stream_enrich", (s, d) => {
      val dims = Tables.load(s, d, "customer")
        .select(org.apache.spark.sql.functions.col("c_custkey").as("user_id"),
          org.apache.spark.sql.functions.col("c_mktsegment").as("segment"))
      StreamOps.enrichedCounters(Tables.load(s, d, "events"), dims)
        .orderBy("segment", "event_type")
    },
      Oracle("""SELECT coalesce(c.c_mktsegment, 'unknown') AS segment,
        |       e.event_type,
        |       count(*) AS n_events, round(sum(e.value), 4) AS sum_v
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY segment, event_type""".stripMargin)),
  )

}
