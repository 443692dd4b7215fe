package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TemporalJoin

/** Point-in-time operators over the `events` stream table: as-of join
  * and interval (range) join — feature-engineering staples (latest state
  * at event time, activity inside a sliding window) that Spark has no
  * built-in operator for. See operators.TemporalJoin for the scale
  * design; these entries pin the semantics against DuckDB's native
  * ASOF JOIN and inequality-join executors.
  *
  * Determinism: (user_id, ts) is unique per event type in the synthetic
  * data (asserted in data checks), so latest-preceding lookups are
  * well-defined; output timestamps are formatted to strings at
  * microsecond precision (Spark truncates the ns source to µs; DuckDB
  * keeps ns, so the oracle truncates with epoch_us arithmetic).
  */
object TemporalQueries {

  /** For every purchase event, the user's latest click at-or-before the
    * purchase (ASOF semantics), with its value; null when the purchase
    * precedes every click. */
  val q49 = Q(
    "q49_asof_join",
    (s, d) => {
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("value").as("click_value"))
      TemporalJoin.asOf(purchases, clicks, "user_id",
          leftTime = "ts", rightTime = "click_ts",
          rightCols = Seq("click_ts", "click_value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("last_click_ts"),
          // raw passthrough: an untouched double is bit-identical in both
          // engines; ROUND would reintroduce engine-specific rounding
          col("click_value"))
        .orderBy("event_id")
    },
    Some("""
      WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      c AS (SELECT user_id, ts AS click_ts, value AS click_value
            FROM events WHERE event_type = 'click')
      SELECT p.event_id, p.user_id,
             strftime(make_timestamp(epoch_us(p.ts)), '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts,
             strftime(make_timestamp(epoch_us(c.click_ts)), '%Y-%m-%d %H:%M:%S.%f') AS last_click_ts,
             c.click_value
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts >= c.click_ts
      ORDER BY event_id"""))

  /** Per purchase event: how many clicks the same user made in the 15
    * minutes before it (clicks in [ts - 15min, ts), zero-extended) — the
    * bucketized interval join (operators.TemporalJoin.intervalJoin)
    * aggregated per left row. */
  val q50 = Q(
    "q50_interval_join",
    (s, d) => {
      val Min15 = 15L * 60 * 1000 * 1000
      val ev = Tables.events(s, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      val pairs = TemporalJoin.intervalJoin(purchases, clicks, "user_id",
        leftTime = "ts", rightTime = "click_ts",
        lowerMicros = -Min15, upperMicros = 0L)
      val counts = pairs.groupBy("event_id")
        .agg(count(lit(1)).as("n_recent_clicks"))
      purchases
        .join(counts, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"),
          coalesce(col("n_recent_clicks"), lit(0L)).as("n_recent_clicks"))
        .orderBy("event_id")
    },
    Some("""
      WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      c AS (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click')
      SELECT p.event_id, p.user_id,
             CAST(COUNT(c.click_ts) AS BIGINT) AS n_recent_clicks
      FROM p LEFT JOIN c
        ON p.user_id = c.user_id
       AND c.click_ts >= p.ts - INTERVAL 15 MINUTE
       AND c.click_ts < p.ts
      GROUP BY p.event_id, p.user_id
      ORDER BY event_id"""))

  /** Batch sessionization: per-user sessions split at >30min event-time
    * gaps — lag to flag session starts, running sum of flags for the
    * session index, then one aggregate per session. A gap equal to the
    * limit does not split (`>`, not `>=`). Durations are exact integer
    * µs differences divided once. */
  val q62 = Q(
    "q62_sessionize",
    (s, d) => {
      val gapUs = 30L * 60 * 1000 * 1000
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      val run = Window.partitionBy("user_id").orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("tus"), col("value"))
        .withColumn("prev", lag(col("tus"), 1).over(w))
        .withColumn("new_s",
          when(col("prev").isNull || col("tus") - col("prev") > gapUs, 1L)
            .otherwise(0L))
        .withColumn("session_idx", sum("new_s").over(run))
        .groupBy("user_id", "session_idx")
        .agg(
          count(lit(1)).as("n_events"),
          ((max("tus") - min("tus")).cast("double") / lit(1e6)).as("duration_sec"),
          sum(col("value").cast("double")).as("total_value"))
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("duration_sec"), round(col("total_value"), 4).as("total_value"))
        .orderBy("user_id", "session_idx")
    },
    Some("""
      WITH o AS (SELECT user_id, event_id, epoch_us(ts) AS tus, value FROM events),
      g AS (SELECT user_id, event_id, tus, value,
                   CASE WHEN LAG(tus) OVER w IS NULL
                          OR tus - LAG(tus) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
            FROM o WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
      s AS (SELECT user_id, event_id, tus, value,
                   CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
            FROM g)
      SELECT user_id, session_idx, COUNT(*) AS n_events,
             CAST(MAX(tus) - MIN(tus) AS DOUBLE) / 1e6 AS duration_sec,
             ROUND(SUM(value), 4) AS total_value
      FROM s GROUP BY user_id, session_idx
      ORDER BY user_id, session_idx"""))

  /** Event-time disorder profile per event type: fraction of events
    * arriving behind the running event-time max (in event_id arrival
    * order) and the p95/max lateness — the measurement that SETS a
    * streaming watermark's lateness budget instead of guessing it
    * (`withWatermark("ts", lateness)` should cover ~p95-p99 of observed
    * disorder). All arithmetic is exact integer µs until the final
    * division; percentile == quantile_cont (both interpolate, q56
    * precedent). The per-type window mirrors production, where arrival
    * order is per ingest shard — the partition key just widens to
    * (type, shard). */
  val q148 = Q(
    "q148_disorder_profile",
    (s, d) => {
      val w = Window.partitionBy("event_type").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("tus"))
        .withColumn("delay_us", max("tus").over(w) - col("tus"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          count(when(col("delay_us") > 0, 1)).as("n_out_of_order"),
          round(count(when(col("delay_us") > 0, 1)).cast("double") / count(lit(1)), 4)
            .as("ooo_frac"),
          round(expr("percentile(delay_us, 0.95)") / 1000000.0, 4).as("p95_lateness_sec"),
          round(max("delay_us") / 1000000.0, 4).as("max_lateness_sec"))
        .orderBy("event_type")
    },
    Some("""
      WITH o AS (SELECT event_type, event_id, epoch_us(ts) AS tus FROM events),
      r AS (SELECT event_type, tus,
                   MAX(tus) OVER (PARTITION BY event_type ORDER BY event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - tus AS delay_us
            FROM o)
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(CASE WHEN delay_us > 0 THEN 1 END) AS BIGINT) AS n_out_of_order,
             ROUND(CAST(COUNT(CASE WHEN delay_us > 0 THEN 1 END) AS DOUBLE) / COUNT(*), 4) AS ooo_frac,
             ROUND(quantile_cont(delay_us, 0.95) / 1000000.0, 4) AS p95_lateness_sec,
             ROUND(MAX(delay_us) / 1000000.0, 4) AS max_lateness_sec
      FROM r GROUP BY event_type ORDER BY event_type"""))

  def all: Seq[Q] = Seq(q49, q50, q62, q148)
}
