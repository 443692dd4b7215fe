package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Statistical and advanced-window analytics: distribution moments,
  * least-squares regression aggregates, boolean/conditional aggregates,
  * ordered string aggregation, RANGE-frame event windows, rank
  * distributions, array set algebra, sketch-based heavy hitters, and
  * JSON-map access. These round out the OLAP function surface a warehouse
  * user expects; every aggregate here is a hash-aggregate or window over
  * a bounded partition — nothing driver-side except the heavy-hitter
  * sketch summary (constant-size by construction).
  *
  * Determinism: doubles are rounded to 4dp after aggregation (both
  * engines' one-pass moment kernels agree well past 1e-8 at these
  * magnitudes); every window order ends in a unique key.
  */
object AnalyticsQueries {

  /** Distribution moments per group — stddev/variance/correlation/
    * covariance in ONE hash aggregate pass (all four are algebraic:
    * partial (n, Σx, Σx², Σxy) merge map-side; no sort, no second
    * scan). */
  val q81 = Q(
    "q81_moments",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_extendedprice"), col("l_quantity")), 4).as("corr_pq"),
          round(covar_samp(col("l_extendedprice"), col("l_quantity")), 4).as("cov_pq"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
             ROUND(stddev_samp(l_quantity), 4) AS sd_qty,
             ROUND(var_samp(l_quantity), 4) AS var_qty,
             ROUND(corr(l_extendedprice, l_quantity), 4) AS corr_pq,
             ROUND(covar_samp(l_extendedprice, l_quantity), 4) AS cov_pq
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** In-database least squares (regr_* family): slope/intercept/R² of
    * price on quantity per flag — the "fit a trend line per group"
    * query analysts run constantly; algebraic like q81, so it scales as
    * a single map-combine aggregate. */
  val q82 = Q(
    "q82_regression",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr("regr_slope(l_extendedprice, l_quantity)"), 4).as("slope"),
          round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4).as("icept"),
          round(expr("regr_r2(l_extendedprice, l_quantity)"), 4).as("r2"))
        .orderBy("l_returnflag"),
    Some("""
      SELECT l_returnflag,
             ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
             ROUND(regr_r2(l_extendedprice, l_quantity), 4) AS r2
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** Boolean and conditional aggregates — data-quality assertions as
    * queries (the dbt-test shape: "all balances above floor", "any
    * whale", "how many negative") evaluated per segment in one pass. */
  val q83 = Q(
    "q83_bool_aggs",
    (s, d) =>
      Tables.customer(s, d)
        .groupBy("c_mktsegment")
        .agg(
          expr("bool_and(c_acctbal > -1000)").as("all_above"),
          expr("bool_or(c_acctbal > 9000)").as("any_rich"),
          expr("count_if(c_acctbal < 0)").as("n_neg"))
        .orderBy("c_mktsegment"),
    Some("""
      SELECT c_mktsegment,
             bool_and(c_acctbal > -1000) AS all_above,
             bool_or(c_acctbal > 9000) AS any_rich,
             CAST(count_if(c_acctbal < 0) AS BIGINT) AS n_neg
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  /** Ordered string aggregation (LISTAGG/string_agg): line numbers per
    * order as a comma list. collect_list is order-nondeterministic under
    * parallel merge, so the deterministic recipe is collect → array_sort
    * → join; DuckDB's string_agg takes ORDER BY directly. */
  val q84 = Q(
    "q84_string_agg",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 100)
        .groupBy("l_orderkey")
        .agg(array_join(
          transform(array_sort(collect_list(col("l_linenumber"))),
            x => x.cast("string")), ",").as("lines"))
        .orderBy("l_orderkey"),
    Some("""
      SELECT l_orderkey,
             string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber) AS lines
      FROM lineitem WHERE l_orderkey < 100 GROUP BY l_orderkey ORDER BY l_orderkey"""))

  /** RANGE-frame window over event time: per event, how many of the
    * same user's events fall in the trailing 10 minutes — the
    * value-based frame (peers included by time distance, not row
    * count), computed on integer epoch-µs so frame bounds are exact in
    * both engines. The partition is per-user, so the sort is local to
    * each user's slice — no global sort. */
  val q85 = Q(
    "q85_range_window",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("tus")
        .rangeBetween(-600000000L, 0L)
      Tables.events(s, d)
        .filter(col("user_id") < 20)
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("tus"))
        .withColumn("n_10min", count(lit(1)).over(w))
        .select("event_id", "user_id", "n_10min")
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW) AS n_10min
      FROM events WHERE user_id < 20 ORDER BY event_id"""))

  /** Rank-distribution window functions: percent_rank and cume_dist
    * (frame-free), first/last value (default RANGE frame for first,
    * explicit full frame for last — the classic last_value trap, pinned
    * identically in both engines). Order ends in the unique key. */
  val q86 = Q(
    "q86_rank_distribution",
    (s, d) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy("o_totalprice", "o_orderkey")
      val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .filter(col("o_orderkey") < 500)
        .select(col("o_orderkey"),
          round(percent_rank().over(w), 4).as("pr"),
          round(cume_dist().over(w), 4).as("cd"),
          first(col("o_orderkey")).over(w).as("first_k"),
          last(col("o_orderkey")).over(full).as("last_k"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey,
             ROUND(percent_rank() OVER w, 4) AS pr,
             ROUND(cume_dist() OVER w, 4) AS cd,
             FIRST_VALUE(o_orderkey) OVER w AS first_k,
             LAST_VALUE(o_orderkey) OVER (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_k
      FROM orders WHERE o_orderkey < 500
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      ORDER BY o_orderkey"""))

  /** Array set algebra on token sets: distinct-token intersection and
    * union sizes for document pairs (the building block under Jaccard
    * q38, exposed directly). Counts are set-cardinalities, so the
    * engines' differing element orders don't matter. */
  val q87 = Q(
    "q87_array_setops",
    (s, d) => {
      val t = Tables.documents(s, d)
        .filter(col("doc_id") < 10)
        .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("toks"))
      t.as("a").join(t.as("b"), col("a.doc_id") < col("b.doc_id"))
        .select(
          col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
          size(array_intersect(col("a.toks"), col("b.toks"))).cast("long").as("n_common"),
          size(array_distinct(concat(col("a.toks"), col("b.toks")))).cast("long").as("n_union"))
        .orderBy("id_a", "id_b")
    },
    Some("""
      WITH t AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
                 FROM documents WHERE doc_id < 10)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS n_common,
             CAST(len(list_distinct(list_concat(a.toks, b.toks))) AS BIGINT) AS n_union
      FROM t a JOIN t b ON a.doc_id < b.doc_id ORDER BY id_a, id_b"""))

  /** Sketch-based heavy hitters: tokens above 3% corpus frequency. The
    * exact list comes from a plain aggregate; the `found` flag asserts
    * the single-pass Karp–Shenker sketch (stat.freqItems) surfaced every
    * true heavy hitter — guaranteed by the algorithm (it admits false
    * positives, never false negatives), which is what makes the boolean
    * a deterministic cross-engine contract (q46/q76 pattern). The
    * sketch summary is constant-size (≤ 1/support items) — the only
    * driver-side value in this module. */
  val q88 = Q(
    "q88_heavy_hitters",
    (s, d) => {
      val toks = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
      val total = toks.count()
      val sketch = toks.stat.freqItems(Seq("tok"), 0.03)
        .head().getSeq[String](0).toSet
      toks.groupBy("tok").agg(count(lit(1)).as("n"))
        .filter(col("n") > total * 0.03)
        .select(col("tok"), col("n"),
          col("tok").isin(sketch.toSeq: _*).as("found"))
        .orderBy("tok")
    },
    Some("""
      WITH t AS (SELECT UNNEST(string_split(text, ' ')) AS tok FROM documents),
      c AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok)
      SELECT tok, n, TRUE AS found FROM c
      WHERE n > (SELECT COUNT(*) FROM t) * 0.03 ORDER BY tok"""))

  /** JSON-as-map access: parse the props JSON into a typed MAP and sum a
    * key per event type — the map-type path (from_json → element_at)
    * rather than q18's string-path get_json_object; at scale the parse
    * happens once per row inside codegen, no intermediate blow-up. */
  val q89 = Q(
    "q89_json_map",
    (s, d) =>
      Tables.events(s, d)
        .select(col("event_type"),
          element_at(from_json(col("props"), lit("map<string,int>")), "k").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"))
        .orderBy("event_type"),
    Some("""
      SELECT event_type,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** UNPIVOT / melt: wide metric columns to long (metric, value) form —
    * the inverse of q14/q66's pivot and the standard feed into
    * metric-generic pipelines. Spark's unpivot is a narrow generate
    * (each row fans to 3), no shuffle until the aggregate. Values are
    * unified to decimal before the sum so the long-form total is exact. */
  val q97 = Q(
    "q97_unpivot",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") < 50)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_tax")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          "metric", "val")
        .groupBy("metric")
        .agg(count(lit(1)).as("n"),
          sum(col("val").cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total"))
        .orderBy("metric"),
    Some("""
      WITH u AS (
        SELECT l_orderkey, l_linenumber, metric, val
        FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_tax
              FROM lineitem WHERE l_orderkey < 50)
        UNPIVOT (val FOR metric IN (l_quantity, l_discount, l_tax)))
      SELECT metric, COUNT(*) AS n,
             CAST(SUM(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM u GROUP BY metric ORDER BY metric"""))

  /** try_cast lenient parsing: casts that yield null instead of failing
    * the job — the difference between one malformed row poisoning a
    * 100 TB run and it landing in a quarantine count. n_ok counts
    * successful casts of a present JSON field; n_bad counts rows whose
    * missing-field cast nulled out (all of them). */
  val q98 = Q(
    "q98_try_cast",
    (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type")
        .agg(
          count(expr("try_cast(get_json_object(props, '$.k') AS INT)")).as("n_ok"),
          (count(lit(1)) -
            count(expr("try_cast(get_json_object(props, '$.missing') AS INT)")))
            .as("n_bad"))
        .orderBy("event_type"),
    Some("""
      SELECT event_type,
             CAST(COUNT(TRY_CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS n_ok,
             CAST(COUNT(*) - COUNT(TRY_CAST(json_extract_string(props, '$.missing') AS INT)) AS BIGINT) AS n_bad
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Batch sliding windows: hourly event counts every 30 minutes via
    * Spark's native window(ts, '1 hour', '30 minutes') — each event
    * fans to exactly two epoch-aligned windows (a narrow generate),
    * then one hash aggregate; the oracle mirrors the fan-out with
    * time_bucket. */
  val q99 = Q(
    "q99_sliding_window",
    (s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("n"))
        .orderBy("window_start"),
    Some("""
      WITH e2 AS (SELECT UNNEST([tb, tb - INTERVAL 30 MINUTE]) AS ws
                  FROM (SELECT time_bucket(INTERVAL 30 MINUTE,
                               make_timestamp(epoch_us(ts))) AS tb FROM events))
      SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, COUNT(*) AS n
      FROM e2 GROUP BY ws ORDER BY window_start"""))

  /** Per-user event-transition bigrams (behavioral Markov counts): lag
    * the event type within each user's timeline, count every
    * (prev → next) pair and its distinct-user support. One window shuffle
    * on user_id + one hash aggregate on the 25 transition keys. Ordering
    * parity: Spark's ts is the ns source truncated to µs, so BOTH
    * engines order by (µs, event_id) — ordering DuckDB by its raw ns ts
    * could split sub-µs ties differently. */
  val q113 = Q(
    "q113_event_transitions",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      Tables.events(s, d)
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
        .groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy("prev_type", "next_type")
    },
    Some("""
      WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev_type
        FROM events)
      SELECT prev_type, event_type AS next_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, next_type ORDER BY prev_type, next_type"""))

  /** max_by / arg_max with a DETERMINISTIC composite key: both engines'
    * arg-max picks an arbitrary winner on ties, so the ranking key packs
    * (total in exact cents, inverted user id) into one BIGINT — highest
    * total wins, lowest user id breaks ties, reproducibly everywhere.
    * Domain contract of the packing: user_id < 10^7 and per-group totals
    * under ~$9.2e9 (BIGINT headroom) — both generous for this schema;
    * beyond them, widen the radix or rank on a struct in engines that
    * support struct-ordered arg-max (DuckDB 1.0's does not). */
  val q114 = Q(
    "q114_argmax_top_user",
    (s, d) =>
      Tables.events(s, d)
        .groupBy("event_type", "user_id")
        .agg((sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))) * 100)
          .cast("long").as("tv_cents"))
        .groupBy("event_type")
        .agg(
          max_by(col("user_id"),
            col("tv_cents") * 10000000L + (lit(9999999L) - col("user_id"))).as("top_user"),
          (max(col("tv_cents")).cast("double") / 100).as("top_value"))
        .orderBy("event_type"),
    Some("""
      WITH per AS (SELECT event_type, user_id,
                     CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS tv_cents
                   FROM events GROUP BY 1, 2)
      SELECT event_type,
             arg_max(user_id, tv_cents * 10000000 + (9999999 - user_id)) AS top_user,
             CAST(MAX(tv_cents) AS DOUBLE) / 100 AS top_value
      FROM per GROUP BY event_type ORDER BY event_type"""))

  /** GROUPING() bitmask over CUBE subtotals: unlike q72's COALESCE
    * labels, grouping_id distinguishes a real NULL group value from a
    * subtotal row — the only correct disambiguation once grouping
    * columns are nullable. */
  val q115 = Q(
    "q115_grouping_id",
    (s, d) =>
      Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
          coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
          col("gid"), col("n"))
        .orderBy("gid", "rf", "ls"),
    Some("""
      SELECT COALESCE(l_returnflag, '(all)') AS rf, COALESCE(l_linestatus, '(all)') AS ls,
             CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY gid, rf, ls"""))

  /** regexp_extract_all over the raw props payload: count and sum every
    * embedded number per event type — the scrape-all-matches scalar that
    * q79's single-pattern redaction doesn't exercise. All-integer
    * aggregation; nothing to round. */
  val q118 = Q(
    "q118_extract_all_numbers",
    (s, d) =>
      Tables.events(s, d)
        // extract once per row; two aggregate children each re-running
        // the regex would double the scan CPU on the hot column
        .withColumn("__nums", regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
        .groupBy("event_type")
        .agg(
          sum(size(col("__nums"))).cast("long").as("n_nums"),
          sum(expr(
            "aggregate(transform(__nums, x -> CAST(x AS BIGINT)), 0L, (a, v) -> a + v)"))
            .cast("long").as("sum_nums"))
        .orderBy("event_type"),
    Some("""
      SELECT event_type,
             CAST(SUM(len(regexp_extract_all(props, '[0-9]+'))) AS BIGINT) AS n_nums,
             CAST(SUM(COALESCE(list_sum(list_transform(regexp_extract_all(props, '[0-9]+'),
               x -> CAST(x AS BIGINT))), 0)) AS BIGINT) AS sum_nums
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Strict-order funnel (view → click → purchase on FIRST occurrences):
    * one conditional-min aggregate per user, then three comparisons —
    * no self-joins, no sequence explode; timestamps compared as exact
    * integer microseconds on both engines. */
  val q121 = Q(
    "q121_funnel",
    (s, d) => {
      def firstTs(t: String) =
        min(when(col("event_type") === t, unix_micros(col("ts")))).as(s"t_$t")
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(firstTs("view"), firstTs("click"), firstTs("purchase"))
        .agg(
          count(lit(1)).as("n_users"),
          count(when(col("t_view").isNotNull, 1)).as("viewed"),
          count(when(col("t_view").isNotNull && col("t_click") > col("t_view"), 1))
            .as("then_clicked"),
          count(when(col("t_view").isNotNull && col("t_click") > col("t_view")
            && col("t_purchase") > col("t_click"), 1)).as("then_purchased"))
    },
    Some("""
      WITH stages AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
               MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
               MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
        FROM events GROUP BY user_id)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(COUNT(CASE WHEN t_view IS NOT NULL THEN 1 END) AS BIGINT) AS viewed,
             CAST(COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view THEN 1 END) AS BIGINT) AS then_clicked,
             CAST(COUNT(CASE WHEN t_view IS NOT NULL AND t_click > t_view
                              AND t_purchase > t_click THEN 1 END) AS BIGINT) AS then_purchased
      FROM stages"""))

  /** PageRank (3 iterations, damping 0.85) over the event-type
    * transition graph from q113 — the canonical iterative-computation
    * shape. At 100 TB the heavy part is the EDGE derivation (one
    * window + one aggregate over the fact table); the aggregated
    * transition matrix is |V|²-bounded, so it is collected as driver
    * model state (the k-means-centroid precedent) and the rank
    * iterations run in Scala — one Spark job total instead of a
    * per-iteration broadcast-join lineage. With a node domain too big
    * to collect, the loop would flip back to joins against the
    * aggregated edge frame; nothing below depends on driver-side
    * per-EVENT state. The oracle unrolls the same three iterations as
    * chained CTEs; both engines sum the same ≤|V| IEEE doubles per
    * node, so the 6 dp round is stable. */
  val q133 = Q(
    "q133_pagerank",
    (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val ev = Tables.events(s, d)
      // one distributed pass: per-(src,dst) transition counts PLUS each
      // node's appearance (dst side of the union) so isolated nodes
      // survive into the collected domain
      val edges = ev
        .withColumn("src", lag(col("event_type"), 1).over(w))
        .select(col("src"), col("event_type").as("dst"))
        .groupBy("src", "dst").agg(count(lit(1)).as("c"))
        .collect() // |V|²+|V| rows — model state, not data volume
      val nodes = edges.map(_.getString(1)).distinct
        .sorted(Ordering.comparatorToOrdering(
          java.util.Comparator.nullsFirst(
            java.util.Comparator.naturalOrder[String]())))
      val n = nodes.length
      val wts = { // src -> (dst, c/outdeg), deterministic (src, dst) order
        val real = edges.filter(!_.isNullAt(0))
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .sortBy(t => (t._1, Option(t._2).getOrElse("")))
        val outdeg = real.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
        real.map { case (s0, d0, c) => (s0, d0, c.toDouble / outdeg(s0)) }
      }
      var ranks = nodes.map(v => v -> (1.0 / n)).toMap
      for (_ <- 1 to 3) {
        val acc = scala.collection.mutable.Map.empty[String, Double]
        wts.foreach { case (s0, d0, wt) =>
          acc(d0) = acc.getOrElse(d0, 0.0) + wt * ranks(s0)
        }
        ranks = nodes.map(v => v -> (0.15 / n + 0.85 * acc.getOrElse(v, 0.0))).toMap
      }
      val spark = s
      import spark.implicits._
      nodes.map(v => (v, BigDecimal(ranks(v))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSeq
        .toDF("event_type", "pagerank")
        .orderBy("event_type")
    },
    Some("""
      WITH seq AS (SELECT user_id, event_type AS dst,
                     LAG(event_type) OVER (PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id) AS src
                   FROM events),
      e AS (SELECT src, dst, COUNT(*) AS c FROM seq WHERE src IS NOT NULL GROUP BY 1, 2),
      outdeg AS (SELECT src, SUM(c) AS tot FROM e GROUP BY src),
      w AS (SELECT e.src, e.dst, CAST(e.c AS DOUBLE) / tot AS w
            FROM e JOIN outdeg USING (src)),
      nodes AS (SELECT DISTINCT event_type AS v FROM events),
      nn AS (SELECT COUNT(*) AS n FROM nodes),
      r0 AS (SELECT v, 1.0 / (SELECT n FROM nn) AS r FROM nodes),
      r1 AS (SELECT nd.v, 0.15 / (SELECT n FROM nn) + 0.85 * COALESCE((
               SELECT SUM(w.w * r.r) FROM w JOIN r0 r ON r.v = w.src
               WHERE w.dst = nd.v), 0.0) AS r
             FROM nodes nd),
      r2 AS (SELECT nd.v, 0.15 / (SELECT n FROM nn) + 0.85 * COALESCE((
               SELECT SUM(w.w * r.r) FROM w JOIN r1 r ON r.v = w.src
               WHERE w.dst = nd.v), 0.0) AS r
             FROM nodes nd),
      r3 AS (SELECT nd.v, 0.15 / (SELECT n FROM nn) + 0.85 * COALESCE((
               SELECT SUM(w.w * r.r) FROM w JOIN r2 r ON r.v = w.src
               WHERE w.dst = nd.v), 0.0) AS r
             FROM nodes nd)
      SELECT v AS event_type, ROUND(r, 6) AS pagerank FROM r3 ORDER BY event_type"""))

  /** The Evidence-style query-chain surface routed through the oracle
    * gate: a markdown page whose second query references the first via
    * `${flagged}` (inlined as a derived table by
    * graft.query.QueryChainCompiler, cycle/unknown-ref checks included)
    * — the oracle is the manually-inlined SQL, so the COMPILER's
    * rewrite itself is what gets hash-verified. */
  val q149 = Q(
    "q149_query_chain",
    (s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
      val md =
        """```sql flagged
          |SELECT l_returnflag, l_linestatus,
          |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
          |FROM lineitem GROUP BY l_returnflag, l_linestatus
          |```
          |```sql shares
          |SELECT l_returnflag,
          |       CAST(COUNT(*) AS BIGINT) AS n_status,
          |       ROUND(SUM(qty), 4) AS total_qty
          |FROM ${flagged} GROUP BY l_returnflag ORDER BY l_returnflag
          |```""".stripMargin
      graft.query.QueryChainCompiler.run(s, md)("shares")
        .fold(err => sys.error(err), identity)
    },
    Some("""
      WITH flagged AS (SELECT l_returnflag, l_linestatus,
              CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
            FROM lineitem GROUP BY l_returnflag, l_linestatus)
      SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_status,
             ROUND(SUM(qty), 4) AS total_qty
      FROM flagged GROUP BY l_returnflag ORDER BY l_returnflag"""))

  /** The dbt-style model surface routed through the oracle gate: a
    * two-model DAG (daily rollup → `{{ ref('ord_daily') }}` cumulative
    * window — the reference's cum_txs_per_day shape) built by
    * graft.models.ModelRunner with template resolution and topo
    * ordering; the oracle is the manually-inlined SQL, so the ref
    * rewrite + build order are what gets hash-verified. */
  val q150 = Q(
    "q150_model_dag",
    (s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders")
      val models = Seq(
        graft.models.Model("ord_daily",
          """SELECT date_format(o_orderdate, 'yyyy-MM-dd') AS day,
            |       CAST(COUNT(*) AS BIGINT) AS n_orders,
            |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            |FROM orders GROUP BY 1""".stripMargin),
        graft.models.Model("ord_cum",
          """SELECT day, n_orders,
            |       CAST(SUM(n_orders) OVER (ORDER BY day ASC
            |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_orders,
            |       ROUND(SUM(revenue) OVER (ORDER BY day ASC
            |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_revenue
            |FROM {{ ref('ord_daily') }} ORDER BY day""".stripMargin))
      new graft.models.ModelRunner(s).run(models)("ord_cum")
    },
    Some("""
      WITH ord_daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        FROM orders GROUP BY 1)
      SELECT day, n_orders,
             CAST(SUM(n_orders) OVER (ORDER BY day ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_orders,
             ROUND(SUM(revenue) OVER (ORDER BY day ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_revenue
      FROM ord_daily ORDER BY day"""))

  /** Recency-decayed engagement: per-user Σ value·e^(−0.1·age_days),
    * age anchored at the corpus max timestamp (deterministic "now").
    * The exponential-decay score every freshness-weighted ranking uses —
    * computed in one pass with a 1-row broadcast anchor, no window. Ages
    * are exact integer µs; the only float noise is libm exp's last ulp,
    * absorbed by round-before-rank with a user_id tie-break (the q53
    * device). Top 20. */
  val q169 = Q(
    "q169_decayed_engagement",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("user_id"), col("value"), unix_micros(col("ts")).as("tus"))
      val mx = broadcast(e.agg(max("tus").as("mx")))
      e.crossJoin(mx)
        .select(col("user_id"),
          (col("value") *
            exp(lit(-0.1) * (col("mx") - col("tus")) / lit(86400000000.0))).as("w"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), round(sum("w"), 4).as("decayed"))
        .orderBy(col("decayed").desc, col("user_id"))
        .limit(20)
    },
    Some("""
      WITH e AS (SELECT user_id, value, epoch_us(ts) AS tus FROM events),
      m AS (SELECT MAX(tus) AS mx FROM e),
      w AS (SELECT user_id,
                   value * EXP(-0.1 * (m.mx - tus) / 86400000000.0) AS w
            FROM e, m)
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
             ROUND(SUM(w), 4) AS decayed
      FROM w GROUP BY user_id
      ORDER BY decayed DESC, user_id LIMIT 20"""))

  def all: Seq[Q] = Seq(q81, q82, q83, q84, q85, q86, q87, q88, q89,
    q97, q98, q99, q113, q114, q115, q118, q121, q133, q149, q150, q169)
}
