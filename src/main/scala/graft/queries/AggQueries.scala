package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.agg.Metrics
import graft.window.TimeSeries

/** Aggregation + window queries — SURVEY §2.4 A2/A5–A10, §2.5 W1–W5. */
object AggQueries {
  import Common._

  val qs: Map[String, Q] = Map(
    // A2 — grouped counts (ops by type, simulate_app_traffic.py:156-203)
    "count_by_group" -> ((s, d) =>
      Metrics.countByGroup(t(s, d, "lineitem"), Seq("l_returnflag", "l_linestatus"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // A5 — error-ratio gate (maxErrorRatio, docs/03-dse-tooling.md:226-228)
    "error_ratio" -> ((s, d) =>
      Metrics.errorRatio(events(s, d), col("event_type") === "error")),

    // A6 — 5-minute tumbling rate (Prometheus rate(x[5m]) analog)
    "rate_5m" -> ((s, d) =>
      Metrics.rate(events(s, d), "ts", "5 minutes")
        .orderBy(col("win_start"))),

    // A7 — latency percentiles p50/p95/p99 (docs/05-zdm-approach.md:588-597)
    "latency_percentiles" -> ((s, d) =>
      Metrics.latencyPercentiles(events(s, d), "value")),

    // A8 — distinct cardinality (exact; approx_count_distinct is the
    // 100 TB swap-in, exercised in tests)
    "distinct_users" -> ((s, d) =>
      events(s, d).agg(countDistinct(col("user_id")).as("n_users"))),

    // A8 scale path — PERSISTED sketch distinct counting: each day builds
    // a ~KB HLL sketch once (the shard artifact a daily job would write),
    // and any later reader merges years of sketches WITHOUT rescanning
    // events — hll_union_agg is lossless at fixed lgK, so the merged
    // estimate equals the single-pass sketch exactly (spec-pinned). The
    // sketch estimate itself is engine-specific, so the DRIVER-VISIBLE
    // output is the checkable envelope: n_days, the exact distinct, and a
    // sketch_ok tolerance flag (HLL at lgK=14 has ~0.8% stderr; 5% is a
    // deterministic bound — HLL is a deterministic hash sketch). The exact
    // count here is the verification harness, not the scale path; at
    // 100 TB only the daily sketch build + union runs (SketchSpec pins
    // losslessness and the error bound on the raw estimate).
    "distinct_users_sketch" -> ((s, d) => {
      val daily = events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(expr("hll_sketch_agg(user_id, 14)").as("sk"))
      val merged = daily.agg(
        expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"),
        count(lit(1)).as("n_days"))
      val exact = events(s, d).agg(countDistinct(col("user_id")).as("exact_users"))
      merged.crossJoin(broadcast(exact)).select(
        col("n_days"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users")) <=
          col("exact_users") * lit(0.05)).as("sketch_ok"))
    }),

    // ordered funnel view→click→purchase (r12 — the product-analytics
    // report the reference's monitoring aggregates stop short of): a
    // user completes step i when the step's event occurs STRICTLY after
    // their step-(i−1) completion time (first-occurrence ordering).
    // Scale shape: a chain of three conditional-MIN aggregates, each
    // map-side-combined, stitched by user_id equi-joins — deliberately
    // NOT a per-user collect_list + sequence scan: min partials collapse
    // a bot user's 10⁹ events map-side, where an event-list would
    // materialize them in one task. Three event scans is the price; each
    // is narrow (user_id, ts, event_type) and filter-pushed.
    "funnel_steps" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), col("ts"), col("event_type"))
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val t2 = ev.filter(col("event_type") === "click").join(t1, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val t3 = ev.filter(col("event_type") === "purchase").join(t2, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      def c(df: org.apache.spark.sql.DataFrame, step: Int, name: String) =
        df.agg(count(lit(1)).as("n_users"))
          .select(lit(step).as("step"), lit(name).as("step_name"),
            col("n_users"))
      c(t1, 1, "view").unionByName(c(t2, 2, "click"))
        .unionByName(c(t3, 3, "purchase"))
        .orderBy(col("step"))
    }),

    // cohort retention matrix (r12): users cohorted by first-seen day,
    // counted once per (cohort, day_offset) they were active — the
    // engagement report behind every "day-N retention" curve. Scale
    // shape: first-seen is a map-combined MIN agg; the join back is a
    // user_id equi-join; the matrix agg distincts (user, cohort, offset)
    // then counts — both hash aggregates partial-combine, and the output
    // is cohorts × horizon, report-sized by construction.
    "retention_cohorts" -> ((s, d) => {
      val ev = events(s, d).select(col("user_id"), to_date(col("ts")).as("day"))
      val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      ev.join(first, "user_id")
        .select(col("user_id"), col("cohort"),
          datediff(col("day"), col("cohort")).as("day_offset"))
        .distinct()
        .groupBy(col("cohort"), col("day_offset"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("cohort"), col("day_offset"))
    }),

    // heavy hitters via the mergeable Misra–Gries sketch (r12): which keys
    // dominate a column WITHOUT an exchange row per distinct key — each map
    // task keeps ≤k counters and the shuffle carries ≤k rows per task,
    // where the exact groupBy(item).count() form pays one shuffle row per
    // DISTINCT key (the 100 TB wall on user ids / URLs / shingles). The
    // sketch guarantees every item with frequency > n/(k+1) survives with
    // est within n/(k+1) of exact, so the driver-visible output is the
    // envelope: items whose EXACT count clears n/k, their exact counts,
    // and hh_ok (est within n/k). The inner join to the exact pass IS the
    // presence check — a missing guaranteed item shows as a missing row
    // vs the oracle. The exact pass is the verification harness, not the
    // scale path; FreqSketchSpec pins saturation + merge on planted skew.
    "heavy_hitters" -> ((s, d) => {
      val ev = events(s, d).select(col("event_type"))
      val sk = ev.agg(expr("graft_freq(event_type, 16)").as("hh"),
        count(lit(1)).as("n"))
      val exact = ev.groupBy(col("event_type")).agg(count(lit(1)).as("exact_n"))
      sk.select(explode(col("hh")).as("e"), col("n"))
        .select(col("e.item").as("event_type"), col("e.est").as("est"), col("n"))
        .join(exact, "event_type")
        .filter(col("exact_n") > col("n") / lit(16))
        .select(col("event_type"), col("exact_n"),
          (abs(col("est") - col("exact_n")) <= col("n") / lit(16)).as("hh_ok"))
        .orderBy(col("event_type"))
    }),

    // A9 — min/max/sum rollup totals (report tables)
    "rollup_totals" -> ((s, d) =>
      t(s, d, "lineitem").agg(
        count(lit(1)).as("n"),
        Metrics.decSum(col("l_quantity")).cast("double").as("sum_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))),

    // A10 — ROLLUP grouping sets (engine extension)
    "rollup_cube" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus"))).as("gid"))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))),

    // W1 — latest-3 events per user (DESC clustering read pattern,
    // 01-create-schema.cql:52-53). Ordering on epoch-micros + unique id so
    // Spark (µs) and DuckDB (ns) sort identically.
    "window_latest_per_key" -> ((s, d) =>
      TimeSeries.latestPerKey(
          events(s, d),
          Seq("user_id"), Seq(col("ts_us").desc, col("event_id").desc), 3)
        .select(col("user_id"), col("rn"), col("ts_us"), col("event_id"), col("event_type"))
        .orderBy(col("user_id"), col("rn"))),

    // W2 — daily bucketing (activity_date derivation, generate_data.py:143-146)
    "bucket_daily" -> ((s, d) =>
      TimeSeries.bucketDaily(events(s, d), "ts").orderBy(col("day"))),

    // W3 — sliding 5m/1m rate
    "window_sliding_rate" -> ((s, d) =>
      TimeSeries.slidingRate(events(s, d), "ts", "5 minutes", "1 minute")
        .orderBy(col("win_start"))),

    // W4 — running total per customer in order-date order (exact decimal)
    "window_running_total" -> ((s, d) =>
      TimeSeries.runningTotal(t(s, d, "orders"),
          Seq("o_custkey"), Seq(col("o_orderdate"), col("o_orderkey")),
          col("o_totalprice").cast(DecimalType(18, 2)), "running_total")
        .select(col("o_custkey"), col("o_orderkey"),
          col("running_total").cast("double").as("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))),

    // W5 — 30-minute-gap sessions per user
    "window_session" -> ((s, d) =>
      TimeSeries.sessionize(events(s, d), "user_id",
          col("ts_us"), 1800000000L)
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("_ts_us")).as("session_start"),
          max(col("_ts_us")).as("session_end"),
          count(lit(1)).as("n_events"))
        .orderBy(col("user_id"), col("session_id"))),

    // z-score outlier detection per event_type (r13): the monitoring read
    // that flags anomalous metric values against their group's own
    // distribution. Group stats are a map-combined aggregate over a
    // handful of groups, BROADCAST back onto the stream — the corpus
    // never shuffles (a window form would exchange every event on
    // event_type; with few types that is a one-task-per-type funnel).
    // The |z|>3 cutoff sits ≥2e-4 from every data z (measured per SF),
    // 8 orders above cross-engine stddev summation skew. Emitted z rounds
    // through graft_round (r13 ADVICE): mu/sd are summation-order
    // dependent, so a z near a 4dp HALF_UP boundary could round apart
    // across engines under Spark's builtin round; graft_round is the
    // repo's cross-engine-stable rounding, built to match DuckDB's.
    "anomaly_zscore" -> ((s, d) => {
      val ev = events(s, d)
        .select(col("event_id"), col("event_type"), col("value"))
      val stats = ev.groupBy(col("event_type"))
        .agg(avg(col("value")).as("mu"),
          stddev_samp(col("value")).as("sd"))
      ev.join(broadcast(stats), Seq("event_type"))
        .withColumn("z", (col("value") - col("mu")) / col("sd"))
        .filter(abs(col("z")) > lit(3.0))
        .select(col("event_id"), col("event_type"), col("value"),
          graft.ext.LlmOps.roundAt(col("z"), 4).as("z"))
        .orderBy(col("event_id"))
    })
  )

  val oracle: Map[String, String] = Map(
    "count_by_group" ->
      "SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2",
    "error_ratio" ->
      """SELECT count(*) AS total,
                count(CASE WHEN event_type = 'error' THEN 1 END) AS errors,
                CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS DOUBLE)
                  / CAST(count(*) AS DOUBLE) AS ratio
         FROM events""",
    "rate_5m" ->
      """SELECT epoch_us(time_bucket(INTERVAL 5 MINUTE, ts::TIMESTAMP)) AS win_start,
                count(*) AS n
         FROM events GROUP BY 1 ORDER BY win_start""",
    "latency_percentiles" ->
      """SELECT quantile_cont(value, 0.5) AS p50,
                quantile_cont(value, 0.95) AS p95,
                quantile_cont(value, 0.99) AS p99
         FROM events""",
    "distinct_users" ->
      "SELECT count(DISTINCT user_id) AS n_users FROM events",
    "distinct_users_sketch" ->
      """SELECT count(DISTINCT ts::DATE) AS n_days,
                count(DISTINCT user_id) AS exact_users,
                TRUE AS sketch_ok
         FROM events""",
    "funnel_steps" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
                     WHERE event_type = 'view' GROUP BY 1),
          t2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
                 JOIN t1 USING (user_id)
                 WHERE e.event_type = 'click' AND e.ts > t1.t1 GROUP BY 1),
          t3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
                 JOIN t2 USING (user_id)
                 WHERE e.event_type = 'purchase' AND e.ts > t2.t2 GROUP BY 1)
         SELECT step, step_name, n_users FROM (
           SELECT 1 AS step, 'view' AS step_name,
                  (SELECT count(*) FROM t1) AS n_users
           UNION ALL
           SELECT 2, 'click', (SELECT count(*) FROM t2)
           UNION ALL
           SELECT 3, 'purchase', (SELECT count(*) FROM t3))
         ORDER BY step""",
    "retention_cohorts" ->
      """WITH f AS (SELECT user_id, min(ts::DATE) AS cohort
                    FROM events GROUP BY 1),
          act AS (SELECT DISTINCT e.user_id, f.cohort,
                         date_diff('day', f.cohort, e.ts::DATE) AS day_offset
                  FROM events e JOIN f USING (user_id))
         SELECT cohort, CAST(day_offset AS INTEGER) AS day_offset,
                count(*) AS n_users
         FROM act GROUP BY cohort, day_offset
         ORDER BY cohort, day_offset""",
    "heavy_hitters" ->
      """WITH tot AS (SELECT count(*) AS n FROM events)
         SELECT event_type, count(*) AS exact_n, TRUE AS hh_ok
         FROM events, tot
         GROUP BY event_type, tot.n
         HAVING count(*) > tot.n / 16
         ORDER BY event_type""",
    "rollup_totals" ->
      """SELECT count(*) AS n,
                CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                min(l_extendedprice) AS min_price,
                max(l_extendedprice) AS max_price
         FROM lineitem""",
    "rollup_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
                GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
         ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""",
    "window_latest_per_key" ->
      """WITH ranked AS (
           SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
           FROM events)
         SELECT user_id, rn, ts_us, event_id, event_type
         FROM ranked WHERE rn <= 3 ORDER BY user_id, rn""",
    "bucket_daily" ->
      "SELECT ts::DATE AS day, count(*) AS n FROM events GROUP BY 1 ORDER BY day",
    "window_sliding_rate" ->
      """SELECT epoch_us(date_trunc('minute', ts::TIMESTAMP) - k * INTERVAL 1 MINUTE) AS win_start,
                count(*) AS n
         FROM events, unnest([0, 1, 2, 3, 4]) AS u(k)
         GROUP BY 1 ORDER BY win_start""",
    "window_running_total" ->
      """SELECT o_custkey, o_orderkey,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                     OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS DOUBLE) AS running_total
         FROM orders ORDER BY o_custkey, o_orderkey""",
    "window_session" ->
      """WITH flagged AS (
           SELECT user_id, epoch_us(ts) AS ts_us,
                  CASE WHEN lag(epoch_us(ts)) OVER w IS NULL THEN 1
                       WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000 THEN 1
                       ELSE 0 END AS is_new
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
         sessions AS (
           SELECT user_id, ts_us,
                  sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
           FROM flagged)
         SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                min(ts_us) AS session_start,
                max(ts_us) AS session_end, count(*) AS n_events
         FROM sessions GROUP BY 1, 2 ORDER BY user_id, session_id""",
    "anomaly_zscore" ->
      """WITH stats AS (SELECT event_type, avg(value) AS mu,
                               stddev_samp(value) AS sd
                        FROM events GROUP BY 1)
         SELECT e.event_id, e.event_type, e.value,
                round((e.value - s.mu) / s.sd, 4) AS z
         FROM events e JOIN stats s USING (event_type)
         WHERE abs((e.value - s.mu) / s.sd) > 3.0
         ORDER BY e.event_id"""
  )
}
