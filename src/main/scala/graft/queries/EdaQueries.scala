package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** STEP 3 EDA aggregation pack (SURVEY §2.4 A2/A3/A7/A8): describe-style
  * multi-aggregates, crosstab pivots, binning, per-day distributions, and
  * ordered array collection — plus the TPC-H query shapes over the same
  * tables. Each has a DuckDB oracle.
  */
object EdaQueries {

  val all: Seq[Query] = Seq(
    // ---- A2: per-day row distribution (the transform batch planner's
    // GROUP BY DATE, 02_raw_telemetry_transform.py:206-259) ----
    Query("q_daily_counts", (s, d) => {
      events(s, d)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("day")
    },
      Some("""SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
        |  count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- ordered-funnel analysis (beyond ref — the product-analytics
    // staple): per (user, day), view → first click AFTER the first
    // view → first purchase AFTER that click; per-day conversion
    // counts. The min-chain runs as three conditional aggregations
    // with join-backs on the (user, day) grain — each stage's frame is
    // user×day-sized (AQE broadcasts it), and ORDER lives in the
    // ts predicates, not in any window ----
    Query("q_funnel", (s, d) => {
      val e = events(s, d).select(col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("ts"))
      val g1 = e.groupBy("user_id", "day")
        .agg(min(when(col("event_type") === "view", col("ts")))
          .as("t_view"))
      val g2 = e.join(g1, Seq("user_id", "day"))
        .where(col("event_type") === "click" && col("ts") > col("t_view"))
        .groupBy("user_id", "day").agg(min("ts").as("t_click"))
      val g3 = e.join(g2, Seq("user_id", "day"))
        .where(col("event_type") === "purchase" &&
          col("ts") > col("t_click"))
        .groupBy("user_id", "day").agg(min("ts").as("t_purchase"))
      g1.join(g2, Seq("user_id", "day"), "left")
        .join(g3, Seq("user_id", "day"), "left")
        .groupBy("day")
        .agg(count(lit(1)).as("n_user_days"),
          count(col("t_view")).as("n_view"),
          count(col("t_click")).as("n_view_click"),
          count(col("t_purchase")).as("n_view_click_purchase"))
        .orderBy("day")
    },
      // the same min-chain: each stage's "after the previous step" is a
      // ts predicate against the joined prior-stage time
      Some("""WITH e AS (
        |  SELECT user_id, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d')
        |    AS day, event_type, ts
        |  FROM events
        |), g1 AS (
        |  SELECT user_id, day,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
        |  FROM e GROUP BY 1, 2
        |), g2 AS (
        |  SELECT e.user_id, e.day, min(e.ts) AS t_click
        |  FROM e JOIN g1 USING (user_id, day)
        |  WHERE e.event_type = 'click' AND e.ts > g1.t_view
        |  GROUP BY 1, 2
        |), g3 AS (
        |  SELECT e.user_id, e.day, min(e.ts) AS t_purchase
        |  FROM e JOIN g2 USING (user_id, day)
        |  WHERE e.event_type = 'purchase' AND e.ts > g2.t_click
        |  GROUP BY 1, 2
        |)
        |SELECT g1.day, CAST(count(*) AS BIGINT) AS n_user_days,
        |  CAST(count(g1.t_view) AS BIGINT) AS n_view,
        |  CAST(count(g2.t_click) AS BIGINT) AS n_view_click,
        |  CAST(count(g3.t_purchase) AS BIGINT) AS n_view_click_purchase
        |FROM g1
        |LEFT JOIN g2 USING (user_id, day)
        |LEFT JOIN g3 USING (user_id, day)
        |GROUP BY 1 ORDER BY day""".stripMargin)),

    // ---- weekly retention cohorts (beyond ref): cohort = a user's
    // first active week, cell (cohort_week, week_offset) = distinct
    // users still active k weeks later. Two keyed aggs + one join on
    // the (user, week) distinct frame — no window, no self-join.
    // Week bucketing is FLOOR division on both engines (the oracle
    // floors explicitly — DuckDB's `//` truncates toward zero, which
    // would diverge for pre-anchor timestamps) ----
    Query("q_retention", (s, d) => {
      val wk = events(s, d).select(col("user_id"),
          floor(datediff(to_date(col("ts")), lit("2024-01-01")) / 7.0)
            .cast("long").as("week"))
        .distinct()
      val cohort = wk.groupBy("user_id").agg(min("week").as("cohort_week"))
      wk.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    },
      Some("""WITH wk AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(
        |      date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7.0)
        |      AS BIGINT) AS week
        |  FROM events
        |), cohort AS (
        |  SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY 1
        |)
        |SELECT cohort.cohort_week, wk.week - cohort.cohort_week
        |  AS week_offset,
        |  CAST(count(DISTINCT wk.user_id) AS BIGINT) AS n_users
        |FROM wk JOIN cohort USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin)),

    // ---- event-sequence Markov transitions (beyond ref): per-user
    // lag over (ts, event_id) order → (prev, cur) counts → row-
    // normalized transition probabilities as exact integer ppm. ONE
    // user-keyed window shuffle; the matrix is |types|² rows ----
    Query("q_markov", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val tr = events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("cur"))
        .withColumn("prev", lag(col("cur"), 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy("prev", "cur").agg(count(lit(1)).as("n"))
      val tot = tr.groupBy("prev").agg(sum("n").as("row_n"))
      tr.join(tot, Seq("prev"))
        .select(col("prev"), col("cur"), col("n").cast("long").as("n"),
          expr("n * 1000000 div row_n").as("p_ppm"))
        .orderBy("prev", "cur")
    },
      Some("""WITH s AS (
        |  SELECT user_id, event_type AS cur,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events
        |), tr AS (
        |  SELECT prev, cur, CAST(count(*) AS BIGINT) AS n
        |  FROM s WHERE prev IS NOT NULL GROUP BY 1, 2
        |), tot AS (
        |  SELECT prev, CAST(sum(n) AS BIGINT) AS row_n FROM tr GROUP BY 1
        |)
        |SELECT tr.prev, tr.cur, tr.n,
        |  CAST(tr.n * 1000000 // tot.row_n AS BIGINT) AS p_ppm
        |FROM tr JOIN tot USING (prev)
        |ORDER BY prev, cur""".stripMargin)),

    // ---- mergeable histogram quantiles (beyond ref — the 100 TB
    // sibling of q_percentiles' exact interpolation): per event type,
    // nearest-rank p50/p90/p99 off a milli-quantized histogram whose
    // state is the grid size, not the row count, and whose frames
    // merge across shards by addition. Integer-exact end to end; the
    // oracle replays histogram → cumulative window → ceil-rank pick ----
    Query("q_hist_quantiles", (s, d) => {
      import graft.operators.Quantiles
      Quantiles.histogramQuantiles(events(s, d), Seq("event_type"),
          col("value"), scale = 1000L,
          quantiles = Seq(("p50_milli", 1L, 2L), ("p90_milli", 9L, 10L),
            ("p99_milli", 99L, 100L)))
        .orderBy("event_type")
    },
      Some("""WITH hist AS (
        |  SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        |), cum AS (
        |  SELECT event_type, bucket,
        |    sum(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
        |    sum(n) OVER (PARTITION BY event_type) AS total
        |  FROM hist
        |)
        |SELECT event_type,
        |  CAST(min(CASE WHEN cum >= (total * 1 + 1) // 2
        |    THEN bucket END) AS BIGINT) AS p50_milli,
        |  CAST(min(CASE WHEN cum >= (total * 9 + 9) // 10
        |    THEN bucket END) AS BIGINT) AS p90_milli,
        |  CAST(min(CASE WHEN cum >= (total * 99 + 99) // 100
        |    THEN bucket END) AS BIGINT) AS p99_milli
        |FROM cum GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ---- two-sample Kolmogorov–Smirnov drift statistic per event
    // type (beyond ref — the data-drift monitor a production pipeline
    // runs between snapshots): sample A = days 1–15, B = days 16–30;
    // D = max_x |F_A(x) − F_B(x)| computed EXACTLY by integer
    // cross-multiplication (|c_A·n_B − c_B·n_A|) over milli-quantized
    // values — no floats anywhere, so the oracle replays it bit-for-
    // bit. One (type, x) agg + one type-keyed cumulative window ----
    Query("q_ks_drift", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, d).select(col("event_type"),
        floor(col("value") * 1000).cast("long").as("x"),
        when(to_date(col("ts")) <= lit("2024-01-15"), 1L).otherwise(0L)
          .as("is_a"))
      val pts = e.groupBy("event_type", "x")
        .agg(sum("is_a").as("ca_pt"),
          sum(lit(1L) - col("is_a")).as("cb_pt"))
      val w = Window.partitionBy("event_type").orderBy("x")
      val tot = pts.groupBy("event_type")
        .agg(sum("ca_pt").as("n_a"), sum("cb_pt").as("n_b"))
      // ks_ppm is the max of PER-SIDE-quantized CDF gaps
      // (|cumA·10⁶ div n_a − cumB·10⁶ div n_b|): overflow-safe to
      // ~9·10¹² rows per sample, where d_num_max·10⁶ would wrap a
      // long already at n_a·n_b > 9·10¹² (review finding r10);
      // d_num_max itself stays the exact cross-multiplied statistic
      // (bound n_a·n_b < 2⁶³, documented)
      pts.join(tot, Seq("event_type"))
        .select(col("event_type"), col("n_a"), col("n_b"),
          (abs(sum(col("ca_pt")).over(w) * col("n_b") -
            sum(col("cb_pt")).over(w) * col("n_a"))).as("d_num"),
          abs(expr("1000000 * sum(ca_pt) over " +
              "(partition by event_type order by x) div n_a") -
            expr("1000000 * sum(cb_pt) over " +
              "(partition by event_type order by x) div n_b"))
            .as("gap_ppm"))
        .groupBy("event_type")
        .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
          max("d_num").as("d_num_max"),
          max("gap_ppm").cast("long").as("ks_ppm"))
        .orderBy("event_type")
    },
      Some("""WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(value * 1000) AS BIGINT) AS x,
        |    CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
        |      THEN 1 ELSE 0 END AS is_a
        |  FROM events
        |), pts AS (
        |  SELECT event_type, x,
        |    CAST(sum(is_a) AS BIGINT) AS ca_pt,
        |    CAST(sum(1 - is_a) AS BIGINT) AS cb_pt
        |  FROM e GROUP BY 1, 2
        |), tot AS (
        |  SELECT event_type, CAST(sum(ca_pt) AS BIGINT) AS n_a,
        |    CAST(sum(cb_pt) AS BIGINT) AS n_b
        |  FROM pts GROUP BY 1
        |), c AS (
        |  SELECT pts.event_type, tot.n_a, tot.n_b,
        |    abs(CAST(sum(pts.ca_pt) OVER (PARTITION BY pts.event_type
        |        ORDER BY pts.x) AS BIGINT) * tot.n_b -
        |      CAST(sum(pts.cb_pt) OVER (PARTITION BY pts.event_type
        |        ORDER BY pts.x) AS BIGINT) * tot.n_a) AS d_num,
        |    abs(1000000 * CAST(sum(pts.ca_pt) OVER (
        |        PARTITION BY pts.event_type ORDER BY pts.x) AS BIGINT)
        |        // tot.n_a -
        |      1000000 * CAST(sum(pts.cb_pt) OVER (
        |        PARTITION BY pts.event_type ORDER BY pts.x) AS BIGINT)
        |        // tot.n_b) AS gap_ppm
        |  FROM pts JOIN tot USING (event_type)
        |)
        |SELECT event_type, max(n_a) AS n_a, max(n_b) AS n_b,
        |  CAST(max(d_num) AS BIGINT) AS d_num_max,
        |  CAST(max(gap_ppm) AS BIGINT) AS ks_ppm
        |FROM c GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ---- population stability index (the banking/industry drift
    // score beside q_ks_drift's KS): 10 fixed-width value buckets,
    // Laplace-smoothed, PSI = Σ (p_A − p_B)·ln(p_A/p_B). Per-bucket
    // terms are floor-quantized to nanos THEN summed (the kn-logprob
    // quantize-then-sum discipline: integer sums commute, float sums
    // don't), and the ln argument is ONE ratio of integer products so
    // both engines evaluate the identical expression tree ----
    Query("q_psi_drift", (s, d) => {
      val e = events(s, d).select(col("event_type"),
        least(lit(9L), greatest(lit(0L),
          floor(col("value") / 50).cast("long"))).as("bk"),
        when(to_date(col("ts")) <= lit("2024-01-15"), 1L).otherwise(0L)
          .as("is_a"))
      val g = e.groupBy("event_type", "bk")
        .agg(sum("is_a").as("ca"), sum(lit(1L) - col("is_a")).as("cb"))
      val tot = g.groupBy("event_type")
        .agg(sum("ca").as("na"), sum("cb").as("nb"))
      // full 10-bucket grid per type: a globally-empty bucket must
      // still contribute its smoothed baseline term, or PSI deviates
      // from its own definition and jumps discontinuously across SFs
      // the moment one event lands in the bucket (review finding r10)
      val grid = tot.select(col("event_type"), col("na"), col("nb"),
          explode(sequence(lit(0L), lit(9L))).as("bk"))
        .join(g, Seq("event_type", "bk"), "left")
        .select(col("event_type"), col("na"), col("nb"),
          coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb"))
      grid
        .select(col("event_type"),
          floor((((col("ca") + 1).cast("double") / (col("na") + 10) -
            (col("cb") + 1).cast("double") / (col("nb") + 10)) *
            log(((col("ca") + 1).cast("double") * (col("nb") + 10)) /
              ((col("cb") + 1).cast("double") * (col("na") + 10)))) *
            lit(1000000000.0)).cast("long").as("term_nano"))
        .groupBy("event_type")
        .agg(sum("term_nano").cast("long").as("psi_nano"))
        .orderBy("event_type")
    },
      Some("""WITH e AS (
        |  SELECT event_type,
        |    least(9, greatest(0, CAST(floor(value / 50) AS BIGINT))) AS bk,
        |    CASE WHEN CAST(ts AS DATE) <= DATE '2024-01-15'
        |      THEN 1 ELSE 0 END AS is_a
        |  FROM events
        |), g AS (
        |  SELECT event_type, bk, CAST(sum(is_a) AS BIGINT) AS ca,
        |    CAST(sum(1 - is_a) AS BIGINT) AS cb
        |  FROM e GROUP BY 1, 2
        |), tot AS (
        |  SELECT event_type, CAST(sum(ca) AS BIGINT) AS na,
        |    CAST(sum(cb) AS BIGINT) AS nb
        |  FROM g GROUP BY 1
        |), grid AS (
        |  SELECT tot.event_type, tot.na, tot.nb, r.bk,
        |    CAST(coalesce(g.ca, 0) AS BIGINT) AS ca,
        |    CAST(coalesce(g.cb, 0) AS BIGINT) AS cb
        |  FROM tot
        |  CROSS JOIN (SELECT unnest(range(0, 10)) AS bk) r
        |  LEFT JOIN g ON g.event_type = tot.event_type AND g.bk = r.bk
        |), t AS (
        |  SELECT event_type,
        |    CAST(floor((
        |      (CAST(ca + 1 AS DOUBLE) / (na + 10) -
        |       CAST(cb + 1 AS DOUBLE) / (nb + 10)) *
        |      ln((CAST(ca + 1 AS DOUBLE) * (nb + 10)) /
        |         (CAST(cb + 1 AS DOUBLE) * (na + 10)))
        |    ) * 1000000000.0) AS BIGINT) AS term_nano
        |  FROM grid
        |)
        |SELECT event_type, CAST(sum(term_nano) AS BIGINT) AS psi_nano
        |FROM t GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ---- A8: describe()-style profile per group (run_advanced_eda
    // .py:83-96) with exact interpolated median ----
    Query("q_describe", (s, d) => {
      events(s, d)
        .groupBy("event_type")
        .agg(
          count(col("value")).as("cnt"),
          (sum(round(col("value") * 100).cast("long")) / lit(100.0) /
            count(col("value"))).as("mean"),
          round(stddev_samp(col("value")), 4).as("std"),
          round(min(col("value")), 2).as("min"),
          round(percentile(col("value"), lit(0.5)), 4).as("median"),
          round(max(col("value")), 2).as("max"))
        .orderBy("event_type")
    },
      Some("""SELECT event_type,
        |  count(value) AS cnt,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    / count(value) AS mean,
        |  round(stddev_samp(value), 4) AS std,
        |  round(min(value), 2) AS min,
        |  round(quantile_cont(value, 0.5), 4) AS median,
        |  round(max(value), 2) AS max
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- A8 crosstab: groupBy().pivot().count() (run_advanced_eda
    // .py:113-114) — pivot columns fixed for schema stability ----
    Query("q_crosstab", (s, d) => {
      events(s, d)
        .withColumn("bucket",
          when(col("value") < 25, "q1").when(col("value") < 50, "q2")
            .when(col("value") < 75, "q3").otherwise("q4"))
        .groupBy("event_type")
        .pivot("bucket", Seq("q1", "q2", "q3", "q4"))
        .count()
        .na.fill(0, Seq("q1", "q2", "q3", "q4"))
        .orderBy("event_type")
    },
      Some("""SELECT event_type,
        |  count(CASE WHEN value < 25 THEN 1 END) AS q1,
        |  count(CASE WHEN value >= 25 AND value < 50 THEN 1 END) AS q2,
        |  count(CASE WHEN value >= 50 AND value < 75 THEN 1 END) AS q3,
        |  count(CASE WHEN value >= 75 THEN 1 END) AS q4
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- P8/pd.cut-style binning (database_pipeline.py:386-393) ----
    Query("q_binning", (s, d) => {
      lineitem(s, d)
        .withColumn("qty_bin",
          when(col("l_quantity") <= 10, "0-10")
            .when(col("l_quantity") <= 25, "10-25")
            .when(col("l_quantity") <= 40, "25-40")
            .otherwise("40+"))
        .groupBy("qty_bin")
        .agg(count(lit(1)).as("n"),
          round(avg("l_extendedprice"), 4).as("avg_price"))
        .orderBy("qty_bin")
    },
      Some("""SELECT CASE WHEN l_quantity <= 10 THEN '0-10'
        |            WHEN l_quantity <= 25 THEN '10-25'
        |            WHEN l_quantity <= 40 THEN '25-40'
        |            ELSE '40+' END AS qty_bin,
        |  count(*) AS n, round(avg(l_extendedprice), 4) AS avg_price
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- percentile winsorization (outlier clamping, the robust twin
    // of q_clamp_flags' fixed-sentinel cleaning): per-group p05/p95 on
    // integer cents (exact interpolated percentile — the q_percentiles
    // parity), bounds rounded back to the cent grid so the clamp and
    // the sum stay in exact integer arithmetic on both engines ----
    Query("q_winsorize", (s, d) => {
      val e = events(s, d).select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      val bounds = e.groupBy("event_type").agg(
        round(percentile(col("cents"), lit(0.05))).cast("long").as("lo_c"),
        round(percentile(col("cents"), lit(0.95))).cast("long").as("hi_c"))
      e.join(broadcast(bounds), Seq("event_type"))
        .groupBy("event_type", "lo_c", "hi_c")
        .agg(count(lit(1)).as("n"),
          sum(when(col("cents") < col("lo_c"), 1L).otherwise(0L))
            .as("n_lo"),
          sum(when(col("cents") > col("hi_c"), 1L).otherwise(0L))
            .as("n_hi"),
          sum(greatest(col("lo_c"), least(col("hi_c"), col("cents"))))
            .as("sum_winsor_cents"))
        .select(col("event_type"), col("n"), col("n_lo"), col("n_hi"),
          col("sum_winsor_cents"), col("lo_c"), col("hi_c"))
        .orderBy("event_type")
    },
      Some("""WITH e AS (
        |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), b AS (
        |  SELECT event_type,
        |    CAST(round(quantile_cont(cents, 0.05)) AS BIGINT) AS lo_c,
        |    CAST(round(quantile_cont(cents, 0.95)) AS BIGINT) AS hi_c
        |  FROM e GROUP BY event_type
        |)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN e.cents < b.lo_c THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_lo,
        |  CAST(sum(CASE WHEN e.cents > b.hi_c THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hi,
        |  CAST(sum(greatest(b.lo_c, least(b.hi_c, e.cents))) AS BIGINT)
        |    AS sum_winsor_cents,
        |  max(b.lo_c) AS lo_c, max(b.hi_c) AS hi_c
        |FROM e JOIN b USING (event_type)
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    // ---- robust scaling ((x − median) / IQR — sklearn RobustScaler):
    // per-group median/quartiles on integer cents, broadcast back, one
    // narrow per-row projection. Identical integer inputs → identical
    // interpolated quantile doubles → identical scaled doubles on both
    // engines (the q_percentiles parity, applied per row) ----
    Query("q_robust_scale", (s, d) => {
      val e = events(s, d).select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      val stats = e.groupBy("event_type").agg(
        percentile(col("cents"), lit(0.25)).as("p25"),
        percentile(col("cents"), lit(0.5)).as("med"),
        percentile(col("cents"), lit(0.75)).as("p75"))
      e.join(broadcast(stats), Seq("event_type"))
        .select(col("event_id"), col("event_type"),
          round(when(col("p75") =!= col("p25"),
            (col("cents") - col("med")) / (col("p75") - col("p25"))), 6)
            .as("scaled"))
        .orderBy("event_id")
    },
      Some("""WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), s AS (
        |  SELECT event_type,
        |    quantile_cont(cents, 0.25) AS p25,
        |    quantile_cont(cents, 0.5) AS med,
        |    quantile_cont(cents, 0.75) AS p75
        |  FROM e GROUP BY event_type
        |)
        |SELECT e.event_id, e.event_type,
        |  round(CASE WHEN s.p75 <> s.p25
        |    THEN (e.cents - s.med) / (s.p75 - s.p25) END, 6) AS scaled
        |FROM e JOIN s USING (event_type)
        |ORDER BY e.event_id""".stripMargin)),

    // ---- pd.qcut-style quantile binning (database_pipeline.py:431-436):
    // equal-count quartiles via ntile over a total order; per-bin stats
    // with engine-exact math (scaled-integer avg, raw min/max) ----
    Query("q_quantile_bins", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      events(s, d)
        .withColumn("qbin", ntile(4).over(w))
        .groupBy("event_type", "qbin")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 1000).cast("long")) / 1000.0 /
            count(lit(1))).as("avg_value"),
          min("value").as("min_value"),
          max("value").as("max_value"))
        .orderBy("event_type", "qbin")
    },
      Some("""WITH b AS (
        |  SELECT event_type, value,
        |    ntile(4) OVER (PARTITION BY event_type
        |      ORDER BY value, event_id) AS qbin
        |  FROM events
        |)
        |SELECT event_type, qbin, count(*) AS n,
        |  CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS DOUBLE) / 1000.0
        |    / count(*) AS avg_value,
        |  min(value) AS min_value,
        |  max(value) AS max_value
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- A3/P6: truck-class profile via LIKE-pattern CASE class
    // (EDA notebook cells 4/6; database_pipeline.py:121-127): per-class
    // round(avg)/stddev with engine-deterministic math (exact integer
    // sums; see q_json_extract note on avg boundary flakes) ----
    Query("q_truck_class", (s, d) => {
      val e = events(s, d).withColumn("device_id",
        concat(lit("lake-"),
          when(col("user_id") % 3 === 0, "775g").otherwise("605"),
          lit("-"), (col("user_id") % 20).cast("string")))
      val cents = round(col("value") * 100).cast("long")
      e.withColumn("truck_class",
          when(col("device_id").like("%775g%"), "775G").otherwise("605"))
        .groupBy("truck_class")
        .agg(
          count(lit(1)).as("n"),
          countDistinct(col("device_id")).as("n_devices"),
          (sum(cents) / lit(100.0) / count(lit(1))).as("avg_value"),
          sqrt(
            (count(lit(1)) * sum(cents * cents) - sum(cents) * sum(cents))
              .cast("double") /
              (count(lit(1)) * (count(lit(1)) - 1)).cast("double"))
            .divide(100.0).as("stddev_value"),
          round(min("value"), 2).as("min_value"),
          round(max("value"), 2).as("max_value"))
        .orderBy("truck_class")
    },
      Some("""WITH e AS (
        |  SELECT *,
        |    'lake-' || CASE WHEN user_id % 3 = 0 THEN '775g' ELSE '605' END
        |      || '-' || CAST(user_id % 20 AS VARCHAR) AS device_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), c AS (
        |  SELECT *, CASE WHEN device_id LIKE '%775g%' THEN '775G'
        |                 ELSE '605' END AS truck_class
        |  FROM e
        |)
        |SELECT truck_class, count(*) AS n,
        |  count(DISTINCT device_id) AS n_devices,
        |  CAST(sum(cents) AS DOUBLE) / 100.0 / count(*) AS avg_value,
        |  sqrt(CAST(count(*) * sum(cents * cents) - sum(cents) * sum(cents)
        |      AS DOUBLE) /
        |    CAST(count(*) * (count(*) - 1) AS DOUBLE)) / 100.0
        |    AS stddev_value,
        |  round(min(value), 2) AS min_value,
        |  round(max(value), 2) AS max_value
        |FROM c GROUP BY truck_class ORDER BY truck_class""".stripMargin)),

    // ---- movement features (database_pipeline.py:498-516): per-device
    // euclidean position change via lag diffs + distance from the median
    // center — the EDA geo-math pack ----
    Query("q_movement", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, d).select(
        col("event_id"),
        concat(lit("t"), (col("user_id") % 20).cast("string")).as("device_id"),
        col("ts"),
        (col("value") / 1000 + 33.2).as("latitude"),
        ((col("user_id") % 100) / 10000.0 - 97.84).as("longitude"))
      val w = Window.partitionBy("device_id").orderBy("ts", "event_id")
      // the 1-row median aggregate stays IN the plan as a broadcast
      // cross-join — no driver collect, no second scan-triggering job
      val center = e.agg(
        percentile(col("longitude"), lit(0.5)).as("clon"),
        percentile(col("latitude"), lit(0.5)).as("clat"))
      e.crossJoin(broadcast(center))
        .withColumn("position_change", round(sqrt(
          pow(col("longitude") - lag("longitude", 1).over(w), 2) +
            pow(col("latitude") - lag("latitude", 1).over(w), 2)), 9))
        .withColumn("distance_from_center", round(sqrt(
          pow(col("longitude") - col("clon"), 2) +
            pow(col("latitude") - col("clat"), 2)), 9))
        .select("event_id", "device_id", "position_change",
          "distance_from_center")
        .orderBy("event_id")
    },
      Some("""WITH e AS (
        |  SELECT event_id,
        |    't' || CAST(user_id % 20 AS VARCHAR) AS device_id,
        |    ts, value / 1000 + 33.2 AS latitude,
        |    (user_id % 100) / 10000.0 - 97.84 AS longitude
        |  FROM events
        |), c AS (
        |  SELECT quantile_cont(longitude, 0.5) AS clon,
        |         quantile_cont(latitude, 0.5) AS clat
        |  FROM e
        |)
        |SELECT event_id, device_id,
        |  round(sqrt(
        |    pow(longitude - lag(longitude) OVER w, 2) +
        |    pow(latitude - lag(latitude) OVER w, 2)), 9) AS position_change,
        |  round(sqrt(pow(longitude - (SELECT clon FROM c), 2) +
        |             pow(latitude - (SELECT clat FROM c), 2)), 9)
        |    AS distance_from_center
        |FROM e
        |WINDOW w AS (PARTITION BY device_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin)),

    // ---- kinematic feature pack (database_pipeline.py:368-394):
    // TRAILING rolling mean/std (pandas min_periods=1 semantics), diff
    // chains (speed change + acceleration), speed-category binning ----
    Query("q_kinematic", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, d).select(
        col("event_id"),
        concat(lit("t"), (col("user_id") % 20).cast("string")).as("device_id"),
        col("ts"), (col("value") / 10).as("speed"))
      val w = Window.partitionBy("device_id").orderBy("ts", "event_id")
      val t5 = w.rowsBetween(-4, 0)
      val t10 = w.rowsBetween(-9, 0)
      e.withColumn("is_stationary", (col("speed") <= 0.5).cast("int"))
        .withColumn("speed_rolling_mean_5", round(avg("speed").over(t5), 6))
        .withColumn("speed_rolling_std_10",
          round(stddev_samp(col("speed")).over(t10), 6))
        // + 0.0 collapses IEEE negative zero: a diff that is algebraically
        // zero carries float residue that rounds to -0.0 in DuckDB but
        // +0.0 in Spark (observed at sf0.1)
        .withColumn("speed_change", round(
          col("speed") - lag("speed", 1).over(w), 6) + 0.0)
        .withColumn("speed_acceleration", round(
          (col("speed") - lag("speed", 1).over(w)) -
            (lag("speed", 1).over(w) - lag("speed", 2).over(w)), 6) + 0.0)
        .withColumn("speed_category",
          when(col("speed") <= 0.5, "stationary")
            .when(col("speed") <= 5, "slow")
            .when(col("speed") <= 15, "medium").otherwise("fast"))
        .select("event_id", "is_stationary", "speed_rolling_mean_5",
          "speed_rolling_std_10", "speed_change", "speed_acceleration",
          "speed_category")
        .orderBy("event_id")
    },
      Some("""WITH e AS (
        |  SELECT event_id,
        |    't' || CAST(user_id % 20 AS VARCHAR) AS device_id,
        |    ts, value / 10 AS speed
        |  FROM events
        |)
        |SELECT event_id,
        |  CAST(CASE WHEN speed <= 0.5 THEN 1 ELSE 0 END AS INT)
        |    AS is_stationary,
        |  round(avg(speed) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
        |    AS speed_rolling_mean_5,
        |  round(stddev_samp(speed) OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW), 6)
        |    AS speed_rolling_std_10,
        |  round(speed - lag(speed) OVER w, 6) + 0.0 AS speed_change,
        |  round((speed - lag(speed) OVER w) -
        |    (lag(speed) OVER w - lag(speed, 2) OVER w), 6) + 0.0
        |    AS speed_acceleration,
        |  CASE WHEN speed <= 0.5 THEN 'stationary'
        |       WHEN speed <= 5 THEN 'slow'
        |       WHEN speed <= 15 THEN 'medium'
        |       ELSE 'fast' END AS speed_category
        |FROM e
        |WINDOW w AS (PARTITION BY device_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin)),

    // ---- temporal + state-transition features (database_pipeline
    // .py:443-492): hour/day-of-week/weekend, shift binning (pd.cut
    // bins [-1,6,14,22,24] night/day/evening/night), previous-state
    // shift/changed flags, per-(device,state) cumulative persistence ----
    Query("q_temporal_features", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val e = events(s, d).select(
        col("event_id"),
        concat(lit("t"), (col("user_id") % 20).cast("string")).as("device_id"),
        col("ts"), col("event_type").as("state"))
      val w = Window.partitionBy("device_id").orderBy("ts", "event_id")
      val ws = Window.partitionBy("device_id", "state").orderBy("ts", "event_id")
      e.withColumn("hour", hour(col("ts")))
        .withColumn("dow_monday0", (dayofweek(col("ts")) + 5) % 7)
        .withColumn("is_weekend",
          ((dayofweek(col("ts")) + 5) % 7 >= 5).cast("int"))
        .withColumn("shift", when(col("hour") <= 6, "night")
          .when(col("hour") <= 14, "day")
          .when(col("hour") <= 22, "evening").otherwise("night"))
        .withColumn("state_prev", lag("state", 1).over(w))
        .withColumn("state_changed",
          (!(col("state") <=> col("state_prev"))).cast("int"))
        .withColumn("state_seq_2", lag("state", 2).over(w))
        .withColumn("state_persistence", row_number().over(ws))
        .select("event_id", "hour", "dow_monday0", "is_weekend", "shift",
          "state_prev", "state_changed", "state_seq_2", "state_persistence")
        .orderBy("event_id")
    },
      Some("""WITH e AS (
        |  SELECT event_id,
        |    't' || CAST(user_id % 20 AS VARCHAR) AS device_id,
        |    CAST(ts AS TIMESTAMP) AS ts, event_type AS state
        |  FROM events
        |)
        |SELECT event_id,
        |  CAST(hour(ts) AS INT) AS hour,
        |  CAST(isodow(ts) - 1 AS INT) AS dow_monday0,
        |  CAST(CASE WHEN isodow(ts) - 1 >= 5 THEN 1 ELSE 0 END AS INT)
        |    AS is_weekend,
        |  CASE WHEN hour(ts) <= 6 THEN 'night'
        |       WHEN hour(ts) <= 14 THEN 'day'
        |       WHEN hour(ts) <= 22 THEN 'evening'
        |       ELSE 'night' END AS shift,
        |  lag(state) OVER w AS state_prev,
        |  CAST(CASE WHEN state IS DISTINCT FROM lag(state) OVER w
        |    THEN 1 ELSE 0 END AS INT) AS state_changed,
        |  lag(state, 2) OVER w AS state_seq_2,
        |  CAST(row_number() OVER (PARTITION BY device_id, state
        |    ORDER BY ts, event_id) AS INT) AS state_persistence
        |FROM e
        |WINDOW w AS (PARTITION BY device_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin)),

    // ---- A7: ordered array-collect aggregation (ARRAY_AGG ... ORDER BY,
    // _archive/05_cpd_pipeline.sql:28-44), compared as an ordered
    // string join with HAVING count >= 10 ----
    Query("q_collect_series", (s, d) => {
      events(s, d)
        .where(col("user_id") < 30)
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n"),
          array_join(
            transform(
              array_sort(collect_list(struct(col("ts"), col("event_id")))),
              x => x.getField("event_id").cast("string")), ",")
            .as("event_series"))
        .where(col("n") >= 10)
        .orderBy("user_id")
    },
      Some("""SELECT user_id, count(*) AS n,
        |  string_agg(CAST(event_id AS VARCHAR), ',' ORDER BY ts, event_id)
        |    AS event_series
        |FROM events WHERE user_id < 30
        |GROUP BY user_id HAVING count(*) >= 10
        |ORDER BY user_id""".stripMargin)),

    // ---- TPC-H Q3 (shippriority variant-less): segment-filtered
    // customer ⋈ orders ⋈ lineitem, top revenue orders. Dim filters
    // reach the scans; customer broadcasts; revenue is per-row
    // quantized so the ranking is engine-exact ----
    Query("q_tpch_q3", (s, d) => {
      val cust = customer(s, d)
        .where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ord = orders(s, d)
        .where(col("o_orderdate") < "1996-06-30")
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = lineitem(s, d)
        .where(col("l_shipdate") > "1996-06-30")
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100).cast("long").as("rev_c"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg((sum("rev_c").cast("double") / 100.0).as("revenue"))
        .select(col("l_orderkey"),
          // parquet reads the date as TIMESTAMP_NTZ; session tz is UTC so
          // the cast to TIMESTAMP is identity
          unix_micros(col("o_orderdate").cast("timestamp"))
            .as("o_orderdate_us"),
          col("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      Some("""SELECT l_orderkey,
        |  epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS o_orderdate_us,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
        |    AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM customer, orders, lineitem
        |WHERE c_mktsegment = 'BUILDING'
        |  AND c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND o_orderdate < TIMESTAMP '1996-06-30'
        |  AND l_shipdate > TIMESTAMP '1996-06-30'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin)),

    // ---- TPC-H Q5: the 6-table join (region→nation→supplier/customer,
    // orders, lineitem) with the local-supplier predicate
    // c_nationkey = s_nationkey; all dims broadcast, one fact agg ----
    Query("q_tpch_q5", (s, d) => {
      val asiaNations = nation(s, d)
        .join(broadcast(region(s, d).where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val supp = supplier(s, d).select("s_suppkey", "s_nationkey")
      val cust = customer(s, d).select("c_custkey", "c_nationkey")
      val ord = orders(s, d)
        .where(col("o_orderdate") >= "1996-01-01" &&
          col("o_orderdate") < "1997-01-01")
        .select("o_orderkey", "o_custkey")
      val li = lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100).cast("long").as("rev_c"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(asiaNations),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg((sum("rev_c").cast("double") / 100.0).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      Some("""SELECT n_name,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
        |    AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey
        |  AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin)),

    // ---- TPC-H Q6: the forecasting-revenue-change scan — a pure
    // filter+agg with NO join: every predicate (shipdate year, discount
    // band, quantity cap) pushes to the parquet scan, and the whole plan
    // is one WholeStageCodegen over a cents-quantized running sum ----
    Query("q_tpch_q6", (s, d) => {
      lineitem(s, d)
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1997-01-01" &&
          col("l_discount").between(0.05, 0.07) &&
          col("l_quantity") < 24)
        .agg((sum(floor(col("l_extendedprice") * col("l_discount") * 100)
          .cast("long")).cast("double") / 100.0).as("revenue"))
    },
      Some("""SELECT CAST(sum(CAST(floor(l_extendedprice * l_discount * 100)
        |    AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin)),

    // ---- TPC-H Q14: promotion-effect ratio — one month of lineitem
    // broadcast-joined to part, promo share as a ratio of two exact
    // cents sums (identical BIGINTs → identical IEEE quotient) ----
    Query("q_tpch_q14", (s, d) => {
      val li = lineitem(s, d)
        .where(col("l_shipdate") >= "1996-03-01" &&
          col("l_shipdate") < "1996-04-01")
        .select(col("l_partkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100).cast("long").as("rev_c"))
      li.join(broadcast(part(s, d).select("p_partkey", "p_type")),
          col("l_partkey") === col("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type") === "PROMO", col("rev_c"))
            .otherwise(0L)).cast("double") /
          sum(col("rev_c")).cast("double")).as("promo_revenue"))
    },
      Some("""SELECT 100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
        |      AS BIGINT) ELSE 0 END) AS DOUBLE) /
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
        |    AS BIGINT)) AS DOUBLE) AS promo_revenue
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey
        |  AND l_shipdate >= TIMESTAMP '1996-03-01'
        |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin)),

    // ---- TPC-H Q10: returned-item reporting — top customers by revenue
    // lost to returns. Fact filter (l_returnflag = 'R') reaches the scan;
    // customer/nation broadcast; cents-quantized revenue → engine-exact
    // ranking; distributed top-k ----
    Query("q_tpch_q10", (s, d) => {
      val cust = customer(s, d)
        .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
      val nat = nation(s, d).select("n_nationkey", "n_name")
      val ord = orders(s, d)
        .where(col("o_orderdate") >= "1996-01-01" &&
          col("o_orderdate") < "1997-01-01")
        .select("o_orderkey", "o_custkey")
      val li = lineitem(s, d)
        .where(col("l_returnflag") === "R")
        .select(col("l_orderkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100).cast("long").as("rev_c"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg((sum("rev_c").cast("double") / 100.0).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    },
      Some("""SELECT c_custkey, c_name,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
        |    AS BIGINT)) AS DOUBLE) / 100.0 AS revenue,
        |  c_acctbal, n_name
        |FROM customer, orders, lineitem, nation
        |WHERE c_custkey = o_custkey
        |  AND l_orderkey = o_orderkey
        |  AND c_nationkey = n_nationkey
        |  AND l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin)),

    // ---- TPC-H Q18 (large-volume customers): orders whose total
    // quantity exceeds a threshold — the aggregate-filtered semi-join
    // shape. The qualifying-order set is computed once from lineitem
    // (two-phase agg + HAVING) and semi-joins back; integer quantities
    // → engine-exact threshold ----
    Query("q_tpch_q18", (s, d) => {
      val li = lineitem(s, d)
        .select(col("l_orderkey"),
          round(col("l_quantity")).cast("long").as("qty"))
      val big = li.groupBy("l_orderkey")
        .agg(sum("qty").as("total_qty"))
        .where(col("total_qty") > 80)
      val ord = orders(s, d).select("o_orderkey", "o_custkey")
      val cust = customer(s, d).select("c_custkey", "c_name")
      big.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("l_orderkey"),
          col("total_qty"))
        .orderBy(col("total_qty").desc, col("l_orderkey"))
        .limit(50)
    },
      Some("""WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
        |      AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING total_qty > 80
        |)
        |SELECT c_custkey, c_name, l_orderkey, total_qty
        |FROM big, orders, customer
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |ORDER BY total_qty DESC, l_orderkey
        |LIMIT 50""".stripMargin)),

    // ---- TPC-H Q19 (discounted-revenue, adapted to this schema's
    // columns: shipmode/shipinstruct/container don't exist, so the
    // OR-of-conjunctive-bands runs over brand × size × quantity): the
    // disjunctive-predicate-pushdown shape. The union bounds derivable
    // from the OR (brand IN set, size ≤ 15, qty ≤ 30) are applied at
    // the scans explicitly — the constraint-propagation a TPC-H-grade
    // optimizer derives — so the broadcast join sees pre-shrunk sides
    // and the OR only arbitrates survivors ----
    Query("q_tpch_q19", (s, d) => {
      val p = part(s, d)
        .where(col("p_brand").isin("Brand#12", "Brand#23", "Brand#3") &&
          col("p_size").between(1, 15))
        .select("p_partkey", "p_brand", "p_size")
      val li = lineitem(s, d)
        .where(col("l_quantity").between(1, 30))
        .select(col("l_partkey"), col("l_quantity"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100).cast("long").as("rev_c"))
      li.join(broadcast(p), col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))))
        .agg((sum("rev_c").cast("double") / 100.0).as("revenue"))
    },
      Some("""SELECT CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
        |    * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS revenue
        |FROM lineitem, part
        |WHERE l_partkey = p_partkey AND (
        |  (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11) OR
        |  (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20) OR
        |  (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 20 AND 30))""".stripMargin)),

    // ---- TPC-H Q21 (suppliers who kept orders waiting, adapted: no
    // receipt/commit dates in this schema, so "late" = shipped > 60
    // days after the order date): the exists + not-exists double
    // correlated self-join shape — a keyed semi-join against any other
    // supplier on the order, then a keyed anti-join against any OTHER
    // late supplier, leaving the sole blamable supplier per late
    // order ----
    Query("q_tpch_q21", (s, d) => {
      val late = col("l_shipdate") >
        col("o_orderdate") + expr("INTERVAL 60 DAYS")
      val li = lineitem(s, d).select("l_orderkey", "l_suppkey",
        "l_shipdate")
      val l1 = li
        .join(orders(s, d).where(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .where(late)
        .select("l_orderkey", "l_suppkey")
      val withOther = l1.join(
        li.select(col("l_orderkey").as("l2_orderkey"),
          col("l_suppkey").as("l2_suppkey")),
        col("l2_orderkey") === col("l_orderkey") &&
          col("l2_suppkey") =!= col("l_suppkey"), "left_semi")
      val sole = withOther.join(
        l1.select(col("l_orderkey").as("l3_orderkey"),
          col("l_suppkey").as("l3_suppkey")),
        col("l3_orderkey") === col("l_orderkey") &&
          col("l3_suppkey") =!= col("l_suppkey"), "left_anti")
      sole
        .join(broadcast(supplier(s, d)
          .select("s_suppkey", "s_name", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d).where(col("n_name").isin(
          "NATION_1", "NATION_5", "NATION_9", "NATION_13", "NATION_21"))),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
      // "late" adapted as shipped > order date + 60 days (no
      // receipt/commit dates in this schema)
      Some("""WITH l1 AS (
        |  SELECT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |)
        |SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM l1 JOIN supplier ON s_suppkey = l1.l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE n_name IN ('NATION_1', 'NATION_5', 'NATION_9', 'NATION_13',
        |    'NATION_21')
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey
        |      AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM l1 l3
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey)
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin)),

    // ---- TPC-H Q22 (global-sales-opportunity, adapted: no phone
    // column, so the country code is c_nationkey, and since every
    // customer here has orders the anti-join is against RECENT orders —
    // lapsed rich customers): scalar-subquery threshold via integer
    // cross-multiply (bal·n > Σbal dodges the avg float), broadcast
    // 1-row total, keyed anti-join ----
    Query("q_tpch_q22", (s, d) => {
      val cust = customer(s, d)
        .where(col("c_nationkey").isin(0, 3, 7, 12, 17, 21, 24))
        .select(col("c_custkey"), col("c_nationkey"),
          floor(col("c_acctbal") * 100 + 0.5).cast("long").as("bal_c"))
      val pos = cust.where(col("bal_c") > 0)
        .agg(sum("bal_c").as("_sum_c"), count(lit(1)).as("_n_pos"))
      cust.crossJoin(broadcast(pos))
        .where(col("bal_c") * col("_n_pos") > col("_sum_c"))
        .join(orders(s, d).where(col("o_orderdate") >= "2000-01-01")
          .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey").as("cntrycode"))
        .agg(count(lit(1)).as("numcust"),
          (sum("bal_c").cast("double") / 100.0).as("totacctbal"))
        .orderBy("cntrycode")
    },
      // threshold via integer cross-multiply (bal·n > Σbal), cents exact
      Some("""WITH cust AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
        |  FROM customer
        |  WHERE c_nationkey IN (0, 3, 7, 12, 17, 21, 24)
        |), pos AS (
        |  SELECT CAST(sum(bal_c) AS BIGINT) AS sum_c,
        |    CAST(count(*) AS BIGINT) AS n_pos
        |  FROM cust WHERE bal_c > 0
        |)
        |SELECT c_nationkey AS cntrycode,
        |  CAST(count(*) AS BIGINT) AS numcust,
        |  CAST(sum(bal_c) AS DOUBLE) / 100.0 AS totacctbal
        |FROM cust, pos
        |WHERE bal_c * n_pos > sum_c
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey
        |      AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY c_nationkey
        |ORDER BY cntrycode""".stripMargin)),

    // ---- TPC-H Q2 (minimum-cost supplier, adapted: the schema subset
    // has no partsupp, so the supplier "offer" table is synthesized from
    // shipping history — per (part, supplier) the MIN quantized unit
    // price ever shipped; floor(ep·100/qty) is the same IEEE value in
    // both engines). Keeps Q2's correlated-min structure: the per-part
    // regional minimum is a groupBy + broadcast join-back (the A9
    // discipline — no second window shuffle), dims broadcast ----
    Query("q_tpch_q2", (s, d) => {
      val offers = lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * 100 / col("l_quantity"))
            .cast("long").as("cost_c"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(min("cost_c").as("cost_c"))
      val eurNations = nation(s, d)
        .join(broadcast(region(s, d).where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val supp = supplier(s, d)
        .join(broadcast(eurNations),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
      val pts = part(s, d)
        .where(col("p_size") === 10 && col("p_type") === "LARGE")
        .select("p_partkey", "p_name")
      val regional = offers
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(pts), col("l_partkey") === col("p_partkey"))
      val minCost = regional.groupBy(col("p_partkey").as("_mpk"))
        .agg(min("cost_c").as("_min_c"))
      regional.join(broadcast(minCost),
          col("p_partkey") === col("_mpk") &&
            col("cost_c") === col("_min_c"))
        .select(col("s_acctbal"), col("s_name"), col("n_name"),
          col("p_partkey"), col("p_name"),
          (col("cost_c").cast("double") / 100.0).as("supply_cost"))
        .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(20)
    },
      // offers synthesized from shipping history; per-part min via window
      Some("""WITH offers AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(min(floor(l_extendedprice * 100 / l_quantity))
        |      AS BIGINT) AS cost_c
        |  FROM lineitem GROUP BY l_partkey, l_suppkey
        |), regional AS (
        |  SELECT s_acctbal, s_name, n_name, p_partkey, p_name, cost_c,
        |    min(cost_c) OVER (PARTITION BY p_partkey) AS min_c
        |  FROM offers, supplier, nation, region, part
        |  WHERE l_suppkey = s_suppkey
        |    AND s_nationkey = n_nationkey
        |    AND n_regionkey = r_regionkey
        |    AND r_name = 'EUROPE'
        |    AND l_partkey = p_partkey
        |    AND p_size = 10 AND p_type = 'LARGE'
        |)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |  CAST(cost_c AS DOUBLE) / 100.0 AS supply_cost
        |FROM regional WHERE cost_c = min_c
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 20""".stripMargin)),

    // ---- TPC-H Q9 (product-type profit, adapted: no partsupp →
    // profit is revenue over the 'red' part family; the 5-table star
    // keeps Q9's join-ordering exercise): one fact scan through four
    // broadcasts + one keyed orders join, per-(nation, year) agg ----
    Query("q_tpch_q9", (s, d) => {
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100).cast("long").as("rev_c"))
        .join(broadcast(part(s, d)
          .where(col("p_name").like("%red%")).select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(supplier(s, d)
          .select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nation(s, d)
          .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .join(orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg((sum("rev_c").cast("double") / 100.0).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      Some("""SELECT n_name AS nation,
        |  CAST(year(o_orderdate) AS INTEGER) AS o_year,
        |  CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
        |    AS BIGINT)) AS DOUBLE) / 100.0 AS sum_profit
        |FROM lineitem, part, supplier, nation, orders
        |WHERE l_partkey = p_partkey AND p_name LIKE '%red%'
        |  AND l_suppkey = s_suppkey
        |  AND s_nationkey = n_nationkey
        |  AND l_orderkey = o_orderkey
        |GROUP BY n_name, year(o_orderdate)
        |ORDER BY nation, o_year DESC""".stripMargin)),

    // ---- TPC-H Q11 (important inventory, adapted: no partsupp →
    // per-part "stock value" is the revenue shipped by NATION_7's
    // suppliers). Keeps Q11's scalar-subquery HAVING: the global
    // total+count ride a 1-row broadcast crossJoin and the threshold
    // compare is exact-integer. The cut is AVERAGE-relative (value·n >
    // 2·total ⇔ value > 2× the mean part value) rather than TPC-H's
    // fixed fraction: the spec itself scales its fraction by 1/SF, and
    // a fixed 0.1 % cut empties at sf0.1 (measured) — the mean-relative
    // form selects "important" parts at every SF ----
    Query("q_tpch_q11", (s, d) => {
      val natSupp = supplier(s, d)
        .join(broadcast(nation(s, d).where(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val vals = lineitem(s, d)
        .select(col("l_partkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100).cast("long").as("rev_c"))
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(sum("rev_c").as("value_c"))
      val tot = vals.agg(sum("value_c").as("_tot_c"),
        count(lit(1)).as("_n"))
      vals.crossJoin(broadcast(tot))
        .where(col("value_c") * col("_n") > col("_tot_c") * 2)
        .select(col("l_partkey").as("p_partkey"),
          (col("value_c").cast("double") / 100.0).as("value"))
        .orderBy(col("value").desc, col("p_partkey"))
    },
      Some("""WITH vals AS (
        |  SELECT l_partkey,
        |    CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount)
        |      * 100) AS BIGINT)) AS BIGINT) AS value_c
        |  FROM lineitem, supplier, nation
        |  WHERE l_suppkey = s_suppkey
        |    AND s_nationkey = n_nationkey
        |    AND n_name = 'NATION_7'
        |  GROUP BY l_partkey
        |), tot AS (SELECT CAST(sum(value_c) AS BIGINT) AS tot_c,
        |  CAST(count(*) AS BIGINT) AS n FROM vals)
        |SELECT l_partkey AS p_partkey,
        |  CAST(value_c AS DOUBLE) / 100.0 AS value
        |FROM vals, tot WHERE value_c * n > tot_c * 2
        |ORDER BY value DESC, p_partkey""".stripMargin)),

    // ---- TPC-H Q16 (supplier counts by part attributes, adapted: the
    // (part, supplier) relation comes from shipping history and the
    // "complaints" exclusion is the negative-balance suppliers).
    // Keeps Q16's shape: NOT-IN as a broadcast anti-join, multi-NOT
    // part predicates at the scan, count(DISTINCT) two-phase agg ----
    Query("q_tpch_q16", (s, d) => {
      val complaints = supplier(s, d).where(col("s_acctbal") < 0)
        .select("s_suppkey")
      lineitem(s, d).select("l_partkey", "l_suppkey").distinct()
        .join(broadcast(part(s, d)
          .where(col("p_brand") =!= "Brand#9" &&
            !col("p_type").startsWith("MEDIUM") &&
            col("p_size").isin(3, 9, 14, 19, 23, 36, 45, 49))
          .select("p_partkey", "p_brand", "p_type", "p_size")),
          col("l_partkey") === col("p_partkey"))
        .join(broadcast(complaints),
          col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
      Some("""SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem), part
        |WHERE l_partkey = p_partkey
        |  AND p_brand <> 'Brand#9'
        |  AND p_type NOT LIKE 'MEDIUM%'
        |  AND p_size IN (3, 9, 14, 19, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin)),

    // ---- TPC-H Q20 (excess-stock suppliers, adapted: no partsupp
    // availqty → a supplier "holds excess stock" of a part when it
    // shipped MORE THAN HALF of the part's 1997 volume). Keeps Q20's
    // nested-IN structure: dominant (part, supplier) pairs from two
    // stacked aggs with an exact-integer share compare (qty·2 > total),
    // then a semi-join onto the nation-filtered supplier dim ----
    Query("q_tpch_q20", (s, d) => {
      val shipped = lineitem(s, d)
        .where(col("l_shipdate") >= "1997-01-01" &&
          col("l_shipdate") < "1998-01-01")
        .select(col("l_partkey"), col("l_suppkey"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum("qty").as("qty"))
      val partTotals = shipped.groupBy("l_partkey")
        .agg(sum("qty").as("_tot_qty"))
      val dominant = shipped
        .join(broadcast(part(s, d).where(col("p_name").like("small%"))
          .select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(partTotals.withColumnRenamed("l_partkey", "_pk"),
          col("l_partkey") === col("_pk"))
        .where(col("qty") * 2 > col("_tot_qty"))
        .select("l_suppkey")
      supplier(s, d)
        .join(broadcast(nation(s, d).where(col("n_name") === "NATION_3")),
          col("s_nationkey") === col("n_nationkey"))
        .join(dominant, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_name")
    },
      Some("""WITH shipped AS (
        |  SELECT l_partkey, l_suppkey,
        |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY l_partkey, l_suppkey
        |), totals AS (
        |  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS tot_qty
        |  FROM shipped GROUP BY l_partkey
        |)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier, nation
        |WHERE s_nationkey = n_nationkey AND n_name = 'NATION_3'
        |  AND s_suppkey IN (
        |    SELECT sh.l_suppkey FROM shipped sh, totals t, part
        |    WHERE sh.l_partkey = t.l_partkey
        |      AND sh.l_partkey = p_partkey AND p_name LIKE 'small%'
        |      AND sh.qty * 2 > t.tot_qty)
        |ORDER BY s_name""".stripMargin)),

    // ---- TPC-H Q4 (order-priority checking, adapted: the schema subset
    // has no commit/receipt dates, so "late" is shipped > 30 days after
    // the order date): EXISTS over the fact table → left-semi join with
    // a non-equi conjunct; the orders-side date window prunes first ----
    Query("q_tpch_q4", (s, d) => {
      val ord = orders(s, d)
        .where(col("o_orderdate") >= "1996-07-01" &&
          col("o_orderdate") < "1996-10-01")
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
      ord.join(lineitem(s, d).select("l_orderkey", "l_shipdate"),
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >
              col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-07-01'
        |  AND o_orderdate < TIMESTAMP '1996-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    // ---- TPC-H Q7 (volume shipping): the two-aliased-nation pattern —
    // the same dim joined twice under different roles, with a symmetric
    // nation-pair predicate and per-year revenue ----
    Query("q_tpch_q7", (s, d) => {
      val n1 = nation(s, d).select(col("n_nationkey").as("s_nk"),
        col("n_name").as("supp_nation"))
      val n2 = nation(s, d).select(col("n_nationkey").as("c_nk"),
        col("n_name").as("cust_nation"))
      lineitem(s, d)
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1998-01-01")
        .select(col("l_orderkey"), col("l_suppkey"),
          year(col("l_shipdate")).as("l_year"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100).cast("long").as("rev_c"))
        .join(orders(s, d).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(supplier(s, d).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(customer(s, d).select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .where((col("supp_nation") === "NATION_3" &&
            col("cust_nation") === "NATION_7") ||
          (col("supp_nation") === "NATION_7" &&
            col("cust_nation") === "NATION_3"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg((sum("rev_c").cast("double") / 100.0).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      Some("""SELECT supp_nation, cust_nation, l_year,
        |  CAST(sum(rev_c) AS DOUBLE) / 100.0 AS revenue
        |FROM (
        |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |    CAST(year(l_shipdate) AS INT) AS l_year,
        |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
        |      AS BIGINT) AS rev_c
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation n1 ON n1.n_nationkey = s_nationkey
        |  JOIN nation n2 ON n2.n_nationkey = c_nationkey
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |    AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |)
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    // ---- TPC-H Q8 (national market share): conditional-share agg —
    // sum(case)/sum over exact cents, so the ratio divides two exact
    // longs and rounds once; region restriction rides the customer dim,
    // part/supplier dims broadcast against the one fact scan ----
    Query("q_tpch_q8", (s, d) => {
      val asiaCust = customer(s, d).select("c_custkey", "c_nationkey")
        .join(broadcast(nation(s, d)
          .select("n_nationkey", "n_regionkey")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d).where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey")
      lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
            * 100).cast("long").as("vol_c"))
        .join(broadcast(part(s, d).where(col("p_type") === "PROMO")
          .select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(orders(s, d)
          .where(col("o_orderdate") >= "1996-01-01" &&
            col("o_orderdate") < "1998-01-01")
          .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(supplier(s, d).select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(round(
          sum(when(col("s_nationkey") === 9, col("vol_c")).otherwise(0L))
            .cast("double") / sum("vol_c").cast("double"), 6)
          .as("mkt_share"))
        .orderBy("o_year")
    },
      Some("""SELECT o_year,
        |  round(CAST(sum(CASE WHEN s_nationkey = 9 THEN vol_c ELSE 0 END)
        |      AS DOUBLE) / CAST(sum(vol_c) AS DOUBLE), 6) AS mkt_share
        |FROM (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year, s_nationkey,
        |    CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
        |      AS BIGINT) AS vol_c
        |  FROM lineitem
        |  JOIN part ON p_partkey = l_partkey AND p_type = 'PROMO'
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN customer ON c_custkey = o_custkey
        |  JOIN nation nc ON nc.n_nationkey = c_nationkey
        |  JOIN region ON r_regionkey = nc.n_regionkey AND r_name = 'ASIA'
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |)
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin)),

    // ---- TPC-H Q12 (shipping-mode priority, adapted: no l_shipmode in
    // the schema subset, so the mode-like dimension is l_returnflag):
    // the two-bucket conditional count over a date-windowed fact join ----
    Query("q_tpch_q12", (s, d) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      lineitem(s, d)
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1997-01-01")
        .select("l_orderkey", "l_returnflag")
        .join(orders(s, d).select("o_orderkey", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
        .orderBy("l_returnflag")
    },
      Some("""SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),

    // ---- TPC-H Q13 (customer order-count distribution): the
    // group-by-of-a-group-by with a LEFT join so zero-order customers
    // land in the c_count=0 bucket; the order filter (adapted: priority
    // stands in for the comment NOT LIKE) sits in the join, not after it,
    // so it cannot turn the outer join inner ----
    Query("q_tpch_q13", (s, d) => {
      customer(s, d).select("c_custkey")
        .join(orders(s, d)
          .where(col("o_orderpriority") =!= "4-NOT SPECIFIED")
          .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_custkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      Some("""SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM (
        |  SELECT c_custkey, CAST(count(o_custkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |    AND o_orderpriority <> '4-NOT SPECIFIED'
        |  GROUP BY c_custkey
        |)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // ---- TPC-H Q15 (top supplier): agg-then-argmax — the revenue CTE
    // feeds both the max (1-row broadcast) and the equality probe, so
    // the quarter's per-supplier revenue is computed once; cents keep
    // the max/equality comparison exact where doubles could tie-break
    // differently across engines ----
    Query("q_tpch_q15", (s, d) => {
      val rev = lineitem(s, d)
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1996-04-01")
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * 100).cast("long")).as("rev_c"))
      val mx = rev.agg(max("rev_c").as("_max_c"))
      rev.crossJoin(broadcast(mx))
        .where(col("rev_c") === col("_max_c"))
        .join(broadcast(supplier(s, d).select("s_suppkey", "s_name")),
          col("supplier_no") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"),
          (col("rev_c").cast("double") / 100.0).as("total_revenue"))
        .orderBy("s_suppkey")
    },
      Some("""WITH revenue AS (
        |  SELECT l_suppkey AS supplier_no,
        |    CAST(sum(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100)
        |      AS BIGINT)) AS BIGINT) AS rev_c
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name, CAST(rev_c AS DOUBLE) / 100.0
        |  AS total_revenue
        |FROM revenue JOIN supplier ON s_suppkey = supplier_no
        |WHERE rev_c = (SELECT max(rev_c) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin)),

    // ---- TPC-H Q17 (small-quantity-order revenue, adapted: no
    // p_container, so the part class is the brand alone): the correlated
    // per-part AVG subquery becomes a grouped (sum, count) joined back,
    // with the 0.2·avg threshold as an integer cross-multiply
    // (5·qty·n < Σqty) so no float average is ever compared ----
    Query("q_tpch_q17", (s, d) => {
      val li = lineitem(s, d)
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          floor(col("l_extendedprice") * 100).cast("long").as("price_c"))
        .join(broadcast(part(s, d).where(col("p_brand") === "Brand#23")
          .select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
      val perPart = li.groupBy("l_partkey")
        .agg(sum("qty").as("_sum_q"), count(lit(1)).as("_n_q"))
      li.join(perPart, Seq("l_partkey"))
        .where(col("qty") * 5 * col("_n_q") < col("_sum_q"))
        .agg((sum("price_c").cast("double") / 100.0 / 7.0).as("avg_yearly"))
    },
      Some("""WITH li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_c
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand = 'Brand#23'
        |), per_part AS (
        |  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS sum_q,
        |    CAST(count(*) AS BIGINT) AS n_q
        |  FROM li GROUP BY l_partkey
        |)
        |SELECT CAST(sum(price_c) AS DOUBLE) / 100.0 / 7.0 AS avg_yearly
        |FROM li JOIN per_part USING (l_partkey)
        |WHERE qty * 5 * n_q < sum_q""".stripMargin)))
}
