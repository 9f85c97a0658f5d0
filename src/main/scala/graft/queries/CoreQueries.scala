package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._

/** Core relational and telemetry-window operator queries (SURVEY.md
  * §2.1–§2.8) over the driver testdata: joins, windows, OLAP grouping,
  * sketches, scalar functions. Oracle conventions: [[Query]].
  *
  * Scale notes (100 TB design): every query here is a single declarative
  * plan — scans prune columns/partitions, joins against the small dims
  * (region/nation/supplier) are broadcast, aggregations are partial
  * (map-side combine) before the single hash shuffle, and window stacks
  * share one `(user_id)` partitioning so the whole feature pipeline costs
  * exactly one shuffle.
  */
object CoreQueries {

  val all: Seq[Query] = Seq(
    // ---- A1/A3-style global + grouped aggregation (TPC-H Q1 shape) ----
    // SURVEY §2.4 A1/A3: grouped sum/avg/count over the fact table.
    Query("q1_agg", (s, d) => {
      lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
      Some("""SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_base_price,
        |  round(CAST(sum(l_extendedprice * (1.0 - l_discount)) AS DOUBLE), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ---- J5 equi joins through the dimension chain + grouped agg ----
    Query("q_join_agg", (s, d) => {
      val o = orders(s, d); val c = customer(s, d)
      val n = nation(s, d); val r = region(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("r_name")
        .agg(
          count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 2).as("total_revenue"))
        .orderBy("r_name")
    },
      Some("""SELECT r_name, count(*) AS n_orders,
        |  round(CAST(sum(o_totalprice) AS DOUBLE), 2) AS total_revenue
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // ---- J3 anti join: customers that never ordered ----
    Query("q_anti_join", (s, d) => {
      customer(s, d)
        .join(orders(s, d).where(col("o_totalprice") > 450000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")
    },
      Some("""SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ---- J7 semi join: suppliers with shipped lineitems ----
    Query("q_semi_join", (s, d) => {
      supplier(s, d)
        .join(lineitem(s, d).where(col("l_quantity") > 25),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_suppliers"))
        .orderBy("n_name")
    },
      Some("""SELECT n_name, count(*) AS n_suppliers
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_suppkey = s_suppkey AND l_quantity > 25)
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // ---- declarative bloom-filter membership: the filter is a bit
    // TABLE (word_idx, word) built over orders.o_custkey with
    // depth-salted portable hashes, probed by every customer key; the
    // exact semi-join twin sits beside it so the no-false-negative
    // guarantee (has_orders ⇒ in_bloom) is visible in the output and
    // the few false positives are data, not error ----
    Query("q_bloom", (s, d) => {
      import graft.operators.Bloom
      val cust = customer(s, d)
        .select(col("c_custkey").cast("long").as("c_custkey"))
      val filt = Bloom.build(orders(s, d), col("o_custkey"))
      val withOrders = orders(s, d)
        .select(col("o_custkey").cast("long").as("c_custkey")).distinct()
        .withColumn("has_orders", lit(true))
      Bloom.mightContain(filt, cust, "c_custkey")
        .select(col("c_custkey").cast("long").as("c_custkey"),
          col("in_bloom"))
        .join(withOrders, Seq("c_custkey"), "left")
        .select(col("c_custkey"), col("in_bloom"),
          coalesce(col("has_orders"), lit(false)).as("has_orders"))
        .orderBy("c_custkey")
    },
      // full bloom replay: same depth-salted addressing, 32-bit words in
      // BIGINTs via bit_or, min-over-depths membership; exact twin EXISTS
      Some("""WITH addr AS MATERIALIZED (
        |  SELECT CAST(d.range AS INT) AS depth,
        |    CAST(md5_number_upper(CAST(d.range AS VARCHAR) || '|'
        |        || CAST(o_custkey AS VARCHAR))
        |      % 72057594037927936 AS BIGINT) % 65536 AS bit
        |  FROM orders CROSS JOIN range(4) d
        |), filt AS MATERIALIZED (
        |  SELECT bit // 32 AS word_idx,
        |    bit_or(CAST(1 AS BIGINT) << CAST(bit % 32 AS INT)) AS word
        |  FROM addr GROUP BY 1
        |), paddr AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
        |    CAST(md5_number_upper(CAST(d.range AS VARCHAR) || '|'
        |        || CAST(c_custkey AS VARCHAR))
        |      % 72057594037927936 AS BIGINT) % 65536 AS bit
        |  FROM customer CROSS JOIN range(4) d
        |), pm AS (
        |  SELECT c_custkey,
        |    bool_and((coalesce(word, 0)
        |      & (CAST(1 AS BIGINT) << CAST(bit % 32 AS INT))) <> 0)
        |      AS in_bloom
        |  FROM (SELECT c_custkey, bit, bit // 32 AS word_idx FROM paddr) p
        |  LEFT JOIN filt USING (word_idx)
        |  GROUP BY c_custkey
        |)
        |SELECT pm.c_custkey, pm.in_bloom,
        |  EXISTS(SELECT 1 FROM orders o WHERE o.o_custkey = pm.c_custkey)
        |    AS has_orders
        |FROM pm ORDER BY c_custkey""".stripMargin)),

    // ---- J2 interval join (point-in-range, per key): the reference's
    // label recombine join (02.1.2_...label_recombine.py:358-398) shape,
    // expressed on orders×lineitem: ship within 90 days of order date.
    Query("q_interval_join", (s, d) => {
      val l = lineitem(s, d); val o = orders(s, d)
      l.join(o, l("l_orderkey") === o("o_orderkey") &&
          l("l_shipdate") >= o("o_orderdate") &&
          l("l_shipdate") <= date_add(o("o_orderdate"), 90))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
        .orderBy("o_orderpriority")
    },
      Some("""SELECT o_orderpriority, count(*) AS n_lines,
        |  round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  AND l_shipdate >= o_orderdate
        |  AND l_shipdate <= o_orderdate + INTERVAL 90 DAY
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // ---- W1/W2/W5: lag + inter-row delta (04_worker_script.sql:23-24) ----
    Query("q_window_lag", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .withColumn("prev_value", lag("value", 1).over(w))
        .withColumn("delta_us", unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
        .select(col("event_id"), col("user_id"), col("value"),
          coalesce(col("prev_value"), lit(-1.0)).as("prev_value"),
          coalesce(col("delta_us"), lit(-1L)).as("delta_us"))
        .orderBy("event_id")
    },
      Some("""SELECT event_id, user_id, value,
        |  coalesce(lag(value) OVER w, -1.0) AS prev_value,
        |  coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER w, -1) AS delta_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin)),

    // ---- W3: centered 5-row rolling mean (04_worker_script.sql:25,59) ----
    Query("q_window_rolling", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, d)
        .withColumn("value_smoothed", round(avg("value").over(w.rowsBetween(-2, 2)), 4))
        .select("event_id", "user_id", "value_smoothed")
        .orderBy("event_id")
    },
      Some("""SELECT event_id, user_id,
        |  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 4) AS value_smoothed
        |FROM events ORDER BY event_id""".stripMargin)),

    // ---- W4+W7: gaps-and-islands block id + running dwell time
    // (04_worker_script.sql:23-34,63-66). is_active plays is_stationary.
    Query("q_gaps_islands", (s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      // dwell accumulates in EXACT integer microseconds and divides once at
      // the end — no float running sum, so the result is bit-identical on
      // any engine (the round()-on-accumulated-floats hash hazard is gone)
      val base = events(s, d)
        .withColumn("is_active", col("value") >= 50.0)
        .withColumn("prev_active",
          coalesce(lag("is_active", 1).over(w), lit(false)))
        .withColumn("delta_us",
          coalesce(unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w), lit(0L)))
        .withColumn("block_id",
          sum(when(col("is_active") =!= col("prev_active"), 1).otherwise(0)).over(w))
      val wb = Window.partitionBy("user_id", "block_id").orderBy("ts", "event_id")
      base
        .withColumn("dwell_s",
          sum(when(col("is_active"), col("delta_us")).otherwise(0L)).over(wb) / 1e6)
        .select("event_id", "user_id", "is_active", "block_id", "dwell_s")
        .orderBy("event_id")
    },
      Some("""WITH base AS (
        |  SELECT event_id, user_id, ts, value >= 50.0 AS is_active,
        |    coalesce(lag(value >= 50.0) OVER w, false) AS prev_active,
        |    coalesce(epoch_us(ts) - lag(epoch_us(ts)) OVER w, 0) AS delta_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), blocks AS (
        |  -- CAST: DuckDB integer window sums return HUGEINT, which pandas
        |  -- renders as float64 ("1.0") while Spark writes int64 ("1") —
        |  -- value-identical but hash-different under the driver compare
        |  SELECT *, CAST(sum(CASE WHEN is_active != prev_active THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS block_id
        |  FROM base
        |)
        |SELECT event_id, user_id, is_active, block_id,
        |  CAST(sum(CASE WHEN is_active THEN delta_us ELSE 0 END)
        |    OVER (PARTITION BY user_id, block_id ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    / 1e6 AS dwell_s
        |FROM blocks ORDER BY event_id""".stripMargin)),

    // ---- A6: tumbling time-bucket aggregation (5s in the reference's CPD
    // downsample, 05_cpd_orchestrator_polars.py:263-276; 1h here to match
    // the events cadence). window() is streaming-compatible as-is.
    Query("q_time_bucket", (s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg((sum(round(col("value") * 100).cast("long")) / lit(100.0) /
          count(lit(1))).as("avg_value"), count(lit(1)).as("n"))
        .select(unix_micros(col("w.start")).as("bucket_start_us"), col("event_type"),
          col("avg_value"), col("n"))
        .orderBy("bucket_start_us", "event_type")
    },
      Some("""SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP))) AS bucket_start_us,
        |  event_type,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    / count(*) AS avg_value,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- OLAP rollup: hierarchical subtotals (event_type, day) + grand
    // total — the grouping-sets family SURVEY §2.4 notes as headroom ----
    Query("q_rollup", (s, d) => {
      events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .rollup("event_type", "day")
        .agg(count(lit(1)).as("n"),
          round(sum("value"), 2).as("sum_value"))
        .select(coalesce(col("event_type"), lit("<all>")).as("event_type"),
          coalesce(col("day"), lit("<all>")).as("day"),
          col("n"), col("sum_value"))
        .orderBy("event_type", "day")
    },
      Some("""SELECT coalesce(event_type, '<all>') AS event_type,
        |  coalesce(strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d'), '<all>') AS day,
        |  count(*) AS n,
        |  round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
        |FROM events
        |GROUP BY ROLLUP (event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d'))
        |ORDER BY event_type, day""".stripMargin)),

    // ---- SCD Type-2 dimension versioning: change stream → versioned
    // rows with [effective_from, effective_to) validity ----
    Query("q_scd2", (s, d) => {
      import graft.operators.TelemetryTransform
      val changes = events(s, d).where(col("event_id") % 40 === 0)
        .select(
          concat(lit("t"), (col("user_id") % 20).cast("string")).as("truck_id"),
          col("ts"),
          floor(col("value") * 10).cast("long").as("config_version"))
      TelemetryTransform.scd2(changes, "truck_id", "ts")
        .select(col("truck_id"),
          unix_micros(col("effective_from")).as("from_us"),
          unix_micros(col("effective_to")).as("to_us"),
          col("config_version"), col("is_current"))
        .orderBy("truck_id", "from_us")
    },
      Some("""WITH changes AS (
        |  SELECT 't' || CAST(user_id % 20 AS VARCHAR) AS truck_id,
        |    CAST(ts AS TIMESTAMP) AS ts,
        |    CAST(floor(value * 10) AS BIGINT) AS config_version
        |  FROM events WHERE event_id % 40 = 0
        |)
        |SELECT truck_id,
        |  epoch_us(ts) AS from_us,
        |  epoch_us(lead(ts) OVER (PARTITION BY truck_id
        |    ORDER BY ts, config_version)) AS to_us,
        |  config_version,
        |  lead(ts) OVER (PARTITION BY truck_id
        |    ORDER BY ts, config_version) IS NULL AS is_current
        |FROM changes ORDER BY truck_id, from_us""".stripMargin)),

    // ---- frequent items via Misra-Gries sketch + exact verify: skewed
    // key space (7 hot keys ≫ support, long cold tail); the sketch
    // guarantees every ≥-support key is a candidate, the verify pass makes
    // the output exact — so the plain GROUP BY/HAVING oracle applies ----
    Query("q_heavy_hitters", (s, d) => {
      import graft.operators.HeavyHitters
      // split-starvation guard: the sketch's partial phase is per-row
      // CPU (string build + map upkeep) and merges cheaply — it wants
      // cores, not one scan split
      val keyed = graft.Tables.ensureParallelism(events(s, d)).select(
        when(col("user_id") % 3 === 0,
          concat(lit("hot-"), (col("user_id") % 7).cast("string")))
          .otherwise(concat(lit("cold-"), col("user_id").cast("string")))
          .as("k"))
      HeavyHitters.topFrequent(keyed, "k", support = 0.02, capacity = 64)
    },
      Some("""WITH keyed AS (
        |  SELECT CASE WHEN user_id % 3 = 0
        |           THEN 'hot-' || CAST(user_id % 7 AS VARCHAR)
        |           ELSE 'cold-' || CAST(user_id AS VARCHAR) END AS k
        |  FROM events
        |)
        |SELECT k, count(*) AS n
        |FROM keyed GROUP BY k
        |HAVING count(*) >= CAST(ceil(0.02 * (SELECT count(*) FROM keyed))
        |  AS BIGINT)
        |ORDER BY n DESC, k""".stripMargin)),

    // ---- PER-GROUP frequent items (keyed Misra-Gries — the
    // q_hll_groups story for frequent keys): one sketch per event
    // type via groupBy + udaf, candidates broadcast back for the
    // exact verify, integer ceil-rank thresholds. The oracle is the
    // plain per-group frequency threshold — proving per-group sketch
    // completeness ----
    Query("q_hh_groups", (s, d) => {
      import graft.operators.HeavyHitters
      val keyed = graft.Tables.ensureParallelism(events(s, d)).select(
        col("event_type").as("g"),
        when(col("user_id") % 3 === 0,
          concat(lit("hot-"), (col("user_id") % 7).cast("string")))
          .otherwise(concat(lit("cold-"), col("user_id").cast("string")))
          .as("k"))
      HeavyHitters.topFrequentByGroup(keyed, "g", "k",
        supportNum = 2L, supportDen = 100L, capacity = 64)
    },
      Some("""WITH keyed AS (
        |  SELECT event_type AS g,
        |    CASE WHEN user_id % 3 = 0
        |      THEN 'hot-' || CAST(user_id % 7 AS VARCHAR)
        |      ELSE 'cold-' || CAST(user_id AS VARCHAR) END AS k
        |  FROM events
        |), cnt AS (
        |  SELECT g, k, CAST(count(*) AS BIGINT) AS n
        |  FROM keyed GROUP BY 1, 2
        |), tot AS (
        |  SELECT g, CAST(count(*) AS BIGINT) AS nr FROM keyed GROUP BY 1
        |)
        |SELECT g, k, n FROM cnt JOIN tot USING (g)
        |WHERE n >= (nr * 2 + 99) // 100
        |ORDER BY g, n DESC, k""".stripMargin)),

    // ---- as-of join (nearest prior state per truck — the kdb/DuckDB
    // ASOF LEFT JOIN, an operator Spark lacks natively): union +
    // carry-forward window, one shuffle, big-big safe ----
    Query("q_asof", (s, d) => {
      import graft.operators.IntervalJoin
      val ev = events(s, d).select(col("event_id"),
        concat(lit("t"), (col("user_id") % 20).cast("string"))
          .as("truck_id"),
        col("ts"))
      val st = events(s, d).where(col("event_id") % 50 === 0)
        .select(
          concat(lit("t"), (col("user_id") % 20).cast("string"))
            .as("truck_id"),
          col("ts").as("sts"),
          floor(col("value") * 100).cast("long").as("state_val"))
      IntervalJoin.asofJoin(ev, st, "truck_id", "ts", "sts",
          payload = Seq("state_val"))
        .select("event_id", "truck_id", "state_val")
        .orderBy("event_id")
    },
      Some("""WITH ev AS (
        |  SELECT event_id, 't' || CAST(user_id % 20 AS VARCHAR) AS truck_id,
        |    CAST(ts AS TIMESTAMP) AS ts
        |  FROM events
        |), st AS (
        |  SELECT 't' || CAST(user_id % 20 AS VARCHAR) AS truck_id,
        |    CAST(ts AS TIMESTAMP) AS sts,
        |    CAST(floor(value * 100) AS BIGINT) AS state_val
        |  FROM events WHERE event_id % 50 = 0
        |)
        |SELECT e.event_id, e.truck_id, s.state_val
        |FROM ev e ASOF LEFT JOIN st s
        |  ON e.truck_id = s.truck_id AND e.ts >= s.sts
        |ORDER BY e.event_id""".stripMargin)),

    // ---- OLAP cube: all grouping-set combinations of (event_type,
    // user-parity) — completes the grouping-sets family next to q_rollup --
    Query("q_cube", (s, d) => {
      events(s, d)
        .withColumn("parity",
          when(col("user_id") % 2 === 0, "even").otherwise("odd"))
        .cube("event_type", "parity")
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")) / 100.0)
            .as("sum_value"))
        .select(coalesce(col("event_type"), lit("<all>")).as("event_type"),
          coalesce(col("parity"), lit("<all>")).as("parity"),
          col("n"), col("sum_value"))
        .orderBy("event_type", "parity")
    },
      Some("""SELECT coalesce(event_type, '<all>') AS event_type,
        |  coalesce(parity, '<all>') AS parity,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_value
        |FROM (SELECT event_type, value,
        |        CASE WHEN user_id % 2 = 0 THEN 'even' ELSE 'odd' END AS parity
        |      FROM events)
        |GROUP BY CUBE (event_type, parity)
        |ORDER BY event_type, parity""".stripMargin)),

    // ---- gap filling (inverse of A6 downsampling): per-user daily grid
    // over each user's own extent, last observation carried forward into
    // empty days; carried values are copied bits, never recomputed ----
    Query("q_gap_fill", (s, d) => {
      import graft.operators.Downsample
      Downsample.gapFill(
          events(s, d).select("user_id", "ts", "value", "event_id"),
          "user_id", "ts", "value", stepUs = 86400000000L,
          tieBreak = Seq("event_id"))
        .orderBy("user_id", "bucket_start_us")
    },
      Some("""WITH b AS (
        |  SELECT user_id,
        |    CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS bucket,
        |    value,
        |    row_number() OVER (
        |      PARTITION BY user_id,
        |        CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT)
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |), actual AS (
        |  SELECT user_id, bucket, value FROM b WHERE rn = 1
        |), ext AS (
        |  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
        |  FROM actual GROUP BY user_id
        |), grid AS (
        |  SELECT user_id, unnest(range(lo, hi + 1)) AS bucket FROM ext
        |), j AS (
        |  SELECT g.user_id, g.bucket, a.value AS raw_value
        |  FROM grid g LEFT JOIN actual a
        |    ON g.user_id = a.user_id AND g.bucket = a.bucket
        |)
        |SELECT user_id, bucket * 86400000000 AS bucket_start_us,
        |  last_value(raw_value IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY bucket) AS value,
        |  raw_value IS NULL AS is_filled
        |FROM j ORDER BY user_id, bucket""".stripMargin)),

    // ---- set operations (EXCEPT / INTERSECT / UNION distinct) over
    // user cohorts — §2.7 completed beyond the union-only coverage ----
    Query("q_set_ops", (s, d) => {
      val e = events(s, d)
      val high = e.where(col("value") > 50).select("user_id").distinct()
      val clickers = e.where(col("event_type") === "click")
        .select("user_id").distinct()
      high.intersect(clickers).agg(count(lit(1)).as("n"))
        .select(lit("both").as("cohort"), col("n"))
        .unionByName(high.except(clickers).agg(count(lit(1)).as("n"))
          .select(lit("high_only").as("cohort"), col("n")))
        .unionByName(high.union(clickers).distinct()
          .agg(count(lit(1)).as("n"))
          .select(lit("either").as("cohort"), col("n")))
        .orderBy("cohort")
    },
      Some("""WITH high AS (
        |  SELECT DISTINCT user_id FROM events WHERE value > 50
        |), clickers AS (
        |  SELECT DISTINCT user_id FROM events WHERE event_type = 'click'
        |)
        |SELECT 'both' AS cohort,
        |  (SELECT count(*) FROM (SELECT * FROM high INTERSECT SELECT * FROM clickers)) AS n
        |UNION ALL
        |SELECT 'either',
        |  (SELECT count(*) FROM (SELECT * FROM high UNION SELECT * FROM clickers))
        |UNION ALL
        |SELECT 'high_only',
        |  (SELECT count(*) FROM (SELECT * FROM high EXCEPT SELECT * FROM clickers))
        |ORDER BY cohort""".stripMargin)),

    // ---- ranking-function family over grouped totals: dense_rank,
    // percent_rank, cume_dist, first/last_value with explicit frames —
    // ratios of small exact ints, engine-identical ----
    Query("q_window_ranks", (s, d) => {
      val totals = events(s, d)
        .groupBy(col("event_type"), (col("user_id") % 10).as("bucket"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val w = Window.partitionBy("event_type")
        .orderBy(col("cents").desc, col("bucket"))
      val wAll = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      totals.select(
          col("event_type"), col("bucket"),
          (col("cents").cast("double") / 100.0).as("total_value"),
          dense_rank().over(w).as("drank"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"),
          first_value(col("bucket")).over(wAll).as("top_bucket"),
          last_value(col("bucket")).over(wAll).as("bottom_bucket"))
        .orderBy("event_type", "bucket")
    },
      Some("""WITH totals AS (
        |  SELECT event_type, user_id % 10 AS bucket,
        |    sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
        |  CAST(cents AS DOUBLE) / 100.0 AS total_value,
        |  CAST(dense_rank() OVER w AS INTEGER) AS drank,
        |  percent_rank() OVER w AS prank,
        |  cume_dist() OVER w AS cdist,
        |  CAST(first_value(bucket) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING) AS BIGINT) AS top_bucket,
        |  CAST(last_value(bucket) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING) AS BIGINT) AS bottom_bucket
        |FROM totals
        |WINDOW w AS (PARTITION BY event_type ORDER BY cents DESC, bucket)
        |ORDER BY event_type, bucket""".stripMargin)),

    // ---- unpivot/melt (Dataset.unpivot — the inverse of q_pivot):
    // wide per-bucket type counts back to long (bucket, event_type, n)
    // rows ----
    Query("q_unpivot", (s, d) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = events(s, d)
        .withColumn("bucket", (col("user_id") % 10).cast("long"))
        .groupBy("bucket")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L)
      wide.unpivot(
          Array(col("bucket")),
          types.map(col).toArray,
          "event_type", "n")
        .orderBy("bucket", "event_type")
    },
      Some("""WITH wide AS (
        |  SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
        |    count(*) FILTER (event_type = 'click') AS click,
        |    count(*) FILTER (event_type = 'error') AS error,
        |    count(*) FILTER (event_type = 'purchase') AS purchase,
        |    count(*) FILTER (event_type = 'signup') AS signup,
        |    count(*) FILTER (event_type = 'view') AS view
        |  FROM events GROUP BY 1
        |)
        |SELECT bucket, event_type, n FROM wide
        |UNPIVOT (n FOR event_type IN (click, error, purchase, signup, view))
        |ORDER BY bucket, event_type""".stripMargin)),

    // ---- true dynamic pivot (RelationalGroupedDataset.pivot with
    // pinned value list — pinning keeps the schema deterministic AND
    // avoids the extra distinct-values job): per-user-bucket counts by
    // event type as columns ----
    Query("q_pivot", (s, d) => {
      events(s, d)
        .withColumn("bucket", (col("user_id") % 10).cast("long"))
        .groupBy("bucket")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy("bucket")
    },
      Some("""SELECT CAST(user_id % 10 AS BIGINT) AS bucket,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'error') AS error,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- null semantics: null-safe equality (<=> / IS NOT DISTINCT
    // FROM) join + NULLS LAST ordering — the semantics corner every
    // engine must agree on exactly ----
    Query("q_null_semantics", (s, d) => {
      val e = events(s, d).select(col("event_id"),
        // value > 98 → null stripe, else a small key with nulls on %7
        when(col("value") > 98, lit(null).cast("long"))
          .otherwise((col("user_id") % 7).cast("long")).as("k"))
      val dim = s.range(7).select(col("id").as("k"),
          concat(lit("grp-"), col("id").cast("string")).as("grp"))
        .unionByName(s.range(1).select(lit(null).cast("long").as("k"),
          lit("grp-null").as("grp")))
      e.join(dim, e("k") <=> dim("k"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n"))
        .orderBy("grp")
    },
      Some("""WITH e AS (
        |  SELECT event_id,
        |    CASE WHEN value > 98 THEN NULL
        |         ELSE CAST(user_id % 7 AS BIGINT) END AS k
        |  FROM events
        |), dim AS (
        |  SELECT CAST(range AS BIGINT) AS k,
        |    'grp-' || CAST(range AS VARCHAR) AS grp FROM range(7)
        |  UNION ALL SELECT NULL, 'grp-null'
        |)
        |SELECT grp, count(*) AS n
        |FROM e JOIN dim ON e.k IS NOT DISTINCT FROM dim.k
        |GROUP BY grp ORDER BY grp""".stripMargin)),

    // ---- time-RANGE window: trailing 1-hour per-user mean — the
    // interval-frame capability (RANGE BETWEEN x PRECEDING) that row
    // frames can't express on irregular event times ----
    Query("q_range_window", (s, d) => {
      val w = Window.partitionBy("user_id")
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600000000L, 0)
      events(s, d).select(
          col("event_id"), col("user_id"),
          (sum(round(col("value") * 100).cast("long")).over(w)
            .cast("double") / 100.0 / count(lit(1)).over(w))
            .as("trail_avg_1h"),
          count(lit(1)).over(w).as("n_trail"))
        .orderBy("event_id")
    },
      Some("""SELECT event_id, user_id,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS DOUBLE)
        |    / 100.0 / count(*) OVER w AS trail_avg_1h,
        |  count(*) OVER w AS n_trail
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin)),

    // ---- arbitrary GROUPING SETS (the general form behind rollup/cube):
    // by-type, by-day, and grand total in one pass — Spark 4's native
    // Dataset.groupingSets ----
    Query("q_grouping_sets", (s, d) => {
      events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .groupingSets(
          Seq(Seq(col("event_type")), Seq(col("day")), Seq()),
          col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"),
          (sum(round(col("value") * 100).cast("long")) / 100.0)
            .as("sum_value"))
        .select(coalesce(col("event_type"), lit("<all>")).as("event_type"),
          coalesce(col("day"), lit("<all>")).as("day"),
          col("n"), col("sum_value"))
        .orderBy("event_type", "day")
    },
      Some("""SELECT coalesce(event_type, '<all>') AS event_type,
        |  coalesce(day, '<all>') AS day,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_value
        |FROM (SELECT event_type, value,
        |        strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day
        |      FROM events)
        |GROUP BY GROUPING SETS ((event_type), (day), ())
        |ORDER BY event_type, day""".stripMargin)),

    // ---- exact interpolated percentiles (percentile ≡ quantile_cont):
    // computed over integer-quantized cents so both engines interpolate
    // between identical exact integers (lower + (upper-lower)·frac on
    // small ints is engine-identical; raw-double interpolation would
    // expose internal op-order differences) ----
    Query("q_percentiles", (s, d) => {
      events(s, d)
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          percentile(col("cents"), lit(0.5)).as("_p50"),
          percentile(col("cents"), lit(0.95)).as("_p95"))
        .select(col("event_type"), col("n"),
          (floor(col("_p50") * 1e4) / 1e6).as("p50"),
          (floor(col("_p95") * 1e4) / 1e6).as("p95"))
        .orderBy("event_type")
    },
      Some("""SELECT event_type, count(*) AS n,
        |  floor(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5)
        |    * 1e4) / 1e6 AS p50,
        |  floor(quantile_cont(CAST(round(value * 100) AS BIGINT), 0.95)
        |    * 1e4) / 1e6 AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- sliding windows: window(ts, 2h, 1h) — each event lands in two
    // overlapping buckets; oracle = join to the covering hour-starts ----
    Query("q_sliding_window", (s, d) => {
      events(s, d)
        .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_micros(col("w.start")).as("win_start_us"),
          col("event_type"), col("n"))
        .orderBy("win_start_us", "event_type")
    },
      Some("""WITH cov AS (
        |  SELECT e.event_type,
        |    epoch_us(time_bucket(INTERVAL 1 HOUR, CAST(e.ts AS TIMESTAMP)))
        |      - k.k * 3600000000 AS win_start_us
        |  FROM events e CROSS JOIN (SELECT unnest(range(2)) AS k) k
        |)
        |SELECT win_start_us, event_type, count(*) AS n
        |FROM cov GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- session windows: Spark's session_window vs the classic
    // gaps-and-islands sessionization (new session when gap >= 30 min) —
    // the streaming-native generalization of the reference's island logic.
    Query("q_sessionize", (s, d) => {
      events(s, d)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          unix_micros(min("ts")).as("first_us"),
          unix_micros(max("ts")).as("last_us"))
        .select(col("user_id"), col("first_us"), col("last_us"),
          col("n_events"))
        .orderBy("user_id", "first_us")
    },
      Some("""WITH g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) -
        |      lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |        OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      >= 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |), s AS (
        |  SELECT user_id, ts,
        |    sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g
        |)
        |SELECT user_id,
        |  epoch_us(CAST(min(ts) AS TIMESTAMP)) AS first_us,
        |  epoch_us(CAST(max(ts) AS TIMESTAMP)) AS last_us,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, first_us""".stripMargin)),

    // ---- A1: global stats aggregation (01_ingest_raw_telemetry.py:318-327) ----
    Query("q_stats_global", (s, d) => {
      events(s, d).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("n_types"),
        unix_micros(min("ts")).as("min_ts_us"),
        unix_micros(max("ts")).as("max_ts_us"),
        round(sum("value"), 2).as("sum_value"))
    },
      Some("""SELECT count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT event_type) AS n_types,
        |  epoch_us(CAST(min(ts) AS TIMESTAMP)) AS min_ts_us,
        |  epoch_us(CAST(max(ts) AS TIMESTAMP)) AS max_ts_us,
        |  round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
        |FROM events""".stripMargin)),

    // ---- A4: conditional-count pivot by group (EDA notebook cell 8) ----
    Query("q_cond_pivot", (s, d) => {
      events(s, d)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          count(when(col("user_id") % 2 === 0, 1)).as("n_even_users"),
          count(when(col("value") > 50, 1)).as("n_high"),
          (sum(when(col("value") > 50, round(col("value") * 100).cast("long")))
            / lit(100.0) / count(when(col("value") > 50, 1))).as("avg_high"))
        .orderBy("event_type")
    },
      Some("""SELECT event_type, count(*) AS n,
        |  count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS n_even_users,
        |  count(CASE WHEN value > 50 THEN 1 END) AS n_high,
        |  CAST(sum(CASE WHEN value > 50 THEN CAST(round(value * 100) AS BIGINT) END)
        |    AS DOUBLE) / 100.0 / count(CASE WHEN value > 50 THEN 1 END) AS avg_high
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // ---- §2.8 string scalar functions + P6 LIKE predicate ----
    Query("q_scalar_string", (s, d) => {
      customer(s, d)
        .where(col("c_mktsegment").like("%BUILD%") || col("c_mktsegment").like("%AUTO%"))
        .select(
          col("c_custkey"),
          lower(trim(col("c_name"))).as("name_lc"),
          concat(col("c_mktsegment"), lit("_"), col("c_nationkey").cast("string")).as("seg_nation"),
          substring(col("c_name"), 1, 8).as("name_prefix"),
          length(col("c_name")).cast("long").as("name_len"))
        .orderBy("c_custkey")
    },
      Some("""SELECT c_custkey,
        |  lower(trim(c_name)) AS name_lc,
        |  c_mktsegment || '_' || CAST(c_nationkey AS VARCHAR) AS seg_nation,
        |  substring(c_name, 1, 8) AS name_prefix,
        |  CAST(length(c_name) AS BIGINT) AS name_len
        |FROM customer
        |WHERE c_mktsegment LIKE '%BUILD%' OR c_mktsegment LIKE '%AUTO%'
        |ORDER BY c_custkey""".stripMargin)),

    // ---- §2.8 hash identity: sha2(key || '|' || ts_text) — the silver
    // row id (02_raw_telemetry_transform.sql:39-47 semantics).
    Query("q_hash_id", (s, d) => {
      events(s, d)
        .select(col("event_id"),
          sha2(concat(col("user_id").cast("string"), lit("|"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")), 256).as("row_hash"))
        .orderBy("event_id")
    },
      Some("""SELECT event_id,
        |  sha256(CAST(user_id AS VARCHAR) || '|' ||
        |    strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S.%f')) AS row_hash
        |FROM events ORDER BY event_id""".stripMargin)),

    // ---- §2.8 JSON extraction (extras JSONB semantics) ----
    Query("q_json_extract", (s, d) => {
      events(s, d)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("k")
        .agg(count(lit(1)).as("n"),
          // integer-cents average: value has exactly 2 decimals, so the
          // bigint sum is order-independent and the single division gives
          // bit-identical doubles in Spark and DuckDB (a rounded float avg
          // straddles decimal boundaries differently per engine)
          (sum(round(col("value") * 100).cast("long")) / lit(100.0) /
            count(lit(1))).as("avg_value"))
        .orderBy("k")
    },
      Some("""SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    / count(*) AS avg_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- O4 top-k with total order (count desc, key tiebreak) ----
    Query("q_topk", (s, d) => {
      events(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .orderBy(col("n_events").desc, col("user_id"))
        .limit(10)
    },
      Some("""SELECT user_id, count(*) AS n_events,
        |  round(CAST(sum(value) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY user_id
        |ORDER BY n_events DESC, user_id LIMIT 10""".stripMargin)),

    // ---- U1/U3: union + distinct ----
    Query("q_distinct_union", (s, d) => {
      val e = events(s, d)
      e.where(col("value") > 90).select(col("event_type"))
        .union(e.where(col("user_id") < 5).select(col("event_type")))
        .distinct()
        .orderBy("event_type")
    },
      Some("""SELECT DISTINCT event_type FROM (
        |  SELECT event_type FROM events WHERE value > 90
        |  UNION ALL
        |  SELECT event_type FROM events WHERE user_id < 5
        |) ORDER BY event_type""".stripMargin)),

    // ---- P7/P8: threshold flags + clamping/sentinel cleaning
    // (database_pipeline.py:299-327: speeds <0→0, >50→50; -99→NULL) ----
    Query("q_clamp_flags", (s, d) => {
      events(s, d)
        .select(
          col("event_id"),
          when(col("value") < 10, 0.0).when(col("value") > 90, 90.0)
            .otherwise(col("value")).as("value_clamped"),
          (col("value") < 0.5).as("is_stationary"),
          when(col("value") === 6.55, null).otherwise(col("value")).as("value_desentineled"))
        .orderBy("event_id")
    },
      Some("""SELECT event_id,
        |  CASE WHEN value < 10 THEN 0.0 WHEN value > 90 THEN 90.0 ELSE value END AS value_clamped,
        |  value < 0.5 AS is_stationary,
        |  CASE WHEN value = 6.55 THEN NULL ELSE value END AS value_desentineled
        |FROM events ORDER BY event_id""".stripMargin)))
}
