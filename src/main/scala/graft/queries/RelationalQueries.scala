package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** The relational query pack (SURVEY.md §2.4–§2.8): scans, filters,
  * equi/broadcast/semi/anti/range joins, hash aggregations, rollup/cube,
  * window functions, set operations, sorts and top-k — each with an
  * exactly-matching DuckDB oracle.
  *
  * Cross-engine determinism rules used throughout (so result hashes
  * match bit-for-bit):
  *  - money sums go through `CAST(x AS DECIMAL)` before SUM — decimal
  *    addition is exact and order-independent, so shuffle order can't
  *    change the answer; the final value is cast back to DOUBLE;
  *  - every output is deterministically ordered, with NULLS FIRST spelled
  *    out in the SQL (DuckDB defaults to NULLS LAST, Spark to first);
  *  - timestamps are emitted as epoch-microsecond BIGINTs;
  *  - window orderings always carry a unique tie-break key.
  */
object RelationalQueries {
  type Q = (SparkSession, String) => DataFrame

  // q01: filtered scan + projection. Filter and column pruning reach the
  // parquet scan (PushedFilters in the formatted plan).
  private val q01: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter(col("l_quantity") >= 45 && col("l_discount") > 0.05)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  private val q01Sql =
    """SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_extendedprice
      |FROM lineitem WHERE l_quantity >= 45 AND l_discount > 0.05
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // q02: TPC-H Q1-shaped aggregation (hash agg, partial+final).
  private val q02: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("sum_disc_price"),
        sum((col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
          .cast("decimal(18,6)")).cast("double").as("sum_charge"),
        (sum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag", "l_linestatus")

  private val q02Sql =
    """SELECT l_returnflag, l_linestatus,
      |  SUM(l_quantity) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
      |  SUM(l_quantity) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // q03: broadcast equi join (customer is the small dim side).
  private val q03: Q = (s, d) =>
    Tables.orders(s, d)
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_total"))
      .orderBy("c_mktsegment")

  private val q03Sql =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // q04: multi-way join down the star (lineitem⋈orders⋈customer⋈nation⋈
  // region), dims broadcast; revenue per region/nation.
  private val q04: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,4)"))
          .cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .orderBy("r_name", "n_name")

  private val q04Sql =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // q05: left-semi join (EXISTS).
  private val q05: Q = (s, d) =>
    Tables.orders(s, d)
      .join(
        Tables.lineitem(s, d).filter(col("l_quantity") >= 48),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus")

  private val q05Sql =
    """SELECT o_orderstatus, COUNT(*) AS n FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity >= 48)
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // q06: left-anti join (NOT EXISTS) — customers with no high-value
  // order (every customer has *some* order in this synthetic data, so
  // the unfiltered anti join would be vacuously empty).
  private val q06: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  private val q06Sql =
    """SELECT c_mktsegment, COUNT(*) AS n FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // q07: window top-N per group (row_number with full tie-break).
  private val q07: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  private val q07Sql =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  // q08: running-sum window (rows frame). The window order carries
  // l_quantity as the FINAL tie-break: the synthetic lineitem has
  // duplicate (orderkey, linenumber) keys, and a ROWS frame over a
  // tied sort key makes the running sum depend on the engine's
  // arbitrary tie order (caught as a 1-row cross-engine flake at
  // sf0.1). With quantity in the order, rows tied on EVERYTHING
  // produce the same output multiset regardless of which comes first,
  // so the result is total-order-deterministic in both engines.
  private val q08: Q = (s, d) => {
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_quantity")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, d)
      .withColumn("running_qty", sum(col("l_quantity")).over(w))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_qty")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
  }

  private val q08Sql =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  SUM(l_quantity) OVER (PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
      |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber""".stripMargin

  // q09: global top-k — orderBy+limit plans as a TakeOrderedAndProject
  // (per-partition heaps, no global sort): when collected, the graft
  // TakeOrderedAndProjectCollectExec; under a write, Spark's exec.
  private val q09: Q = (s, d) =>
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  private val q09Sql =
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin

  // q10: set operations — INTERSECT (set semantics) + EXCEPT.
  private val q10: Q = (s, d) => {
    val o = Tables.orders(s, d)
    val open = o.filter(col("o_orderstatus") === "O").select(col("o_custkey").as("k"))
    val fin  = o.filter(col("o_orderstatus") === "F").select(col("o_custkey").as("k"))
    val both  = open.intersect(fin).select(lit("both").as("op"), col("k"))
    val onlyO = open.except(fin).select(lit("only_open").as("op"), col("k"))
    both.unionAll(onlyO).orderBy("op", "k")
  }

  private val q10Sql =
    """SELECT * FROM (
      |  SELECT 'both' AS op, k FROM (
      |    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
      |    INTERSECT
      |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |  UNION ALL
      |  SELECT 'only_open' AS op, k FROM (
      |    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
      |    EXCEPT
      |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
      |ORDER BY op, k""".stripMargin

  // q11: distinct.
  private val q11: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")

  private val q11Sql =
    """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // q12: rollup (grouping sets) — note NULLS FIRST to match Spark's
  // ascending default.
  private val q12: Q = (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))

  private val q12Sql =
    """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, COUNT(*) AS n
      |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // q13: cube.
  private val q13: Q = (s, d) =>
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_total"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))

  private val q13Sql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // q14: CASE WHEN classifier + scalar string functions (the P4/P5/P6
  // shapes from SURVEY §2.2) — all codegen'd built-ins.
  private val q14: Q = (s, d) =>
    Tables.part(s, d)
      .withColumn("size_class",
        when(col("p_size") < 10, "small")
          .when(col("p_size") < 30, "medium")
          .otherwise("large"))
      .withColumn("name_id", regexp_replace(lower(col("p_name")), "\\s+", "_"))
      .withColumn("type_word", upper(substring_index(col("p_type"), " ", 1)))
      .select("p_partkey", "size_class", "name_id", "type_word")
      .orderBy("p_partkey")

  private val q14Sql =
    """SELECT p_partkey,
      |  CASE WHEN p_size < 10 THEN 'small'
      |       WHEN p_size < 30 THEN 'medium' ELSE 'large' END AS size_class,
      |  regexp_replace(lower(p_name), '\s+', '_', 'g') AS name_id,
      |  upper(split_part(p_type, ' ', 1)) AS type_word
      |FROM part ORDER BY p_partkey""".stripMargin

  // q15: range (theta) join against a tiny in-memory band dim —
  // broadcast nested loop, the right plan for a 4-row build side.
  private val q15: Q = (s, d) => {
    val bands = s.createDataFrame(Seq(
      (900.0, 925.0), (925.0, 950.0), (950.0, 975.0), (975.0, 1000.0)))
      .toDF("lo", "hi")
    Tables.part(s, d)
      .join(broadcast(bands), col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
      .groupBy("lo", "hi")
      .agg(count(lit(1)).as("n"),
        sum(col("p_retailprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy("lo")
  }

  private val q15Sql =
    """SELECT lo, hi, COUNT(*) AS n,
      |  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM part
      |JOIN (VALUES (900.0, 925.0), (925.0, 950.0),
      |             (950.0, 975.0), (975.0, 1000.0)) AS b(lo, hi)
      |  ON p_retailprice >= lo AND p_retailprice < hi
      |GROUP BY lo, hi ORDER BY lo""".stripMargin

  // q16: as-of join in event-time — for each purchase, the most recent
  // preceding click by the same user (window fill-down; the O-PAIR
  // pattern on the events table).
  private val q16: Q = (s, d) => {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(s, d)
      .withColumn("prev_click_us",
        last(when(col("event_type") === "click", unix_micros(col("ts"))), ignoreNulls = true)
          .over(w))
      .filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "prev_click_us")
      .orderBy("user_id", "event_id")
  }

  private val q16Sql =
    """SELECT user_id, event_id, prev_click_us FROM (
      |  SELECT user_id, event_id, event_type,
      |    last_value(CASE WHEN event_type = 'click'
      |                    THEN epoch_us(CAST(ts AS TIMESTAMP)) END IGNORE NULLS)
      |      OVER (PARTITION BY user_id
      |            ORDER BY CAST(ts AS TIMESTAMP), event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_us
      |  FROM events) t
      |WHERE event_type = 'purchase' ORDER BY user_id, event_id""".stripMargin

  // q17: tumbling event-time window aggregation (the batch-equivalent of
  // the Structured Streaming windowed agg; see graft.streaming).
  private val q17: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(unix_micros(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")

  private val q17Sql =
    """SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 600000000) * 600000000 AS win_start,
      |  event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  // events_window_psi: the batch twin of the streaming drift monitor —
  // per-day value histograms over fixed buckets, then each window's PSI
  // against its predecessor via DriftMonitor.psiSeries (the EXACT code
  // the streaming monitor's sink analysis runs; DriftMonitorSpec pins
  // streaming == batch, this oracle pins batch == DuckDB — together the
  // standing monitor is cross-engine-verified end to end). Same ln
  // round(6) convention as table_drift.
  private val eventsWindowPsi: Q = (s, d) => {
    val hist = Tables.events(s, d)
      .groupBy(window(col("ts"), "1 day"),
        least(greatest(floor(col("value") / 50.0).cast("int"), lit(0)), lit(9))
          .as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("bucket"), col("n"))
    graft.streaming.DriftMonitor.psiSeries(hist, 10, "1 day")
      .select(unix_micros(col("wstart")).as("win_start"), col("psi"),
        col("n_prev").cast("long").as("n_prev"),
        col("n_cur").cast("long").as("n_cur"))
      .orderBy("win_start")
  }

  private val eventsWindowPsiSql =
    """WITH hist AS (
      |  SELECT (epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) * 86400000000 AS w,
      |         LEAST(GREATEST(CAST(FLOOR(value / 50.0) AS INT), 0), 9) AS bucket,
      |         COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |wins AS (SELECT DISTINCT w FROM hist),
      |pairs AS (SELECT c.w FROM wins c JOIN wins p ON p.w = c.w - 86400000000),
      |axis AS (SELECT pairs.w AS w, r.range AS bucket FROM pairs CROSS JOIN range(10) r),
      |joined AS (
      |  SELECT a.w, a.bucket,
      |    COALESCE(p.n, 0) AS na, COALESCE(c.n, 0) AS nb
      |  FROM axis a
      |  LEFT JOIN hist p ON p.w = a.w - 86400000000 AND p.bucket = a.bucket
      |  LEFT JOIN hist c ON c.w = a.w AND c.bucket = a.bucket),
      |tot AS (SELECT w, SUM(na) AS ta, SUM(nb) AS tb FROM joined GROUP BY w)
      |SELECT j.w AS win_start,
      |  ROUND(SUM(((j.na + 1.0) / (t.ta + 10) - (j.nb + 1.0) / (t.tb + 10)) *
      |    LN(((j.na + 1.0) / (t.ta + 10)) / ((j.nb + 1.0) / (t.tb + 10)))), 6) AS psi,
      |  CAST(MIN(t.ta) AS BIGINT) AS n_prev, CAST(MIN(t.tb) AS BIGINT) AS n_cur
      |FROM joined j JOIN tot t USING (w)
      |GROUP BY j.w ORDER BY win_start""".stripMargin

  // events_anomaly_mad: robust per-type outlier detection — median +
  // MAD (median absolute deviation), the monitoring staple that
  // survives the heavy tails that wreck mean/stddev z-scores (one
  // outlier inflates the stddev and hides its siblings; the median
  // pair is 50%-breakdown robust). Shape: two exact interpolated
  // medians (Spark `percentile` ≡ DuckDB `quantile_cont` — identical
  // p·(n−1) interpolation, bit-equal doubles) with the tiny per-type
  // frames BROADCAST back; the events table is scanned, never sorted
  // globally or shuffled by row — at 100 TB the cost is three scans
  // plus per-type exact percentiles (swap in qsketch cells when the
  // per-type distribution outgrows memory). Flag rule: adev > 3·MAD.
  private val eventsAnomalyMad: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"))
    val med = ev.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(when(col("adev") > lit(3.0) * col("mad"), lit(1))).as("n_outliers"),
        min(col("med")).as("med"), min(col("mad")).as("mad"))
      .orderBy("event_type")
  }

  private val eventsAnomalyMadSql =
    """WITH ev AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
      |med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
      |        FROM ev GROUP BY event_type),
      |dev AS (SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
      |        FROM ev e JOIN med m USING (event_type)),
      |mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
      |        FROM dev GROUP BY event_type)
      |SELECT d.event_type, COUNT(*) AS n,
      |  COUNT(*) FILTER (WHERE d.adev > 3.0 * m.mad) AS n_outliers,
      |  MIN(d.med) AS med, MIN(m.mad) AS mad
      |FROM dev d JOIN mad m USING (event_type)
      |GROUP BY d.event_type ORDER BY event_type""".stripMargin

  // events_drift_ks: two-sample Kolmogorov–Smirnov drift between the
  // even-day and odd-day value distributions per event type, computed
  // off TWO qsketch aggregates and the qsketch_ks scalar — the
  // binning-free complement of the PSI monitor (KS is scale-invariant
  // and catches location/shape shifts PSI's fixed buckets blur; PSI
  // grades mass moves KS underweights in the tails — a drift suite
  // wants both). Value axis is the %128-bounded derived column (the
  // qsketch oracle-validity trick): every sketch stays in the EXACT
  // regime at any sf, where qsketch_ks IS the classical two-sample KS
  // statistic — cumulative-count divisions of identical integers are
  // bit-equal doubles across engines, so no rounding is needed. The
  // exchange carries two bounded sketch buffers per event type, never
  // value rows.
  private val eventsDriftKs: Q = (s, d) => {
    import graft.expr.QuantileSketchExpr._
    val ev = Tables.events(s, d)
      .filter(col("value").isNotNull)
      .withColumn("v",
        (round(col("value") * 100).cast("long") % 128).cast("double"))
      .withColumn("side", expr("(unix_micros(ts) div 86400000000) % 2 = 0"))
    ev.groupBy("event_type")
      .agg(qsketch(when(col("side"), col("v")), 256).as("ska"),
        qsketch(when(!col("side"), col("v")), 256).as("skb"))
      .select(col("event_type"),
        qsketchN(col("ska")).as("n_a"), qsketchN(col("skb")).as("n_b"),
        qsketchKs(col("ska"), col("skb")).as("ks"))
      .orderBy("event_type")
  }

  private val eventsDriftKsSql =
    """WITH ev AS (SELECT event_type,
      |    CAST(CAST(round(value * 100) AS BIGINT) % 128 AS DOUBLE) AS v,
      |    ((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) % 2 = 0) AS side
      |  FROM events WHERE value IS NOT NULL),
      |counts AS (SELECT event_type, v,
      |    COUNT(*) FILTER (WHERE side) AS ca,
      |    COUNT(*) FILTER (WHERE NOT side) AS cb
      |  FROM ev GROUP BY event_type, v),
      |cum AS (SELECT event_type, v,
      |    SUM(ca) OVER (PARTITION BY event_type ORDER BY v) AS cuma,
      |    SUM(cb) OVER (PARTITION BY event_type ORDER BY v) AS cumb,
      |    SUM(ca) OVER (PARTITION BY event_type) AS na,
      |    SUM(cb) OVER (PARTITION BY event_type) AS nb
      |  FROM counts)
      |SELECT event_type,
      |  CAST(MIN(na) AS BIGINT) AS n_a, CAST(MIN(nb) AS BIGINT) AS n_b,
      |  MAX(abs(CAST(cuma AS DOUBLE) / CAST(na AS DOUBLE)
      |        - CAST(cumb AS DOUBLE) / CAST(nb AS DOUBLE))) AS ks
      |FROM cum GROUP BY event_type ORDER BY event_type""".stripMargin

  // q18: session windows (gap 2h) per user — batch session_window; the
  // DuckDB oracle is the classic gaps-and-islands rewrite. New session
  // starts when the gap is >= the timeout (matches Spark's half-open
  // [ts, ts+gap) merge semantics).
  private val q18: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window(col("ts"), "2 hours"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("session_window.start")).as("session_start"), col("n"))
      .orderBy("user_id", "session_start")

  private val q18Sql =
    """WITH e AS (
      |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
      |m AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 2 HOUR
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
      |                     ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM m)
      |SELECT user_id, epoch_us(MIN(ts)) AS session_start, COUNT(*) AS n
      |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin

  // q19: fuzzy matching (P12) — levenshtein + normalized similarity over
  // all nation-name pairs (25×25; a broadcast cross product of a dim
  // table, not a fact-table crossJoin).
  private val q19: Q = (s, d) => {
    val a = Tables.nation(s, d).select(col("n_name").as("name_a"))
    val b = Tables.nation(s, d).select(col("n_name").as("name_b"))
    a.crossJoin(broadcast(b))
      .filter(col("name_a") < col("name_b"))
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
      .withColumn("sim", lit(1.0) - col("lev").cast("double") /
        greatest(length(col("name_a")), length(col("name_b"))).cast("double"))
      .filter(col("sim") >= 0.7)
      .orderBy("name_a", "name_b")
  }

  private val q19Sql =
    """SELECT a.n_name AS name_a, b.n_name AS name_b,
      |  levenshtein(a.n_name, b.n_name) AS lev,
      |  1.0 - levenshtein(a.n_name, b.n_name) /
      |    CAST(greatest(length(a.n_name), length(b.n_name)) AS DOUBLE) AS sim
      |FROM nation a, nation b
      |WHERE a.n_name < b.n_name
      |  AND 1.0 - levenshtein(a.n_name, b.n_name) /
      |    CAST(greatest(length(a.n_name), length(b.n_name)) AS DOUBLE) >= 0.7
      |ORDER BY name_a, name_b""".stripMargin

  // q20: approx_count_distinct (HLL++). No SQL oracle — DuckDB's HLL
  // sketch differs by construction; the driver records a rows-only check.
  private val q20: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  // q21: explicit grouping sets.
  private val q21: Q = (s, d) => {
    val o = Tables.orders(s, d)
    o.groupingSets(
      Seq(Seq(col("o_orderstatus"), col("o_orderpriority")), Seq(col("o_orderstatus")), Seq()),
      col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
  }

  private val q21Sql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin

  // q22: date-part aggregation over the orders time dimension.
  private val q22: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_total"))
      .orderBy("yr", "mo")

  private val q22Sql =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr, CAST(month(o_orderdate) AS INT) AS mo,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total
      |FROM orders GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin

  // q23: exact percentiles (linear interpolation — same definition in
  // Spark `percentile` and DuckDB `quantile_cont`).
  private val q23: Q = (s, d) =>
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy("o_orderpriority")

  private val q23Sql =
    """SELECT o_orderpriority,
      |  round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
      |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // q24: moment statistics computed from exact decimal sums so shuffle
  // order can't perturb them (stddev over raw doubles would be
  // order-sensitive in the last ulps).
  private val q24: Q = (s, d) => {
    val sum1 = sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
    val sum2 = sum((col("o_totalprice") * col("o_totalprice")).cast("decimal(38,4)")).cast("double")
    val n = count(lit(1)).cast("double")
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        round((sum1 / n), 4).as("mean"),
        round(sqrt((sum2 - sum1 * sum1 / n) / (n - lit(1.0))), 4).as("stddev"))
      .orderBy("o_orderstatus")
  }

  private val q24Sql =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4) AS mean,
      |  round(sqrt((CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(38,4))) AS DOUBLE)
      |    - CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |      * CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*))
      |    / (COUNT(*) - 1.0)), 4) AS stddev
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // q25: ordered string aggregation (collect_set is shuffle-order
  // nondeterministic — array_sort is mandatory; SURVEY §7 rule).
  private val q25: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"),
        countDistinct(col("l_linestatus")).as("n_status"))
      .orderBy("l_returnflag")

  private val q25Sql =
    """SELECT l_returnflag,
      |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
      |  COUNT(DISTINCT l_linestatus) AS n_status
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // q26: pivot (wide aggregation); oracle = FILTERed aggregates.
  private val q26: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O", "P"))
      .agg(sum(col("l_quantity")))
      .orderBy("l_returnflag")

  private val q26Sql =
    """SELECT l_returnflag,
      |  SUM(l_quantity) FILTER (WHERE l_linestatus = 'F') AS F,
      |  SUM(l_quantity) FILTER (WHERE l_linestatus = 'O') AS O,
      |  SUM(l_quantity) FILTER (WHERE l_linestatus = 'P') AS P
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // q40: unpivot (melt) — the inverse of q26's pivot, proven lossless:
  // wide (flag, F, O, P) back to long (flag, status, sum) must equal
  // the long-form aggregate computed directly (absent combinations
  // surface as NULL cells and are dropped, matching the long form's
  // absent rows). Decimal-exact sums per the house parity rule.
  private val q40: Q = (s, d) => {
    val wide = Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O", "P"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"))
    wide.unpivot(Array(col("l_returnflag")), Array(col("F"), col("O"), col("P")),
        "l_linestatus", "sum_qty")
      .filter(col("sum_qty").isNotNull)
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val q40Sql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem WHERE l_linestatus IN ('F', 'O', 'P')
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // q27: semi-structured JSON column access (events.props) — schema-on-
  // read extraction pushed into a codegen'd path expression.
  private val q27: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  private val q27Sql =
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  COUNT(*) AS n,
      |  MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // q28: multiset (ALL) set operations — bag semantics, distinct from
  // q10's set semantics.
  private val q28: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val highQty = li.filter(col("l_quantity") >= 30).select(col("l_partkey").as("k"))
    val lowTax  = li.filter(col("l_tax") <= 0.04).select(col("l_partkey").as("k"))
    highQty.intersectAll(lowTax).groupBy().agg(count(lit(1)).as("n_intersect_all"))
      .crossJoin(
        highQty.exceptAll(lowTax).groupBy().agg(count(lit(1)).as("n_except_all")))
      .crossJoin(
        highQty.unionByName(lowTax).groupBy().agg(count(lit(1)).as("n_union_all")))
  }

  private val q28Sql =
    """SELECT
      |  (SELECT COUNT(*) FROM (
      |    SELECT l_partkey FROM lineitem WHERE l_quantity >= 30
      |    INTERSECT ALL
      |    SELECT l_partkey FROM lineitem WHERE l_tax <= 0.04)) AS n_intersect_all,
      |  (SELECT COUNT(*) FROM (
      |    SELECT l_partkey FROM lineitem WHERE l_quantity >= 30
      |    EXCEPT ALL
      |    SELECT l_partkey FROM lineitem WHERE l_tax <= 0.04)) AS n_except_all,
      |  (SELECT COUNT(*) FROM (
      |    SELECT l_partkey FROM lineitem WHERE l_quantity >= 30
      |    UNION ALL
      |    SELECT l_partkey FROM lineitem WHERE l_tax <= 0.04)) AS n_union_all""".stripMargin

  // q29: correlated-subquery shape — orders 1.5× above their customer's
  // average. Engine side: a window aggregate (one pass, no re-scan per
  // row); oracle: the literal correlated scalar subquery. The per-group
  // mean uses the decimal-exact sum so both engines compute identical
  // doubles.
  private val q29: Q = (s, d) => {
    val w = Window.partitionBy("o_custkey")
    Tables.orders(s, d)
      .withColumn("cust_avg",
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double") /
          count(lit(1)).over(w))
      .filter(col("o_totalprice") > col("cust_avg") * 1.5)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  private val q29Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
      |WHERE o_totalprice > 1.5 * (
      |  SELECT CAST(SUM(CAST(o2.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
      |         / COUNT(*)
      |  FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  // q30: grouped top-k via the native `top_k` TypedImperativeAggregate
  // (graft.expr.TopK) — bounded k-element map-side buffers (shuffle
  // carries ≤ k rows per group) instead of the window's full per-group
  // sort, and the per-row path is two primitive reads + a bounded array
  // insert on InternalRows (no object encoder — the typed
  // TopKAggregator twin pays product-encoder ser/de on every input
  // row). Oracle: the row_number formulation, which DuckDB computes by
  // actually sorting every group — same answer, different (and at
  // 100 TB worse) plan.
  private val q30: Q = (s, d) => {
    Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(graft.expr.TopKExpr.topK(col("o_orderkey"), col("o_totalprice"), 3).as("topk"))
      .select(col("o_custkey"), posexplode(col("topk")))
      .select(col("o_custkey"),
        (col("pos") + 1).cast("long").as("rn"),
        col("col.id").as("o_orderkey"),
        col("col.score").as("o_totalprice"))
      .orderBy("o_custkey", "rn")
  }

  private val q30Sql =
    """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  // q31: gap-sessionization via the window-function formulation
  // (lag → marker → running sum = session id) — the SQL-expressible twin
  // of the flatMapGroupsWithState operator (StatefulSessionsSpec proves
  // the custom-state path equal to this one).
  private val q31: Q = (s, d) =>
    graft.streaming.StatefulSessions.sessionizeBatch(
      Tables.events(s, d).select("user_id", "ts", "event_type", "value"),
      gapSeconds = 900)
      .orderBy("user_id", "start_us")

  private val q31Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
      |  FROM events
      |), m AS (
      |  SELECT user_id, us, event_type, value,
      |    CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_type) IS NULL
      |           OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_type)
      |              > 900000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM e
      |), sid AS (
      |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_type
      |              ROWS UNBOUNDED PRECEDING) AS sess_id
      |  FROM m
      |), f AS (
      |  SELECT *,
      |    first_value(event_type) OVER (PARTITION BY user_id, sess_id
      |      ORDER BY us, event_type
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_type,
      |    last_value(event_type) OVER (PARTITION BY user_id, sess_id
      |      ORDER BY us, event_type
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_type
      |  FROM sid
      |)
      |SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum,
      |  MIN(first_type) AS first_type, MIN(last_type) AS last_type
      |FROM f GROUP BY user_id, sess_id
      |ORDER BY user_id, start_us""".stripMargin

  // q20's exact twin: COUNT(DISTINCT) with a DuckDB oracle, so the
  // HLL++ approximation has an oracle-checked exact companion.
  private val q20Exact: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(count_distinct(col("l_partkey")).as("n_parts"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  private val q20ExactSql =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // q32: the GENERAL-case range join — q15's band join is the right plan
  // for a 4-row dimension (broadcast nested loop), but at a realistic
  // band count the product is the scale-killer. [[graft.ops.RangeJoin]]
  // rewrites point-in-interval as an equi-join on `floor(value/w)` bins
  // (interval side exploded to covered bins), which Catalyst plans as a
  // plain hash join; the exact predicate is re-applied post-join.
  // 96 overlapping 12.5-wide bands over events.value — each event lands
  // in ≤3 bands, and PlanGuardSpec proves no BNLJ/cartesian appears.
  private val q32: Q = (s, d) => {
    val bands = s.range(96).select(
      col("id").as("band_id"),
      (col("id") * 5.0).as("lo"),
      (col("id") * 5.0 + 12.5).as("hi"))
    graft.ops.RangeJoin
      .binnedPointJoin(Tables.events(s, d), "value", bands, "lo", "hi", 5.0)
      .groupBy("band_id")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("band_id")
  }

  private val q32Sql =
    """SELECT band_id, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |JOIN (SELECT i AS band_id, i*5.0 AS lo, i*5.0 + 12.5 AS hi
      |      FROM generate_series(0, 95) AS t(i)) b
      |  ON value >= lo AND value < hi
      |GROUP BY band_id ORDER BY band_id""".stripMargin

  // q33: the Misra–Gries heavy-hitters sketch (native mergeable
  // TypedImperativeAggregate, k-bounded map-side state — the sketch
  // sibling of q20's HLL and the Bloom contamination tier). k=256
  // exceeds the gate scale's 150 distinct users, so NO decrement round
  // fires in any partial and the summary is provably EXACT counts
  // (count_lo == count_hi == true count) under any partitioning — which
  // is what the plain GROUP BY oracle pins. At bench scale (1500 users)
  // the same query exercises the bounded-error regime; the ε = N/(k+1)
  // bracketing there is property-tested in HeavyHittersSpec.
  private val q33: Q = (s, d) => {
    val ev = Tables.events(s, d)
    // The plain GROUP BY oracle is only valid in the EXACT regime
    // (k > distinct users in every group). Derive k from the observed
    // max (one tiny 1-row agg) so raising the correctness-gate scale
    // factor can never make the oracle comparison fail spuriously —
    // the bounded-error regime stays property-tested in
    // HeavyHittersSpec, where no cross-engine oracle is claimed.
    // null-tolerant: max over an empty events table yields a null cell,
    // which must fall back to the default k rather than NPE
    val maxDistinct = Option(ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("nd"))
      .agg(max("nd")).head.get(0)).map(_.asInstanceOf[Long]).getOrElse(0L)
    val k = math.max(256L, maxDistinct + 1).toInt
    ev
      .groupBy("event_type")
      .agg(graft.expr.HeavyHittersExpr.heavyHitters(col("user_id"), k).as("hh"))
      .select(col("event_type"), explode(col("hh")).as("e"))
      .select(col("event_type"), col("e.item").as("item"),
        col("e.count_lo").as("count_lo"), col("e.count_hi").as("count_hi"))
      .orderBy("event_type", "item")
  }

  private val q33Sql =
    """SELECT event_type, CAST(user_id AS VARCHAR) AS item,
      |  COUNT(*) AS count_lo, COUNT(*) AS count_hi
      |FROM events GROUP BY event_type, user_id
      |ORDER BY event_type, item""".stripMargin

  // q34: interval-OVERLAP join on the bin grid — the second RangeJoin
  // form. Click windows [ts, ts+10min) × purchase windows [ts, ts+5min)
  // joined on overlap; the first-shared-bin rule guarantees one row per
  // overlapping pair (the oracle's plain theta join is the proof), and
  // the plan is a hash join on the bin key instead of the O(n·m)
  // nested loop the raw overlap predicate would force.
  private val q34: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").cast("double").as("lo"),
        (col("us") + 600000000L).cast("double").as("hi"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("us").cast("double").as("lo2"),
        (col("us") + 300000000L).cast("double").as("hi2"))
    graft.ops.RangeJoin
      .binnedIntervalJoin(clicks, "lo", "hi", purchases, "lo2", "hi2", 6e8)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_overlaps"))
      .orderBy("user_id")
  }

  private val q34Sql =
    """WITH c AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS lo,
      |    epoch_us(CAST(ts AS TIMESTAMP)) + 600000000 AS hi
      |  FROM events WHERE event_type = 'click'),
      |p AS (
      |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS lo2,
      |    epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS hi2
      |  FROM events WHERE event_type = 'purchase')
      |SELECT user_id, COUNT(*) AS n_overlaps
      |FROM c JOIN p ON c.lo < p.hi2 AND p.lo2 < c.hi
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // q35: 3-step funnel (view → click → purchase, 7-day deadline) as a
  // chain of per-step min-aggregations + user-keyed joins — each step a
  // narrow (user, min) shuffle on the SAME key; no per-user sort, no
  // event-array collect. The oracle replays the identical greedy chain.
  private val q35: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_type"))
    graft.ops.Funnel.funnelSteps(ev, "user_id", "us", "event_type",
        Seq("view", "click", "purchase"), withinUs = Some(604800000000L))
      .orderBy("user_id")
  }

  private val q35Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type
      |  FROM events),
      |s1 AS (
      |  SELECT user_id, min(us) AS t1 FROM e
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT s1.user_id, t1, min(e.us) AS t2
      |  FROM s1 LEFT JOIN e ON e.user_id = s1.user_id
      |    AND e.event_type = 'click' AND e.us > s1.t1
      |    AND s1.t1 + 604800000000 >= e.us
      |  GROUP BY s1.user_id, t1),
      |s3 AS (
      |  SELECT s2.user_id, t1, t2, min(e.us) AS t3
      |  FROM s2 LEFT JOIN e ON e.user_id = s2.user_id
      |    AND e.event_type = 'purchase' AND e.us > s2.t2
      |    AND s2.t1 + 604800000000 >= e.us
      |  GROUP BY s2.user_id, t1, t2)
      |SELECT user_id, t1, t2, t3,
      |  (CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END +
      |   CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END +
      |   CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS steps_completed
      |FROM s3 ORDER BY user_id""".stripMargin

  // q36: weekly cohort retention — cohort = epoch-week of first event,
  // one (cohort, offset) cell per active (user, week). Two aggs + one
  // user-keyed join of per-user one-row frames.
  private val q36: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select(col("user_id"), unix_micros(col("ts")).as("us"))
    graft.ops.Funnel.retentionCohorts(ev, "user_id", "us")
      .orderBy("cohort_week", "week_offset")
  }

  private val q36Sql =
    """WITH e AS (
      |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) // 604800000000 AS week
      |  FROM events),
      |firsts AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
      |active AS (SELECT DISTINCT user_id, week FROM e)
      |SELECT cohort_week, week - cohort_week AS week_offset,
      |  COUNT(DISTINCT active.user_id) AS n_users
      |FROM active JOIN firsts ON active.user_id = firsts.user_id
      |GROUP BY cohort_week, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin

  // q37: two-relation backward as-of join through the NATIVE operator
  // (graft.plans.AsOfJoin — custom logical node + strategy + exec):
  // each purchase picks the greatest click ts <= its ts per user, left
  // outer. Emits only the ts-derived value of the matched click so
  // same-(user, ts) click ties — where any engine may pick either row —
  // cannot differ across engines. Both sides are projected down BEFORE
  // the join (column pruning does not cross a custom node) and read
  // independently (fresh attribute ids). Oracle: DuckDB's native
  // ASOF LEFT JOIN — the operator's semantics cross-checked against an
  // independent native implementation, not a SQL re-encoding.
  private val q37: Q = (s, d) => {
    val purchases = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    val clicks = Tables.events(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("click_us"))
    graft.plans.AsOfJoin.join(
        purchases, clicks, Seq("user_id"), "ts", "ts", "left_outer")
      .select(col("user_id"), col("event_id"), col("click_us"))
      .orderBy("user_id", "event_id")
  }

  private val q37Sql =
    """SELECT p.user_id, p.event_id, c.click_us
      |FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN
      |     (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS click_us
      |      FROM events WHERE event_type = 'click') c
      |ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.user_id, p.event_id""".stripMargin

  // q38: the FORWARD direction of the native as-of operator — each
  // purchase picks the smallest click ts >= its ts per user. Oracle:
  // DuckDB's native ASOF LEFT JOIN with the inequality reversed
  // (p.ts <= c.ts), which DuckDB plans as a forward as-of.
  private val q38: Q = (s, d) => {
    val purchases = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    val clicks = Tables.events(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("click_us"))
    graft.plans.AsOfJoin.join(
        purchases, clicks, Seq("user_id"), "ts", "ts", "left_outer",
        direction = "forward")
      .select(col("user_id"), col("event_id"), col("click_us"))
      .orderBy("user_id", "event_id")
  }

  private val q38Sql =
    """SELECT p.user_id, p.event_id, c.click_us
      |FROM (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      |      FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN
      |     (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS click_us
      |      FROM events WHERE event_type = 'click') c
      |ON p.user_id = c.user_id AND p.ts <= c.ts
      |ORDER BY p.user_id, p.event_id""".stripMargin

  // q39: the NEAREST direction — each purchase picks the click with
  // the smaller |ts gap|, ties to backward. DuckDB has no nearest
  // ASOF, so the oracle computes both directional extrema via
  // inequality joins and replays the gap comparison + tie rule.
  private val q39: Q = (s, d) => {
    val purchases = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    val clicks = Tables.events(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("click_us"))
    graft.plans.AsOfJoin.join(
        purchases, clicks, Seq("user_id"), "ts", "ts", "left_outer",
        direction = "nearest")
      .select(col("user_id"), col("event_id"), col("click_us"))
      .orderBy("user_id", "event_id")
  }

  private val q39Sql =
    """WITH p AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |      FROM events WHERE event_type = 'click'),
      |b AS (SELECT p.user_id, p.event_id, p.us, max(c.us) AS back
      |      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.us <= p.us
      |      GROUP BY p.user_id, p.event_id, p.us),
      |f AS (SELECT p.user_id, p.event_id, min(c.us) AS fwd
      |      FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.us >= p.us
      |      GROUP BY p.user_id, p.event_id)
      |SELECT b.user_id, b.event_id,
      |  CASE WHEN back IS NOT NULL AND fwd IS NOT NULL
      |       THEN CASE WHEN b.us - back <= fwd - b.us THEN back ELSE fwd END
      |       ELSE COALESCE(back, fwd) END AS click_us
      |FROM b JOIN f ON b.user_id = f.user_id AND b.event_id = f.event_id
      |ORDER BY b.user_id, b.event_id""".stripMargin

  // q41: the TOLERANCE-bounded backward as-of join (pandas merge_asof's
  // most-used optional) through the native operator: each purchase
  // picks the greatest click ts <= its ts per user, but only when the
  // gap is within one day (86_400e6 µs); a farther match nulls out.
  // The 1-day bound sits near the gap median of the generated events
  // (~36 h), so BOTH arms — match retained and match rejected — carry
  // thousands of rows at every sf. Oracle: inequality-join replay with
  // the gap bound folded into the join predicate — the backward
  // candidate is the gap-MINIMAL one, so bounding the predicate equals
  // bounding the selected match (what the exec does at
  // AsOfJoinExec.backOk).
  private val q41: Q = (s, d) => {
    val purchases = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    val clicks = Tables.events(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("click_us"))
    graft.plans.AsOfJoin.join(
        purchases, clicks, Seq("user_id"), "ts", "ts", "left_outer",
        tolerance = Some(86400000000L))
      .select(col("user_id"), col("event_id"), col("click_us"))
      .orderBy("user_id", "event_id")
  }

  private val q41Sql =
    """WITH p AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |      FROM events WHERE event_type = 'click')
      |SELECT p.user_id, p.event_id, max(c.us) AS click_us
      |FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.us <= p.us
      |                  AND p.us - c.us <= 86400000000
      |GROUP BY p.user_id, p.event_id
      |ORDER BY p.user_id, p.event_id""".stripMargin

  // q42: point-in-time-correct feature enrichment
  // ([[graft.ops.PointInTime.enrich]] — the Feast/Tecton
  // `get_historical_features` shape over the native as-of operator):
  // each purchase (the training example) is enriched with the latest
  // click feature at-or-before its timestamp (unbounded) AND the
  // latest view feature within a 2-day staleness bound — a plain
  // equi-join on the newest feature version would leak FUTURE values
  // into training, the canonical offline/online-skew bug this join
  // prevents. Feature values are ts-derived (micros) so same-(user,ts)
  // feature-row ties cannot differ across engines (the q37 rule).
  // Oracle: DuckDB's native ASOF for the unbounded table + the
  // gap-bounded inequality replay for the staleness table.
  private val q42: Q = (s, d) => {
    import graft.ops.PointInTime
    val purchases = Tables.events(s, d)
      .filter(col("event_type") === "purchase")
      .select("user_id", "event_id", "ts")
    val clicks = Tables.events(s, d)
      .filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("click_us"))
    val views = Tables.events(s, d)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("view_us"))
    PointInTime.enrich(purchases, "ts", Seq(
        PointInTime.FeatureTable(clicks, Seq("user_id"), "ts"),
        PointInTime.FeatureTable(views, Seq("user_id"), "ts",
          staleness = Some(172800000000L))))
      .select("user_id", "event_id", "click_us", "view_us")
      .orderBy("user_id", "event_id")
  }

  private val q42Sql =
    """WITH p AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts
      |           FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
      |             epoch_us(CAST(ts AS TIMESTAMP)) AS click_us
      |      FROM events WHERE event_type = 'click'),
      |v AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
      |      FROM events WHERE event_type = 'view'),
      |pc AS (SELECT p.user_id, p.event_id, p.ts, c.click_us
      |       FROM p ASOF LEFT JOIN c
      |       ON p.user_id = c.user_id AND p.ts >= c.ts),
      |pv AS (SELECT p.user_id, p.event_id, max(v.us) AS view_us
      |       FROM p LEFT JOIN v
      |         ON v.user_id = p.user_id AND v.us <= epoch_us(p.ts)
      |        AND epoch_us(p.ts) - v.us <= 172800000000
      |       GROUP BY p.user_id, p.event_id)
      |SELECT pc.user_id, pc.event_id, pc.click_us, pv.view_us
      |FROM pc JOIN pv ON pc.user_id = pv.user_id AND pc.event_id = pv.event_id
      |ORDER BY 1, 2""".stripMargin

  // q43: the skew-salted join ([[graft.ops.SkewJoin.salted]]) oracled
  // for SEMANTICS: fact side salted across 8 sub-keys, dim side
  // replicated 8×, joined on (key, salt) — must equal the plain
  // equi-join exactly (DuckDB replays the plain join; a salting bug —
  // lost key, double-counted replica — breaks n or sum_qty).
  // `SkewJoinSpec` pins the plan-shape half (hot key fans out over
  // salt tasks); this row pins the result half cross-engine.
  // l_quantity is integer-valued, so the double sum is exact and
  // order-independent.
  private val q43: Q = (s, d) => {
    val fact = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
    val dim = Tables.orders(s, d).select(col("o_orderkey"), col("o_orderstatus"))
    graft.ops.SkewJoin.salted(fact, dim, "l_orderkey", "o_orderkey", saltBuckets = 8)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderstatus")
  }

  private val q43Sql =
    """SELECT o_orderstatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // q44: Bloom-prefiltered star join ([[graft.ops.BloomJoin]]) — the
  // explicit runtime-filter shape: a selective dim (urgent orders,
  // ~20%) reduces to ONE constant-size Bloom sketch, the fact scan
  // probes it BEFORE the join's shuffle, and the real join makes the
  // superset exact. Must equal the plain equi-join — DuckDB replays
  // the plain join; a false NEGATIVE in the sketch (the one thing
  // Bloom promises away) would lose rows and break the hash.
  private val q44: Q = (s, d) => {
    val fact = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_quantity"))
    val dim = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderstatus"))
    graft.ops.BloomJoin.prefiltered(fact, dim, "l_orderkey", "o_orderkey",
        expectedItems = 1L << 20, fpp = 0.001)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderstatus")
  }

  private val q44Sql =
    """SELECT o_orderstatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // q45: Hilbert-curve clustering value ([[graft.pipeline.Layout
  // .hilbertValue]]) — the locality-better sibling of z-order
  // (consecutive curve positions are always grid-adjacent, so
  // range-split files cover tighter 2-D bounding boxes). The
  // sequential xy2d rotate loop unrolls into a pure codegen'd Column
  // chain; the oracle replays the SAME unrolled transform as one
  // chained CTE per level — exact integer agreement on every row or
  // the hash breaks. `HilbertSpec` pins the curve property itself
  // (adjacency + bijectivity) that distinguishes Hilbert from Morton.
  private val q45: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_id"),
        graft.pipeline.Layout.hilbertValue(
          col("user_id") % 1024, col("event_id") % 1024, bits = 10).as("h"))
      .orderBy("event_id")

  private val q45Sql = {
    val bits = 10
    val init = "s0 AS (SELECT event_id, CAST(user_id % 1024 AS BIGINT) AS x, " +
      "CAST(event_id % 1024 AS BIGINT) AS y, CAST(0 AS BIGINT) AS d FROM events)"
    val ctes = (0 until bits).map { i =>
      val s = 1L << (bits - 1 - i)
      s"""s${i + 1} AS (SELECT event_id,
         |  CASE WHEN (y & $s) = 0 THEN CASE WHEN (x & $s) > 0 THEN ${s - 1} - y ELSE y END ELSE x END AS x,
         |  CASE WHEN (y & $s) = 0 THEN CASE WHEN (x & $s) > 0 THEN ${s - 1} - x ELSE x END ELSE y END AS y,
         |  d + $s * $s * xor(3 * (CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END),
         |                    CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END) AS d
         |FROM s$i)""".stripMargin
    }
    s"WITH $init,\n${ctes.mkString(",\n")}\n" +
      s"SELECT event_id, d AS h FROM s$bits ORDER BY event_id"
  }

  // events_freq_cms: the count-min sketch family
  // ([[graft.expr.CmsExpr]]) — per-event-type user-frequency sketches
  // (1024×4), probed for a fixed key set. The sketch is a SUM of
  // per-row increment matrices (canonical, partition-invariant), its
  // multiply-shift row hashes are 64-bit-wraparound arithmetic DuckDB
  // replays exactly in HUGEINT (the MinHash-oracle technique), and the
  // estimate is the min over rows — so the ORACLE rebuilds the whole
  // sketch cell-for-cell and must agree on every probe. One-sided
  // error and the exact-regime property are pinned in `CmsSpec`.
  private val q46: Q = (s, d) => {
    import graft.expr.CmsExpr._
    val sk = Tables.events(s, d)
      .groupBy("event_type")
      .agg(cmsAgg(col("user_id"), 1024, 4).as("sk"))
    val probes = s.range(1, 21).select(col("id").as("k"))
    sk.crossJoin(broadcast(probes))
      .select(col("event_type"), col("k"), cmsQuery(col("sk"), col("k")).as("est"))
      .orderBy("event_type", "k")
  }

  private val q46Sql = {
    val d = 4; val logW = 10
    val div = (BigInt(1) << (64 - logW)).toString
    val mod = (BigInt(1) << 64).toString
    val consts = (0 until d).map(i =>
      s"($i, CAST('${java.lang.Long.toUnsignedString(graft.expr.Cms.aConst(i))}' AS HUGEINT), " +
        s"CAST('${java.lang.Long.toUnsignedString(graft.expr.Cms.bConst(i))}' AS HUGEINT))")
      .mkString(", ")
    s"""WITH rows_c(i, a, b) AS (SELECT * FROM (VALUES $consts) t(i, a, b)),
       |ev AS (SELECT event_type, CAST(user_id AS HUGEINT) AS x FROM events),
       |cells AS (SELECT event_type, r.i,
       |    CAST(((x * r.a + r.b) % $mod) // $div AS BIGINT) AS slot,
       |    COUNT(*) AS c
       |  FROM ev CROSS JOIN rows_c r GROUP BY event_type, r.i, slot),
       |probes AS (SELECT CAST(range AS BIGINT) AS k FROM range(1, 21)),
       |pslots AS (SELECT p.k, r.i,
       |    CAST(((CAST(p.k AS HUGEINT) * r.a + r.b) % $mod) // $div AS BIGINT) AS slot
       |  FROM probes p CROSS JOIN rows_c r)
       |SELECT et.event_type, ps.k, CAST(MIN(COALESCE(c.c, 0)) AS BIGINT) AS est
       |FROM (SELECT DISTINCT event_type FROM events) et
       |CROSS JOIN pslots ps
       |LEFT JOIN cells c
       |  ON c.event_type = et.event_type AND c.i = ps.i AND c.slot = ps.slot
       |GROUP BY et.event_type, ps.k
       |ORDER BY et.event_type, ps.k""".stripMargin
  }

  val defs: Map[String, Q] = Map(
    "q01_filter_scan" -> q01,
    "q02_agg_lineitem" -> q02,
    "q03_join_broadcast" -> q03,
    "q04_join_star" -> q04,
    "q05_semi_join" -> q05,
    "q06_anti_join" -> q06,
    "q07_window_topn" -> q07,
    "q08_window_running" -> q08,
    "q09_topk" -> q09,
    "q10_set_ops" -> q10,
    "q11_distinct" -> q11,
    "q12_rollup" -> q12,
    "q13_cube" -> q13,
    "q14_scalar_funcs" -> q14,
    "q15_range_join" -> q15,
    "q16_asof_join" -> q16,
    "q17_tumbling_window" -> q17,
    "events_window_psi" -> eventsWindowPsi,
    "events_anomaly_mad" -> eventsAnomalyMad,
    "events_drift_ks" -> eventsDriftKs,
    "q18_session_window" -> q18,
    "q19_fuzzy_levenshtein" -> q19,
    "q20_approx_distinct" -> q20,
    "q21_grouping_sets" -> q21,
    "q22_date_agg" -> q22,
    "q23_percentile" -> q23,
    "q24_stats" -> q24,
    "q25_string_agg" -> q25,
    "q26_pivot" -> q26,
    "q40_unpivot" -> q40,
    "q27_json_extract" -> q27,
    "q28_bag_set_ops" -> q28,
    "q29_correlated" -> q29,
    "q30_grouped_topk" -> q30,
    "q31_sessionize" -> q31,
    "q20_exact_distinct" -> q20Exact,
    "q32_binned_range_join" -> q32,
    "q33_heavy_hitters" -> q33,
    "q34_interval_overlap_join" -> q34,
    "q35_funnel" -> q35,
    "q36_retention_cohorts" -> q36,
    "q37_asof_native" -> q37,
    "q38_asof_forward" -> q38,
    "q39_asof_nearest" -> q39,
    "q41_asof_tolerance" -> q41,
    "q42_pit_features" -> q42,
    "q43_skew_salted" -> q43,
    "q44_bloom_join" -> q44,
    "q45_hilbert_value" -> q45,
    "events_freq_cms" -> q46)

  val oracles: Map[String, String] = Map(
    "q01_filter_scan" -> q01Sql,
    "q02_agg_lineitem" -> q02Sql,
    "q03_join_broadcast" -> q03Sql,
    "q04_join_star" -> q04Sql,
    "q05_semi_join" -> q05Sql,
    "q06_anti_join" -> q06Sql,
    "q07_window_topn" -> q07Sql,
    "q08_window_running" -> q08Sql,
    "q09_topk" -> q09Sql,
    "q10_set_ops" -> q10Sql,
    "q11_distinct" -> q11Sql,
    "q12_rollup" -> q12Sql,
    "q13_cube" -> q13Sql,
    "q14_scalar_funcs" -> q14Sql,
    "q15_range_join" -> q15Sql,
    "q16_asof_join" -> q16Sql,
    "q17_tumbling_window" -> q17Sql,
    "events_window_psi" -> eventsWindowPsiSql,
    "events_anomaly_mad" -> eventsAnomalyMadSql,
    "events_drift_ks" -> eventsDriftKsSql,
    "q18_session_window" -> q18Sql,
    "q19_fuzzy_levenshtein" -> q19Sql,
    "q21_grouping_sets" -> q21Sql,
    "q22_date_agg" -> q22Sql,
    "q23_percentile" -> q23Sql,
    "q24_stats" -> q24Sql,
    "q25_string_agg" -> q25Sql,
    "q26_pivot" -> q26Sql,
    "q40_unpivot" -> q40Sql,
    "q27_json_extract" -> q27Sql,
    "q28_bag_set_ops" -> q28Sql,
    "q29_correlated" -> q29Sql,
    "q30_grouped_topk" -> q30Sql,
    "q31_sessionize" -> q31Sql,
    "q20_exact_distinct" -> q20ExactSql,
    "q32_binned_range_join" -> q32Sql,
    "q33_heavy_hitters" -> q33Sql,
    "q34_interval_overlap_join" -> q34Sql,
    "q35_funnel" -> q35Sql,
    "q36_retention_cohorts" -> q36Sql,
    "q37_asof_native" -> q37Sql,
    "q38_asof_forward" -> q38Sql,
    "q39_asof_nearest" -> q39Sql,
    "q41_asof_tolerance" -> q41Sql,
    "q42_pit_features" -> q42Sql,
    "q43_skew_salted" -> q43Sql,
    "q44_bloom_join" -> q44Sql,
    "q45_hilbert_value" -> q45Sql,
    "events_freq_cms" -> q46Sql)
}
