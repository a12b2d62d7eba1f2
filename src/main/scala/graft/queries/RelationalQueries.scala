package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryDef, Tables}
import graft.functions.ScalarOps

/** Relational / window / sessionization coverage over the TPC-H-ish star
  * schema (SURVEY.md §2.4–§2.6 + §7 M7 rollups). Design points for 100 TB:
  * dimension joins are explicitly `broadcast()`; fact-side aggregations use
  * partial (map-side) aggregation; all money sums are exact decimals so the
  * plan may reorder/parallelize freely without changing results; AQE handles
  * shuffle sizing and skew.
  */
/** Bit-exact SQL mirror of [[graft.functions.ZValue]]: the Morton key as
  * an OR of 2·bits per-bit placement terms (bit i of x → 2i, of y → 2i+1)
  * — mechanical, so generated rather than hand-written.
  */
private[queries] object ZOrderOracle {
  val termsSql: String = (0 until 16).map { i =>
    s"((((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1}))"
  }.mkString("(", " | ", ")")
}

object RelationalQueries {

  private val D2 = DecimalType(18, 2)
  private val D4 = DecimalType(18, 4)

  // Revenue per row in EXACT decimal arithmetic: cast each 2dp factor to
  // decimal first, then multiply decimals. Casting the double *product*
  // would diverge between engines (Spark converts the exact binary value,
  // DuckDB rounds via a scaled multiply); casting the factors is safe
  // because the data itself is 2dp.
  private def revDec =
    col("l_extendedprice").cast(D2) * (lit(1.0).cast(DecimalType(3, 2)) - col("l_discount").cast(DecimalType(4, 2)))
  private val revSql =
    "(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1.0 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))"
  private def chargeDec =
    revDec * (lit(1.0).cast(DecimalType(3, 2)) + col("l_tax").cast(DecimalType(4, 2)))
  private val chargeSql =
    s"($revSql * (CAST(1.0 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2))))"

  val defs: Seq[QueryDef] = Seq(

    // TPC-H Q1 shape — pricing summary with exact decimal sums.
    QueryDef("q20_pricing_summary",
      s"""SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |       CAST(SUM($revSql) AS DOUBLE) AS sum_disc_price,
        |       CAST(SUM($chargeSql) AS DOUBLE) AS sum_charge,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
        |       CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
        |       COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2001-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          ScalarOps.exactSum(col("l_quantity"), 2).as("sum_qty"),
          ScalarOps.exactSum(col("l_extendedprice"), 2).as("sum_base_price"),
          sum(revDec).cast(DoubleType).as("sum_disc_price"),
          sum(chargeDec).cast(DoubleType).as("sum_charge"),
          ScalarOps.exactAvg(col("l_quantity"), 2).as("avg_qty"),
          ScalarOps.exactAvg(col("l_discount"), 2).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },

    // TPC-H Q3 shape — top-10 BUILDING orders by revenue. Revenue is an
    // exact decimal so the top-k ordering is engine-independent.
    QueryDef("q21_top_orders",
      s"""SELECT o_orderkey,
        |       CAST(SUM($revSql) AS DOUBLE) AS revenue,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
        |       o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY SUM($revSql) DESC, o_orderkey
        |LIMIT 10""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(revDec).as("rev_dec"))
        .orderBy(col("rev_dec").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("rev_dec").cast(DoubleType).as("revenue"),
          ScalarOps.dateString(col("o_orderdate")).as("o_orderdate_s"), col("o_orderpriority"))
    },

    // TPC-H Q5 shape — revenue per (region, nation) through a 5-way join;
    // all dimensions broadcast, single fact shuffle for the aggregate.
    QueryDef("q22_nation_revenue",
      s"""SELECT r_name, n_name,
        |       CAST(SUM($revSql) AS DOUBLE) AS revenue,
        |       COUNT(*) AS n_items
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
      val dims = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .select("c_custkey", "n_name", "r_name")
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
        .groupBy("r_name", "n_name")
        .agg(sum(revDec).cast(DoubleType).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy("r_name", "n_name")
    },

    // Window functions — per-customer running total + rank over orders.
    QueryDef("q23_window_running",
      """SELECT o_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_s,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |            AS DOUBLE) AS running_total,
        |       row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
        |FROM orders
        |ORDER BY o_custkey, rn""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"),
          ScalarOps.dateString(col("o_orderdate")).as("o_orderdate_s"),
          sum(col("o_totalprice").cast(D2)).over(w).cast(DoubleType).as("running_total"),
          row_number().over(w).as("rn"))
        .orderBy("o_custkey", "rn")
    },

    // Top-k per group — 3 priciest orders per customer, deterministic ties.
    QueryDef("q24_topk_per_group",
      """SELECT o_custkey, o_orderkey,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
        |       CAST(rk AS INT) AS rk
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC,
        |                                         o_orderkey) AS rk
        |      FROM orders)
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").cast(D2).desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_totalprice").cast(D2).cast(DoubleType).as("o_totalprice"), col("rk"))
        .orderBy("o_custkey", "rk")
    },

    // The SCALE form of q24: partial-aggregating top-k (bounded ordered
    // buffer per group, map-side discard) — the exchange carries ≤ k rows
    // per group instead of every order. Oracle is q24's SQL verbatim:
    // the two forms are row-identical by construction.
    QueryDef("q106_topk_agg",
      """SELECT o_custkey, o_orderkey,
        |       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS o_totalprice,
        |       CAST(rk AS INT) AS rk
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey
        |                                ORDER BY CAST(o_totalprice AS DECIMAL(18,2)) DESC,
        |                                         o_orderkey) AS rk
        |      FROM orders)
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.functions.TopKAgg
      val rows = Tables.orders(s, dir)
        .select(col("o_custkey").cast(LongType), col("o_orderkey").cast(LongType),
          col("o_totalprice").cast(D2))
        .as[(Long, Long, java.math.BigDecimal)]
      rows.groupByKey(_._1)
        .agg(TopKAgg.TopK(3).toColumn.name("top"))
        .toDF("o_custkey", "top")
        .select(col("o_custkey"), posexplode(col("top")))
        .select(col("o_custkey"), col("col.id").as("o_orderkey"),
          col("col.value").cast(DoubleType).as("o_totalprice"),
          (col("pos") + 1).cast(IntegerType).as("rk"))
        .orderBy("o_custkey", "rk")
    },

    // Sessionization — 30-min-gap sessions per user (gaps-and-islands; the
    // streaming-native session_window form lives in graft.streaming).
    QueryDef("q25_sessionize",
      """WITH x AS (
        |  SELECT user_id, ts, event_id,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |                 AS BIGINT) AS session_id
        |  FROM x)
        |SELECT user_id, session_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
        |       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
        |       COUNT(*) AS n_events
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin) { (s, dir) =>
      // routed through the factored operator so the streaming twin
      // (StreamingSessionize) has the same batch parity target q25 pins
      graft.operators.Sessionize.sessions(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), gapSeconds = 1800L)
        .select(col("u").as("user_id"), col("session_id"),
          ScalarOps.tsString(timestamp_micros(col("start_tus"))).as("session_start"),
          ScalarOps.tsString(timestamp_micros(col("end_tus"))).as("session_end"),
          col("n_events"))
        .orderBy("user_id", "session_id")
    },

    // Tumbling-window rollup — hourly per event_type (batch analogue of the
    // streaming windowed aggregation).
    QueryDef("q26_hourly_rollup",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_s,
        |       event_type,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |       COUNT(DISTINCT user_id) AS n_users
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_s"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          ScalarOps.exactSum(col("value"), 2).as("sum_value"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy("hour_s", "event_type")
    },

    // Multi-dimensional aggregate — ROLLUP over (region, nation) with
    // exact decimal sums; subtotal rows carry NULL dimension values.
    QueryDef("q27_rollup",
      """SELECT r_name, n_name,
        |       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal,
        |       COUNT(*) AS n
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin) { (s, dir) =>
      Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name", "c_acctbal")
        // functions.col, NOT the string overload: Dataset.col attaches
        // dataset-id metadata that trips the ambiguous-self-join check
        // once Expand duplicates the grouping attrs
        .rollup(col("r_name"), col("n_name"))
        .agg(ScalarOps.exactSum(col("c_acctbal"), 2).as("sum_acctbal"),
          count(lit(1)).as("n"))
        // fresh attribute ids: sorting by name would otherwise resolve
        // through the Aggregate into the Expand's duplicated grouping cols
        .toDF("r_name", "n_name", "sum_acctbal", "n")
        .sort(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    },

    // Exact interpolated percentiles per group (both engines use the
    // (n-1)p rank + linear interpolation definition; quantity is integral
    // so the interpolation arithmetic is exact). Exact percentile buffers
    // sort per group — right for low-cardinality keys like these 3 flags;
    // for high-cardinality groups at 100 TB use approx_percentile
    // (t-digest, mergeable map-side) and accept the documented error.
    QueryDef("q67_percentiles",
      """SELECT l_returnflag,
        |       quantile_cont(l_quantity, 0.5) AS p50,
        |       quantile_cont(l_quantity, 0.9) AS p90,
        |       quantile_cont(l_quantity, 0.99) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.9)").as("p90"),
          expr("percentile(l_quantity, 0.99)").as("p99"))
        .orderBy("l_returnflag")
    },

    // CUBE over (returnflag, linestatus) with GROUPING markers — the
    // full multi-dimensional aggregate beside q27's ROLLUP; grouping
    // flags disambiguate subtotal rows from genuine NULL keys.
    QueryDef("q65_cube",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
        |       CAST(GROUPING(l_linestatus) AS INT) AS g_ls
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir)
        .select("l_returnflag", "l_linestatus", "l_quantity")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          graft.functions.ScalarOps.exactSum(col("l_quantity"), 2).as("sum_qty"),
          grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"))
        .toDF("l_returnflag", "l_linestatus", "n", "sum_qty", "g_rf", "g_ls")
        .sort(asc("g_rf"), asc("g_ls"),
          asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"))
    },

    // GROUPING SETS — the general form: per-(flag,status), per-status,
    // and grand total in one pass over the fact (one Expand, one shuffle —
    // not a union of three scans).
    QueryDef("q66_grouping_sets",
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
          |       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
          |FROM lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
          |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin)
    },

    // As-of join — each purchase event picks up the user's latest view at
    // or before it (AsOfJoin: union + running-last, ONE shuffle — see the
    // operator for why this beats a range join at scale). The oracle uses
    // the quadratic window formulation, fine at oracle SF.
    QueryDef("q28_asof_view",
      """WITH v AS (SELECT user_id, ts, max(value) AS v_value
        |           FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
        |p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id,
        |       strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
        |       strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts_s,
        |       v.v_value AS view_value
        |FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        |QUALIFY row_number() OVER (PARTITION BY p.event_id ORDER BY v.ts DESC) = 1
        |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .groupBy("user_id", "ts").agg(max(col("value")).as("v_value"))
        .withColumn("v_ts", col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      graft.operators.AsOfJoin.leftAsOf(purchases, views, "user_id", "ts",
          Seq("v_ts", "v_value"))
        .select(col("event_id"), col("user_id"),
          ScalarOps.tsString(col("ts")).as("ts_s"),
          ScalarOps.tsString(col("asof.v_ts")).as("view_ts_s"),
          col("asof.v_value").as("view_value"))
        .orderBy("event_id")
    },

    // Pivot — the modvalues EAV table rendered wide: one row per device,
    // one column per measure, holding each key's last value (the shape a
    // dashboard consumer reads). Spark `pivot` with an explicit column
    // list stays a single hash aggregate; the oracle is the conditional-
    // aggregation twin.
    QueryDef("q38_pivot_wide",
      Tables.measuresSql +
        """, last AS (
        |  SELECT device, measure_name, raw_value
        |  FROM measures
        |  QUALIFY row_number() OVER (PARTITION BY device, measure_name
        |                             ORDER BY source_ts DESC, event_id DESC) = 1)
        |SELECT device,
        |       max(CASE WHEN measure_name = 'click' THEN raw_value END) AS click,
        |       max(CASE WHEN measure_name = 'error' THEN raw_value END) AS error,
        |       max(CASE WHEN measure_name = 'purchase' THEN raw_value END) AS purchase,
        |       max(CASE WHEN measure_name = 'signup' THEN raw_value END) AS signup,
        |       max(CASE WHEN measure_name = 'view' THEN raw_value END) AS view
        |FROM last GROUP BY device ORDER BY device""".stripMargin) { (s, dir) =>
      graft.operators.CurrentValues.lastValuePerKey(Tables.measures(s, dir))
        .groupBy("device")
        .pivot("measure_name", Seq("click", "error", "purchase", "signup", "view"))
        .agg(max(col("raw_value")))
        .orderBy("device")
    },

    // Set operations — INTERSECT / EXCEPT classified in one result (the
    // §2.6 trio the venn join subsumes, exposed as first-class ops).
    QueryDef("q39_setops",
      """WITH b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |o AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders)
        |SELECT 'except' AS op, c_custkey FROM (SELECT c_custkey FROM b EXCEPT SELECT c_custkey FROM o)
        |UNION ALL
        |SELECT 'intersect' AS op, c_custkey FROM (SELECT c_custkey FROM b INTERSECT SELECT c_custkey FROM o)
        |ORDER BY op, c_custkey""".stripMargin) { (s, dir) =>
      val building = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val withOrders = Tables.orders(s, dir)
        .select(col("o_custkey").as("c_custkey")).distinct()
      building.except(withOrders).withColumn("op", lit("except"))
        .unionByName(building.intersect(withOrders).withColumn("op", lit("intersect")))
        .select("op", "c_custkey")
        .orderBy("op", "c_custkey")
    },

    // HLL cardinality sketch — approx_count_distinct per event_type. Sketch
    // internals are engine-specific, so no DuckDB hash oracle (driver
    // records the weaker rows-only check); the exact twin is q26's
    // countDistinct.
    QueryDef.sparkOnly("q29_approx_users") { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id")).as("approx_users"))
        .orderBy("event_type")
    },

    // The sketch's ERROR is oracle-verifiable even though its value isn't:
    // Spark computes approx and exact side by side and emits the 5%
    // relative-error verdict; the oracle computes the exact count and
    // asserts the verdict is TRUE for every group. A sketch drifting past
    // the bound turns a green row red — q29 stops being the one entry
    // with no quantitative check. rsd=0.02 (measured rel-err 0.4% at
    // sf0.1, 0 at sf0.01; the default 0.05 measured 6.7% at sf0.1).
    QueryDef("q81_approx_error",
      """SELECT event_type,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users"))
            .cast(DoubleType) / col("exact_users") <= 0.05).as("within_5pct"))
        .orderBy("event_type")
    },

    // Mergeable-sketch rollup (the stored-sketch-table pattern): one HLL
    // sketch per (event_type, day) cell, rolled up per event_type by
    // UNIONING sketches — the raw events are scanned once to build the
    // cells, never again for the rollup. Verified the q81 way: the
    // union estimate's relative error vs the exact distinct count is
    // the oracle-checked verdict; exact union≡direct mergeability is
    // spec-pinned (SketchRollupSpec).
    QueryDef("q132_sketch_rollup",
      """SELECT event_type,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val cells = graft.functions.SketchRollup.sketchCells(
        ev, Seq("event_type"), to_date(col("ts")), col("user_id"))
      graft.functions.SketchRollup.rollup(cells, Seq("event_type"))
        .join(ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users")), Seq("event_type"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_distinct") - col("exact_users"))
            .cast(DoubleType) / col("exact_users") <= 0.05).as("within_5pct"))
        .orderBy("event_type")
    },

    // Mergeable QUANTILE sketch table (HistSketch): one fixed-shape integer
    // log-bin histogram per (event_type, day) cell, merged per event_type by
    // summing bins — the quantile counterpart of q132's HLL rollup, with a
    // stronger verdict: bins use integer-only arithmetic both engines
    // reproduce bit-for-bit, so the oracle hash-matches the ESTIMATES
    // themselves, not just an error flag. Ranks are exact; values are bin
    // lower bounds (≤6.25% one-sided — pinned by HistSketchSpec alongside
    // exact mergeability).
    QueryDef("q133_hist_quantiles",
      """WITH vi AS (
        |  SELECT event_type,
        |         GREATEST(CAST(FLOOR(value * 1048576) AS BIGINT), 1) AS v
        |  FROM events),
        |bnd AS (SELECT event_type, v, LENGTH(BIN(v)) - 1 AS e FROM vi),
        |h AS (SELECT event_type,
        |             CASE WHEN e <= 4 THEN v
        |                  ELSE CAST(e - 4 AS BIGINT) * 16 + (v >> (e - 4)) END AS bin,
        |             COUNT(*) AS cnt
        |      FROM bnd GROUP BY 1, 2),
        |c AS (SELECT event_type, bin,
        |             SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |             SUM(cnt) OVER (PARTITION BY event_type) AS n
        |      FROM h),
        |q AS (SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
        |             MIN(CASE WHEN cum * 100 >= n * 50 THEN bin END) AS b50,
        |             MIN(CASE WHEN cum * 100 >= n * 90 THEN bin END) AS b90,
        |             MIN(CASE WHEN cum * 100 >= n * 99 THEN bin END) AS b99
        |      FROM c GROUP BY event_type)
        |SELECT event_type, n,
        |       CAST(CASE WHEN b50 < 32 THEN b50
        |                 ELSE ((b50 & 15) + 16) << ((b50 >> 4) - 1) END AS DOUBLE)
        |         / 1048576.0 AS p50_est,
        |       CAST(CASE WHEN b90 < 32 THEN b90
        |                 ELSE ((b90 & 15) + 16) << ((b90 >> 4) - 1) END AS DOUBLE)
        |         / 1048576.0 AS p90_est,
        |       CAST(CASE WHEN b99 < 32 THEN b99
        |                 ELSE ((b99 & 15) + 16) << ((b99 >> 4) - 1) END AS DOUBLE)
        |         / 1048576.0 AS p99_est
        |FROM q ORDER BY event_type""".stripMargin) { (s, dir) =>
      import graft.functions.HistSketch
      val cells = HistSketch.sketchCells(
        Tables.events(s, dir), Seq("event_type"), to_date(col("ts")),
        HistSketch.toMicros(col("value")))
      HistSketch.rollupQuantiles(cells, Seq("event_type"),
        Seq("p50_est" -> 50, "p90_est" -> 90, "p99_est" -> 99))
        .orderBy("event_type")
    },

    // Z-order (Morton) clustering key — the layout primitive behind
    // ZOrder.cluster (Delta/Iceberg ZORDER BY analogue). The native
    // mask-spread expression must agree bit-for-bit with the oracle's
    // per-bit interleave sum, which is what this query pins cross-engine;
    // the file-pruning payoff of the layout itself is measured by
    // ZOrderSpec (box query file fan-in + per-file bounding boxes).
    QueryDef("q134_zorder_key",
      s"""WITH d AS (
        |  SELECT event_id, user_id,
        |         CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day_ord
        |  FROM events),
        |m AS (SELECT event_id, user_id, day_ord,
        |             user_id & 65535 AS x, day_ord & 65535 AS y
        |      FROM d)
        |SELECT event_id, user_id, day_ord, ${ZOrderOracle.termsSql} AS zval
        |FROM m ORDER BY zval, event_id LIMIT 100""".stripMargin) { (s, dir) =>
      val day = datediff(to_date(col("ts")), lit("1970-01-01")).cast(LongType)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), day.as("day_ord"),
          graft.operators.ZOrder.zKey(col("user_id"), day, 16).as("zval"))
        .orderBy("zval", "event_id").limit(100)
    },

    // Strictly-ordered conversion funnel (view → click → purchase,
    // earliest-completion semantics). The loop's per-stage joins and aggs
    // are all keyed on user_id against one co-partitioned cache of the
    // filtered event log — no corpus re-shuffles per stage.
    QueryDef("q135_event_funnel",
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1)
        |SELECT CAST(1 AS INTEGER) AS stage, 'view' AS stage_name,
        |       CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
        |UNION ALL SELECT CAST(2 AS INTEGER), 'click', CAST(COUNT(*) AS BIGINT) FROM s2
        |UNION ALL SELECT CAST(3 AS INTEGER), 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
        |ORDER BY stage""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.ordered(Tables.events(s, dir),
        Seq("view", "click", "purchase"))
    },

    // Cohort retention matrix: cohort = month of first order; retained at
    // offset m = active in cohort_month + m. Integer month arithmetic
    // (year*12+month) keeps the offset timezone-proof and hash-exact.
    QueryDef("q136_cohort_retention",
      """WITH f AS (SELECT o_custkey, min(o_orderdate) AS first_dt
        |           FROM orders GROUP BY 1),
        |c AS (SELECT o_custkey, strftime(first_dt, '%Y-%m') AS cohort_month,
        |             year(first_dt) * 12 + month(first_dt) AS m0 FROM f)
        |SELECT c.cohort_month,
        |       CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - c.m0
        |            AS INTEGER) AS offset_m,
        |       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_active
        |FROM orders o JOIN c ON o.o_custkey = c.o_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.cohortRetention(
        Tables.orders(s, dir), "o_custkey", "o_orderdate")
    },

    // Fixed-point-integer PageRank over the (customer)–(supplier) bipartite
    // graph implied by orders×lineitem, symmetrized. Integer arithmetic
    // (rank div outdeg, 85% damping via div 100) makes an ITERATIVE
    // algorithm hash-exact cross-engine; the oracle unrolls the same five
    // rounds as CTEs. Node ids: customer→2k, supplier→2k+1.
    QueryDef("q138_pagerank",
      """WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
        |d AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
        |adj AS (SELECT e.src, e.dst, d.outdeg FROM e JOIN d ON e.src = d.src),
        |r0 AS (SELECT src AS node, CAST(1000000000 AS BIGINT) AS rank_fp FROM d),
        |r1 AS (SELECT adj.dst AS node,
        |              150000000 + (85 * CAST(SUM(r0.rank_fp // adj.outdeg) AS BIGINT)) // 100 AS rank_fp
        |       FROM adj JOIN r0 ON adj.src = r0.node GROUP BY 1),
        |r2 AS (SELECT adj.dst AS node,
        |              150000000 + (85 * CAST(SUM(r1.rank_fp // adj.outdeg) AS BIGINT)) // 100 AS rank_fp
        |       FROM adj JOIN r1 ON adj.src = r1.node GROUP BY 1),
        |r3 AS (SELECT adj.dst AS node,
        |              150000000 + (85 * CAST(SUM(r2.rank_fp // adj.outdeg) AS BIGINT)) // 100 AS rank_fp
        |       FROM adj JOIN r2 ON adj.src = r2.node GROUP BY 1),
        |r4 AS (SELECT adj.dst AS node,
        |              150000000 + (85 * CAST(SUM(r3.rank_fp // adj.outdeg) AS BIGINT)) // 100 AS rank_fp
        |       FROM adj JOIN r3 ON adj.src = r3.node GROUP BY 1),
        |r5 AS (SELECT adj.dst AS node,
        |              150000000 + (85 * CAST(SUM(r4.rank_fp // adj.outdeg) AS BIGINT)) // 100 AS rank_fp
        |       FROM adj JOIN r4 ON adj.src = r4.node GROUP BY 1)
        |SELECT node, rank_fp FROM r5 ORDER BY rank_fp DESC, node""".stripMargin) { (s, dir) =>
      val edges = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // even/odd node encoding ⇒ src/dst domains disjoint: with the edge
      // list distinct here (the oracle's e0), the operator's symmetrized
      // distinct is provably redundant — disjointDomains skips that
      // 2·|E|-row exchange (oracle semantics identical)
      graft.operators.GraphOps.pageRankInt(edges, iters = 5, disjointDomains = true)
    },

    // Hot-key aggregation via two-phase salting (SkewTools): splits each
    // key into 16 salted sub-keys for the partial aggregate, bounding any
    // one reduce task's volume, then combines. Decimal sums are
    // associative, so the salted result is EXACTLY the direct GROUP BY —
    // which is the oracle (salting must be semantics-invariant).
    QueryDef("q76_salted_agg",
      """SELECT user_id,
        |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .withColumn("v_dec", col("value").cast(DecimalType(18, 2)))
      graft.operators.SkewTools
        .saltedSum(ev, Seq("user_id"), "v_dec", spread = col("event_id"), buckets = 16)
        .select(col("user_id"), col("sum_v_dec").cast(DoubleType).as("sum_value"))
        .orderBy("user_id")
    },

    // Count-min sketch TABLE (round 6): per-(event_type, day) counter
    // grids built in one raw scan, merged by summing (linearity), probed
    // for point frequencies with min-over-rows — the frequency
    // counterpart of q132 (HLL) and q133 (quantiles). Integer-only
    // universal hashing (the exported minhash family) makes every
    // counter AND every estimate bit-identical cross-engine, so the
    // oracle hash-matches the ESTIMATES themselves; `lower_ok` pins the
    // CM one-sided guarantee (est ≥ exact, always, not probabilistic).
    // The oracle skips the day grain: summing day cells ≡ direct
    // grouping by (type, j, bucket) — counter linearity, which is
    // exactly what the Spark side's rollup() relies on (and
    // CountMinSpec pins mechanically).
    QueryDef("q139_cms_estimate", {
      val js = graft.functions.CountMinSketch.oracleJs()
      s"""WITH $js,
        |e AS (SELECT event_type, user_id FROM events),
        |cells AS (
        |  SELECT event_type, j,
        |         ((user_id % 2147483647) * a + b) % 2147483647 % 2048 AS bucket,
        |         CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM e CROSS JOIN js GROUP BY 1, 2, 3),
        |probes AS (
        |  SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS exact_cnt
        |  FROM e WHERE user_id <= 40 GROUP BY 1, 2),
        |est AS (
        |  SELECT p.event_type, p.user_id, p.exact_cnt,
        |         MIN(COALESCE(c.cnt, 0)) AS est_cnt
        |  FROM probes p CROSS JOIN js
        |  LEFT JOIN cells c
        |    ON c.event_type = p.event_type AND c.j = js.j
        |   AND c.bucket = ((p.user_id % 2147483647) * js.a + js.b) % 2147483647 % 2048
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, user_id, exact_cnt, est_cnt,
        |       est_cnt >= exact_cnt AS lower_ok
        |FROM est ORDER BY event_type, user_id""".stripMargin
    }) { (s, dir) =>
      import graft.functions.CountMinSketch
      val w = 2048
      val ev = Tables.events(s, dir)
      val cells = CountMinSketch.sketchCells(
        ev, Seq("event_type"), to_date(col("ts")), col("user_id"), width = w)
      val sketch = CountMinSketch.rollup(cells, Seq("event_type"))
      val probes = ev.filter(col("user_id") <= 40)
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("exact_cnt"))
        .withColumn("item", col("user_id"))
      CountMinSketch.estimate(sketch, Seq("event_type"), probes, width = w)
        .select(col("event_type"), col("user_id"), col("exact_cnt"), col("est_cnt"),
          (col("est_cnt") >= col("exact_cnt")).as("lower_ok"))
        .orderBy("event_type", "user_id")
    },

    // SCD-2 state-interval compaction (round 6): collapse each user's
    // event log into maximal runs of consecutive equal event_type with
    // validity intervals — the warehouse dimension-history build, keyed
    // deterministic via the unique event_id tiebreak (same-ts
    // observations collapse identically cross-engine). One corpus
    // shuffle (the user partition); the valid_to window runs on the
    // change-point dim, not the event log.
    QueryDef("q140_scd2_intervals",
      """WITH obs AS (
        |  SELECT user_id AS k, event_type AS state, ts, event_id AS tie
        |  FROM events),
        |flagged AS (
        |  SELECT k, state, ts, tie,
        |         CASE WHEN LAG(state) OVER w IS NULL
        |                OR LAG(state) OVER w <> state THEN 1 ELSE 0 END AS chg
        |  FROM obs WINDOW w AS (PARTITION BY k ORDER BY ts, tie)),
        |runs0 AS (
        |  SELECT k, state, ts,
        |         SUM(chg) OVER (PARTITION BY k ORDER BY ts, tie) AS island
        |  FROM flagged),
        |runs AS (
        |  SELECT k, island, state, MIN(ts) AS valid_from,
        |         CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM runs0 GROUP BY 1, 2, 3)
        |SELECT k, state, valid_from,
        |       LEAD(valid_from) OVER (PARTITION BY k ORDER BY island) AS valid_to,
        |       n_obs
        |FROM runs ORDER BY k, valid_from, state""".stripMargin) { (s, dir) =>
      graft.operators.Scd2.intervals(Tables.events(s, dir),
        col("user_id"), col("event_type"), col("ts"), col("event_id"))
        .orderBy("k", "valid_from", "state")
    },

    // Historian TWA (round 6): step-interpolated time-weighted average
    // per device — each observation holds until the next (process-
    // historian semantics, what a deployment computes over the stream
    // this engine ingests). Integer µs durations × integer-quantized
    // values summed exactly; ONE double division at the end (the
    // bigramLikelihood convention) → hash-exact.
    QueryDef("q143_twa",
      """WITH o AS (
        |  SELECT user_id AS k, epoch_us(ts) AS tus,
        |         CAST(round_even(value * 1048576, 0) AS BIGINT) AS q,
        |         event_id AS tie
        |  FROM events),
        |s AS (
        |  SELECT k, q,
        |         COALESCE((LEAD(tus) OVER (PARTITION BY k ORDER BY tus, tie)
        |                   - tus) // 1000, 0) AS dms
        |  FROM o),
        |a AS (SELECT k, SUM(q * dms) AS num, SUM(dms) AS den,
        |             SUM(q) AS qsum, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM s GROUP BY k)
        |SELECT k,
        |       CASE WHEN den > 0
        |            THEN CAST(num AS DOUBLE) / CAST(den * 1048576 AS DOUBLE)
        |            ELSE CAST(qsum AS DOUBLE) / CAST(n * 1048576 AS DOUBLE)
        |       END AS twa
        |FROM a ORDER BY k""".stripMargin) { (s, dir) =>
      graft.operators.Historian.twa(Tables.events(s, dir),
        col("user_id"), col("ts"), col("value"), col("event_id"))
        .orderBy("k")
    },

    // Historian OHLC bars (round 6): hourly open/high/low/close per
    // device — pure row selection with (ts, event_id) tie order, so no
    // float arithmetic at all and every cell hash-matches.
    QueryDef("q144_ohlc",
      """WITH o AS (
        |  SELECT user_id AS k, date_trunc('hour', ts) AS bucket,
        |         epoch_us(ts) AS tus, value AS v, event_id AS tie
        |  FROM events),
        |r AS (
        |  SELECT k, bucket, v,
        |         ROW_NUMBER() OVER (PARTITION BY k, bucket ORDER BY tus, tie) AS rn_o,
        |         ROW_NUMBER() OVER (PARTITION BY k, bucket ORDER BY tus DESC, tie DESC) AS rn_c
        |  FROM o)
        |SELECT k, bucket,
        |       MAX(CASE WHEN rn_o = 1 THEN v END) AS open,
        |       MAX(v) AS high, MIN(v) AS low,
        |       MAX(CASE WHEN rn_c = 1 THEN v END) AS close,
        |       CAST(COUNT(*) AS BIGINT) AS n_obs
        |FROM r GROUP BY 1, 2 ORDER BY k, bucket""".stripMargin) { (s, dir) =>
      graft.operators.Historian.ohlc(Tables.events(s, dir),
        col("user_id"), col("ts"), col("value"), col("event_id"))
        .orderBy("k", "bucket")
    },

    // Historian gap fill (round 6): hourly carry-forward per device over
    // each device's own [first, last] hour grid — the grid explodes per
    // key (grid-sized, not event-sized) and the carry-forward is a
    // running last-non-null over the same key partition. Restricted to
    // user_id <= 30 to keep the fixture output bounded; the operator is
    // grid-bounded at any corpus size.
    QueryDef("q145_gap_fill",
      """WITH o AS (
        |  SELECT user_id AS k, date_trunc('hour', ts) AS bucket,
        |         epoch_us(ts) AS tus, value AS v, event_id AS tie
        |  FROM events WHERE user_id <= 30),
        |r AS (
        |  SELECT k, bucket, v,
        |         ROW_NUMBER() OVER (PARTITION BY k, bucket ORDER BY tus DESC, tie DESC) AS rn
        |  FROM o),
        |c AS (SELECT k, bucket, v AS close FROM r WHERE rn = 1),
        |b AS (SELECT k, MIN(bucket) AS lo, MAX(bucket) AS hi FROM c GROUP BY k),
        |g AS (SELECT k, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM b),
        |j AS (SELECT g.k, g.bucket, c.close
        |      FROM g LEFT JOIN c ON c.k = g.k AND c.bucket = g.bucket)
        |SELECT k, bucket,
        |       LAST_VALUE(close IGNORE NULLS) OVER (
        |         PARTITION BY k ORDER BY bucket
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        |       close IS NULL AS filled
        |FROM j ORDER BY k, bucket""".stripMargin) { (s, dir) =>
      graft.operators.Historian.gapFillHourly(
        Tables.events(s, dir).filter(col("user_id") <= 30),
        col("user_id"), col("ts"), col("value"), col("event_id"))
        .orderBy("k", "bucket")
    },

    // Bloom filter TABLE (round 6): membership counterpart of the
    // q132/q133/q139 sketch family, with bit-exact cross-engine words
    // (universal-hash positions, bit_or'd 62-bit longs — q90's built-in
    // BloomFilterAggregate is engine-opaque; this one the oracle can
    // rebuild). The verdict row per event_type pins: every present item
    // probes maybe=true (no false negatives — structural), and the
    // measured false-positive count over an equal-sized absent probe
    // set is REPRODUCED exactly by the oracle (deterministic hashing),
    // not just bounded.
    QueryDef("q146_bloom_words", {
      val js = graft.functions.BloomTable.oracleJs()
      s"""WITH $js,
        |e AS (SELECT DISTINCT event_type, user_id AS item FROM events),
        |pos AS (SELECT event_type, item, j,
        |               ((item % 2147483647) * a + b) % 2147483647 % 3968 AS pos
        |        FROM e CROSS JOIN js),
        |w AS (SELECT event_type, pos // 62 AS word,
        |             bit_or(CAST(1 AS BIGINT) << CAST(pos % 62 AS INT)) AS bits
        |      FROM pos GROUP BY 1, 2),
        |probes AS (
        |  SELECT event_type, item, TRUE AS present FROM e
        |  UNION ALL
        |  SELECT event_type, item + 1000000, FALSE FROM e),
        |ph AS (SELECT p.event_type, p.item, p.present,
        |              CASE WHEN (COALESCE(w.bits, 0)
        |                    & (CAST(1 AS BIGINT) << CAST(pp.pos % 62 AS INT))) <> 0
        |                   THEN 1 ELSE 0 END AS hit
        |       FROM probes p CROSS JOIN js
        |       CROSS JOIN LATERAL (SELECT ((p.item % 2147483647) * js.a + js.b)
        |                                  % 2147483647 % 3968 AS pos) pp
        |       LEFT JOIN w ON w.event_type = p.event_type
        |                  AND w.word = pp.pos // 62),
        |pv AS (SELECT event_type, item, present,
        |              (SUM(hit) = 3) AS maybe
        |       FROM ph GROUP BY 1, 2, 3)
        |SELECT event_type,
        |       CAST(COUNT(*) FILTER (WHERE present) AS BIGINT) AS n_items,
        |       CAST(COUNT(*) FILTER (WHERE present AND maybe) AS BIGINT) AS present_maybe,
        |       CAST(COUNT(*) FILTER (WHERE NOT present AND maybe) AS BIGINT) AS false_positives
        |FROM pv GROUP BY event_type ORDER BY event_type""".stripMargin
    }) { (s, dir) =>
      import graft.functions.BloomTable
      val e = Tables.events(s, dir)
        .select(col("event_type"), col("user_id").as("item")).distinct()
      val filter = BloomTable.build(e, Seq("event_type"), col("item"))
      val probes = e.withColumn("present", lit(true))
        .unionByName(e.withColumn("item", col("item") + 1000000L)
          .withColumn("present", lit(false)))
      BloomTable.probe(filter, Seq("event_type"), probes)
        .groupBy("event_type")
        .agg(
          sum(when(col("present"), 1L).otherwise(0L)).as("n_items"),
          sum(when(col("present") && col("maybe"), 1L).otherwise(0L)).as("present_maybe"),
          sum(when(!col("present") && col("maybe"), 1L).otherwise(0L)).as("false_positives"))
        .orderBy("event_type")
    },

    // Triangle counting (round 6): degree-oriented wedge closure
    // (compact-forward) — orientation bounds every node's out-degree by
    // O(√E), so the wedge intermediate is O(E^1.5) worst-case, never
    // Σdeg² (the difference between feasible and not on a hub-heavy
    // 100 TB graph). The fixture graph derives deterministically from
    // order keys (customer ↔ 1 + o_orderkey mod max_custkey — sparse,
    // degree ≈ 20; the natural co-occurrence graphs in this synthetic
    // fixture are near-complete and would make triangle counts
    // degenerate). Top-20 nodes by participation, integer-exact.
    QueryDef("q147_triangles",
      """WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
        |e0 AS (SELECT DISTINCT
        |         LEAST(o_custkey, 1 + o_orderkey % m) AS a,
        |         GREATEST(o_custkey, 1 + o_orderkey % m) AS b
        |       FROM orders, mx
        |       WHERE o_custkey <> 1 + o_orderkey % m),
        |deg AS (SELECT n, COUNT(*) AS d FROM (
        |          SELECT a AS n FROM e0 UNION ALL SELECT b FROM e0) GROUP BY n),
        |o AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
        |                  THEN a ELSE b END AS u,
        |             CASE WHEN da.d < db.d OR (da.d = db.d AND a < b)
        |                  THEN b ELSE a END AS v
        |      FROM e0 JOIN deg da ON da.n = a JOIN deg db ON db.n = b),
        |tri AS (SELECT o1.u, o1.v, o2.v AS w
        |        FROM o o1 JOIN o o2 ON o1.u = o2.u AND o1.v <> o2.v
        |        JOIN o o3 ON o3.u = o1.v AND o3.v = o2.v),
        |pn AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
        |         SELECT u AS node FROM tri
        |         UNION ALL SELECT v FROM tri
        |         UNION ALL SELECT w FROM tri) GROUP BY node)
        |SELECT node, triangles,
        |       CAST(ROW_NUMBER() OVER (ORDER BY triangles DESC, node) AS INT) AS rk
        |FROM pn QUALIFY rk <= 20 ORDER BY rk""".stripMargin) { (s, dir) =>
      val m = Tables.customer(s, dir).agg(max(col("c_custkey"))).head().getLong(0)
      val edges = Tables.orders(s, dir)
        .select(col("o_custkey").as("x"),
          (lit(1L) + col("o_orderkey") % m).as("y"))
      graft.operators.GraphOps.triangleCounts(edges)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("triangles").desc, col("node"))).cast(IntegerType))
        .filter(col("rk") <= 20)
        .orderBy("rk")
    },

    // Rolling z-score anomalies (round 6): the z² ≥ k² test with all
    // divisions multiplied out — (n·q − S)² > 9·(n·S2 − S²) over the
    // 20-observation trailing window per device, quantized integers
    // only, so the flagged set is bit-identical cross-engine (no float
    // mean, no sqrt). The observation never baselines itself (window
    // ends at 1 PRECEDING), and n ≥ 8 history is required.
    QueryDef("q148_rolling_anomaly",
      """WITH o AS (
        |  SELECT user_id AS k, epoch_us(ts) AS tus,
        |         CAST(round_even(value * 1024, 0) AS BIGINT) AS q,
        |         event_id AS tie
        |  FROM events),
        |r AS (
        |  SELECT k, tie, q,
        |         CAST(COUNT(*) OVER w AS BIGINT) AS n,
        |         CAST(SUM(q) OVER w AS BIGINT) AS s,
        |         CAST(SUM(q * q) OVER w AS BIGINT) AS s2
        |  FROM o WINDOW w AS (PARTITION BY k ORDER BY tus, tie
        |                      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
        |SELECT k, tie, q, n,
        |       (n * q - s) * (n * q - s) AS dev2,
        |       9 * (n * s2 - s * s) AS bound
        |FROM r
        |WHERE n >= 8 AND (n * q - s) * (n * q - s) > 9 * (n * s2 - s * s)
        |ORDER BY k, tie""".stripMargin) { (s, dir) =>
      graft.operators.Historian.rollingAnomalies(Tables.events(s, dir),
        col("user_id"), col("ts"), col("value"), col("event_id"))
        .orderBy("k", "tie")
    },

    // Truncated-EWMA one-step forecast with a DYADIC decay (α=1/2,
    // window 16): every weight a power of two, so the numerator is an
    // exact BIGINT and the forecast one constant IEEE division — the
    // q158 exact-rational convention applied to forecasting. Keyed by
    // event_type (group sizes survive warm-up at every SF); one keyed
    // window shared by the 16 lags and the warm-up row_number.
    QueryDef("q176_ewma_forecast",
      s"""WITH b AS (
        |  SELECT event_type AS k, epoch_us(ts) AS tus, event_id AS tie,
        |         CAST(round_even(value * 1024, 0) AS BIGINT) AS q
        |  FROM events),
        |l AS (SELECT k, tie, q,
        |             ROW_NUMBER() OVER w AS rn,
        |             ${(1 to 16).map(j => s"lag(q, $j) OVER w * ${1L << (16 - j)}")
            .mkString(" + ")} AS fnum
        |      FROM b WINDOW w AS (PARTITION BY k ORDER BY tus, tie))
        |SELECT k, tie, q, CAST(fnum AS BIGINT) AS fnum,
        |       CAST(fnum AS DOUBLE) / 67107840.0 AS forecast,
        |       CAST(q * 65535 - fnum AS BIGINT) AS resid_scaled
        |FROM l WHERE rn > 16 ORDER BY k, tie""".stripMargin) { (s, dir) =>
      graft.operators.Historian.ewmaForecast(Tables.events(s, dir),
        col("event_type"), col("ts"), col("value"), col("event_id"))
        .orderBy("k", "tie")
    },

    // Hour-of-day seasonal baseline + top-50 residuals: cell mean as
    // the exact rational (sum, cnt), deviation (q·cnt − sum)/cnt with
    // one division so cells of different sizes rank comparably; global
    // top-N is a distributed TakeOrdered, never a single-partition
    // window over the event frame.
    QueryDef("q177_seasonal_residuals",
      """WITH b AS (
        |  SELECT event_type AS k, CAST(hour(ts) AS INT) AS hr, event_id AS tie,
        |         CAST(round_even(value * 1024, 0) AS BIGINT) AS q
        |  FROM events),
        |c AS (SELECT *, COUNT(*) OVER (PARTITION BY k, hr) AS cnt,
        |             SUM(q) OVER (PARTITION BY k, hr) AS s FROM b),
        |r AS (SELECT k, hr, q, CAST(cnt AS BIGINT) AS cnt,
        |             CAST(q * cnt - s AS DOUBLE) / CAST(cnt AS DOUBLE) AS resid,
        |             tie
        |      FROM c)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY abs(resid) DESC, tie) AS INT) AS rk,
        |       k, hr, q, cnt, resid
        |FROM r QUALIFY rk <= 50 ORDER BY rk""".stripMargin) { (s, dir) =>
      graft.operators.Historian.seasonalResiduals(Tables.events(s, dir),
        col("event_type"), col("ts"), col("value"), col("event_id"), topN = 50)
        .orderBy("rk")
    },

    // Market-basket lift (round 6): co-purchased part pairs with
    // support ≥ 2 scored by lift = N·c(a,b)/(c(a)·c(b)) — association
    // mining's first mile. The pair join is per-order (items/order ≈ 7
    // → ~21 pairs each, linear in orders, never the catalog square);
    // counts are integers and lift is ONE double division, so the
    // top-25 hash-matches with (p1, p2) breaking double ties.
    QueryDef("q149_copurchase_lift",
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM op),
        |cp AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM op GROUP BY p),
        |pairs AS (SELECT a.p AS p1, b.p AS p2, CAST(COUNT(*) AS BIGINT) AS c
        |          FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        |scored AS (
        |  SELECT p1, p2, pairs.c,
        |         CAST(n.n_orders * pairs.c AS DOUBLE) / CAST(c1.c * c2.c AS DOUBLE) AS lift
        |  FROM pairs, n
        |  JOIN cp c1 ON c1.p = p1
        |  JOIN cp c2 ON c2.p = p2)
        |SELECT p1, p2, c, lift,
        |       CAST(ROW_NUMBER() OVER (ORDER BY lift DESC, p1, p2) AS INT) AS rk
        |FROM scored QUALIFY rk <= 25 ORDER BY rk""".stripMargin) { (s, dir) =>
      // ONE order-keyed exchange (round 15 — the r14 verdict's #3 sf10
      // wall item): the former op-distinct + self-join pair pushed the
      // 600M-row (o, p) frame through TWO full exchanges at sf100 (the
      // distinct, then the o-keyed join). collect_set per order builds
      // each order's DISTINCT part set with map-side partial aggregation
      // in a single groupBy(o), and the a.p < b.p pairs explode from the
      // sorted set IN-STAGE (items/order ≈ 7 → ~21 pairs, linear in
      // orders) — the only other exchanges are the part-grain marginal
      // and (p1, p2) aggregations, both tiny (parts domain ≈ 2k). Same
      // pairs, same counts, same lift: sort_array(collect_set) is
      // exactly the distinct per-order part set, and the i < j pairs of
      // a sorted set are exactly the p1 < p2 pairs of the self-join.
      // Persisted: consumed by the n_orders action, the cp marginals,
      // and the pair explode (the q61 diamond lesson).
      // Narrow the part id ahead of the one remaining order-keyed
      // exchange (round 16, guide §2.3 — the r15 verdict's q149
      // residual): the exchange carries each order's partial part SET,
      // so halving the element width halves the dominant shuffle's
      // payload. Provably lossless, not assumed: the part DIMENSION is
      // copied once by every scale-up (its key domain never grows with
      // the fact tables), so one bounded dim scan certifies the cast;
      // a corpus whose part keys exceed int keeps the long pipeline.
      // Either way p1/p2 surface as BIGINT below — results identical.
      val maxPk = Tables.part(s, dir).agg(max(col("p_partkey"))).head().getLong(0)
      val narrowP =
        if (maxPk <= Int.MaxValue) col("l_partkey").cast(IntegerType)
        else col("l_partkey")
      val ops = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o"), narrowP.as("p"))
        .groupBy("o").agg(sort_array(collect_set(col("p"))).as("ps"))
        .persist()
      // bounded driver scalar (the q147 convention) — a 1-row crossJoin
      // would plan as BroadcastNestedLoopJoin, which PlanGuard bans;
      // one row per order, so count() ≡ the former countDistinct(o)
      val nOrders = ops.count()
      val cp = ops.select(explode(col("ps")).as("p"))
        .groupBy("p").agg(count(lit(1)).as("c"))
      val pairs = ops
        .select(explode(expr(
          "flatten(transform(ps, (x, i) -> transform(slice(ps, i + 2, size(ps)), " +
            "y -> named_struct('p1', x, 'p2', y))))")).as("pr"))
        .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))
        .groupBy("p1", "p2").agg(count(lit(1)).as("c"))
        .filter(col("c") >= 2)
      pairs
        .withColumn("n_orders", lit(nOrders))
        .join(broadcast(cp.select(col("p").as("p1"), col("c").as("c1"))), Seq("p1"))
        .join(broadcast(cp.select(col("p").as("p2"), col("c").as("c2"))), Seq("p2"))
        .select(col("p1").cast(LongType).as("p1"), col("p2").cast(LongType).as("p2"),
          col("c"),
          ((col("n_orders") * col("c")).cast(DoubleType)
            / (col("c1") * col("c2")).cast(DoubleType)).as("lift"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("lift").desc, col("p1"), col("p2"))).cast(IntegerType))
        .filter(col("rk") <= 25)
        .orderBy("rk")
    },

    // First-occurrence precedence matrix (round 6): for every ordered
    // pair of event types, how many users saw A strictly before B
    // (first occurrences compared) out of the users who saw both — the
    // user-journey ordering statistic behind funnel design (q135 checks
    // ONE ordered path; this surveys all of them). Equal first-
    // occurrence timestamps count neither direction — deterministic
    // without a tiebreak. One shuffle to the (user, type) grain; the
    // pair join runs on the per-user TYPE dim (≤ |types|² rows/user).
    QueryDef("q151_event_precedence",
      """WITH f AS (
        |  SELECT user_id, event_type, MIN(ts) AS first_ts
        |  FROM events GROUP BY 1, 2)
        |SELECT a.event_type AS etype_a, b.event_type AS etype_b,
        |       CAST(SUM(CASE WHEN a.first_ts < b.first_ts THEN 1 ELSE 0 END) AS BIGINT) AS support_users,
        |       CAST(COUNT(*) AS BIGINT) AS both_users
        |FROM f a JOIN f b ON a.user_id = b.user_id AND a.event_type <> b.event_type
        |GROUP BY 1, 2 ORDER BY etype_a, etype_b""".stripMargin) { (s, dir) =>
      val f = Tables.events(s, dir)
        .groupBy("user_id", "event_type")
        .agg(min(col("ts")).as("first_ts"))
      f.toDF("user_id", "etype_a", "ts_a")
        .join(f.toDF("user_id", "etype_b", "ts_b"), Seq("user_id"))
        .filter(col("etype_a") =!= col("etype_b"))
        .groupBy("etype_a", "etype_b")
        .agg(
          sum(when(col("ts_a") < col("ts_b"), 1L).otherwise(0L)).as("support_users"),
          count(lit(1)).as("both_users"))
        .orderBy("etype_a", "etype_b")
    },

    // HLL INTERSECTION over the stored sketch table (round 6): audience
    // overlap |A∩B| ≈ est(A) + est(B) − est(A∪B) by inclusion-exclusion
    // — the dashboard query the q132 sketch table exists to answer
    // without rescanning raw events (the union sketch comes from
    // hll_union of the two stored type sketches; nothing re-touches the
    // corpus). Intersection error scales with the UNION's cardinality,
    // so the q81-style verdict bounds |est − exact| by 5% of the exact
    // union, oracle-checked per pair.
    QueryDef("q153_hll_intersection",
      """WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
        |pairs AS (
        |  SELECT a.event_type AS etype_a, b.event_type AS etype_b,
        |         CAST(COUNT(*) AS BIGINT) AS exact_both
        |  FROM tu a JOIN tu b
        |    ON a.user_id = b.user_id AND a.event_type < b.event_type
        |  GROUP BY 1, 2),
        |card AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM tu GROUP BY 1)
        |SELECT p.etype_a, p.etype_b, p.exact_both,
        |       CAST(ca.n + cb.n - p.exact_both AS BIGINT) AS exact_union,
        |       TRUE AS within_bound
        |FROM pairs p
        |JOIN card ca ON ca.event_type = p.etype_a
        |JOIN card cb ON cb.event_type = p.etype_b
        |ORDER BY etype_a, etype_b""".stripMargin) { (s, dir) =>
      import graft.functions.SketchRollup
      val ev = Tables.events(s, dir)
      val cells = SketchRollup.sketchCells(
        ev, Seq("event_type"), to_date(col("ts")), col("user_id"))
      val perType = cells.groupBy("event_type")
        .agg(hll_union_agg(col("sketch"), lit(false)).as("sk"))
      val tu = ev.select("event_type", "user_id").distinct()
      val exact = tu.toDF("etype_a", "user_id")
        .join(tu.toDF("etype_b", "user_id"), Seq("user_id"))
        .filter(col("etype_a") < col("etype_b"))
        .groupBy("etype_a", "etype_b").agg(count(lit(1)).as("exact_both"))
      val card = tu.groupBy("event_type").agg(count(lit(1)).as("n"))
      exact
        .join(broadcast(perType.select(col("event_type").as("etype_a"), col("sk").as("sk_a"))), Seq("etype_a"))
        .join(broadcast(perType.select(col("event_type").as("etype_b"), col("sk").as("sk_b"))), Seq("etype_b"))
        .join(broadcast(card.select(col("event_type").as("etype_a"), col("n").as("n_a"))), Seq("etype_a"))
        .join(broadcast(card.select(col("event_type").as("etype_b"), col("n").as("n_b"))), Seq("etype_b"))
        .withColumn("est_both",
          hll_sketch_estimate(col("sk_a")) + hll_sketch_estimate(col("sk_b"))
            - hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
        .withColumn("exact_union", col("n_a") + col("n_b") - col("exact_both"))
        .select(col("etype_a"), col("etype_b"), col("exact_both"), col("exact_union"),
          (abs(col("est_both") - col("exact_both")).cast("double")
            <= col("exact_union").cast("double") * 0.05).as("within_bound"))
        .orderBy("etype_a", "etype_b")
    },

    // Time-bounded funnel (round 6): q135's earliest-completion funnel
    // with a 6-hour max gap between consecutive stages — the session-
    // style knob product analytics actually ships (an unbounded funnel
    // credits conversions days apart). Same per-stage keyed frontier
    // loop; the bound is one extra filter clause per stage.
    QueryDef("q154_funnel_windowed",
      """WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t
        |         AND e.ts <= s1.t + INTERVAL 360 MINUTE GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t
        |         AND e.ts <= s2.t + INTERVAL 360 MINUTE GROUP BY 1)
        |SELECT CAST(1 AS INTEGER) AS stage, 'view' AS stage_name,
        |       CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
        |UNION ALL SELECT CAST(2 AS INTEGER), 'click', CAST(COUNT(*) AS BIGINT) FROM s2
        |UNION ALL SELECT CAST(3 AS INTEGER), 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
        |ORDER BY stage""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.ordered(Tables.events(s, dir),
        Seq("view", "click", "purchase"), maxGapMinutes = Some(360L))
    },

    // Label-propagation communities (round 7): 3 synchronous rounds of
    // "adopt the most frequent neighbor label, ties → smallest" over the
    // q147 deterministic graph. Classic LPA tie-breaks randomly; the
    // smallest-label rule makes every round a pure function of the graph,
    // so an ITERATIVE community structure hash-matches cross-engine (the
    // q138 trick, applied to argmax instead of integer division). The
    // oracle replays the rounds as unrolled count/argmax CTEs.
    QueryDef("q155_label_propagation",
      lpaCte +
        """
        |SELECT node, label FROM l3 ORDER BY node""".stripMargin) { (s, dir) =>
      val m = Tables.customer(s, dir).agg(max(col("c_custkey"))).head().getLong(0)
      val edges = Tables.orders(s, dir)
        .select(col("o_custkey").as("src"),
          (lit(1L) + col("o_orderkey") % m).as("dst"))
      graft.operators.GraphOps.labelPropagation(edges, rounds = 3)
        .orderBy("node")
    },

    // Per-device OLS trend slope (round 7): exact integer sufficient
    // statistics — x = seconds since the device's first observation,
    // y = round_even(value·2¹⁰) — emitting the exact rational
    // num/den = (n·Σxy − Σx·Σy)/(n·Σx² − (Σx)²) as BIGINTs plus ONE
    // IEEE division. Trend detection over a 100 TB historian is one
    // keyed window + one keyed agg; comparing exact rationals avoids
    // every cross-engine float-summation trap.
    QueryDef("q158_trend_slope",
      """WITH o AS (SELECT user_id AS k, epoch_us(ts) AS tus,
        |                  CAST(round_even(value * 1024, 0) AS BIGINT) AS q
        |           FROM events),
        |b AS (SELECT k, q,
        |             (tus - MIN(tus) OVER (PARTITION BY k)) // 1000000 AS x
        |      FROM o),
        |a AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(q) AS BIGINT) AS sy,
        |             CAST(SUM(x * q) AS BIGINT) AS sxy,
        |             CAST(SUM(x * x) AS BIGINT) AS sxx
        |      FROM b GROUP BY k)
        |SELECT k, n,
        |       CAST(n * sxy - sx * sy AS BIGINT) AS num,
        |       CAST(n * sxx - sx * sx AS BIGINT) AS den,
        |       CASE WHEN n * sxx - sx * sx > 0
        |            THEN CAST(n * sxy - sx * sy AS DOUBLE)
        |                 / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope
        |FROM a ORDER BY k""".stripMargin) { (s, dir) =>
      graft.operators.Historian.trendSlope(Tables.events(s, dir),
        col("user_id"), col("ts"), col("value"))
        .orderBy("k")
    },

    // CUSUM change-point (round 7): per device, the observation index
    // maximizing |n·S_i − i·S_n| over the (ts, tiebreak)-ordered prefix
    // sums of quantized values — "where did the level shift", with the
    // division by n multiplied out so the argmax is over exact integers
    // and ties resolve to the earliest index in every engine.
    QueryDef("q159_cusum_changepoint",
      """WITH o AS (SELECT user_id AS k, epoch_us(ts) AS tus,
        |                  CAST(round_even(value * 1024, 0) AS BIGINT) AS q,
        |                  event_id AS tie
        |           FROM events),
        |p AS (SELECT k, tie,
        |             CAST(row_number() OVER w AS BIGINT) AS i,
        |             CAST(SUM(q) OVER w AS BIGINT) AS s
        |      FROM o WINDOW w AS (PARTITION BY k ORDER BY tus, tie
        |                          ROWS UNBOUNDED PRECEDING)),
        |t AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(q) AS BIGINT) AS tot
        |      FROM o GROUP BY k),
        |d AS (SELECT p.k, p.tie, p.i, t.n,
        |             CAST(ABS(t.n * p.s - p.i * t.tot) AS BIGINT) AS dev
        |      FROM p JOIN t ON p.k = t.k)
        |SELECT k, n, i AS cut_i, tie AS cut_tie, dev FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k
        |              ORDER BY dev DESC, i) AS rn FROM d)
        |WHERE rn = 1 ORDER BY k""".stripMargin) { (s, dir) =>
      graft.operators.Historian.cusumChangepoint(Tables.events(s, dir),
        col("user_id"), col("ts"), col("value"), col("event_id"))
        .orderBy("k")
    },

    // Sliding-window distinct from the stored sketch table (round 7):
    // 7-day unique users per (event_type, day) by WINDOW-merging the
    // q132 daily HLL cells — one pass over the day-sized sketch table
    // instead of 7 rescans of the raw events per day (the rolling-
    // dashboard query at 100 TB). Verified the q81/q132 way: the
    // windowed estimate's relative error vs the exact trailing-window
    // distinct (range join, day dim × events) is the oracle-checked
    // verdict.
    QueryDef("q162_sliding_distinct",
      """WITH d AS (SELECT DISTINCT event_type, CAST(ts AS DATE) AS day FROM events)
        |SELECT d.event_type, CAST(d.day AS TIMESTAMP) AS day,
        |       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS exact_users,
        |       TRUE AS within_5pct
        |FROM d JOIN events e ON e.event_type = d.event_type
        |  AND CAST(e.ts AS DATE) BETWEEN d.day - 6 AND d.day
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
      val cells = graft.functions.SketchRollup.sketchCells(
        ev, Seq("event_type"), to_date(col("ts")), col("user_id"))
      val approx = graft.functions.SketchRollup
        .slidingDistinct(cells, Seq("event_type"), windowDays = 7)
      val evd = ev.select(col("event_type").as("et"), to_date(col("ts")).as("eday"),
        col("user_id"))
      // the (type, day) dim is tiny (days × event types) but sits behind
      // a window+aggregate lineage AQE sometimes mis-sizes: the range
      // join was bimodal (9 s broadcast mode vs 18 s shuffle mode on the
      // 100× corpus, both trees) — pin the broadcast so the events side
      // never shuffles for it
      val exact = broadcast(approx.select(col("event_type"), col("cell")))
        .join(evd, col("et") === col("event_type")
          && col("eday").between(date_sub(col("cell"), 6), col("cell")))
        .groupBy("event_type", "cell")
        .agg(countDistinct(col("user_id")).as("exact_users"))
      approx.join(exact, Seq("event_type", "cell"))
        .select(col("event_type"),
          col("cell").cast(TimestampType).as("day"), col("exact_users"),
          (abs(col("approx_distinct") - col("exact_users"))
            .cast(DoubleType) / col("exact_users") <= 0.05).as("within_5pct"))
        .orderBy("event_type", "day")
    },

    // Sliding-window quantiles from the stored histogram-sketch table
    // (round 7): trailing-7-day p50/p90 per (event_type, day) by summing
    // the q133 daily integer histograms — the quantile counterpart of
    // q162, with the STRONGER verdict HistSketch always gives: the
    // estimates themselves are integer-derived and hash-exact, not just
    // error-bounded. Join fan-out is sketch-table × 7, never raw-scale.
    QueryDef("q163_sliding_quantiles",
      """WITH vi AS (
        |  SELECT event_type, CAST(ts AS DATE) AS eday,
        |         GREATEST(CAST(FLOOR(value * 1048576) AS BIGINT), 1) AS v
        |  FROM events),
        |d AS (SELECT DISTINCT event_type, eday AS day FROM vi),
        |w AS (SELECT d.event_type, d.day, vi.v
        |      FROM d JOIN vi ON vi.event_type = d.event_type
        |        AND vi.eday BETWEEN d.day - 6 AND d.day),
        |bnd AS (SELECT event_type, day, v, LENGTH(BIN(v)) - 1 AS e FROM w),
        |h AS (SELECT event_type, day,
        |             CASE WHEN e <= 4 THEN v
        |                  ELSE CAST(e - 4 AS BIGINT) * 16 + (v >> (e - 4)) END AS bin,
        |             COUNT(*) AS cnt
        |      FROM bnd GROUP BY 1, 2, 3),
        |c AS (SELECT event_type, day, bin,
        |             SUM(cnt) OVER (PARTITION BY event_type, day ORDER BY bin) AS cum,
        |             SUM(cnt) OVER (PARTITION BY event_type, day) AS n
        |      FROM h),
        |q AS (SELECT event_type, day, CAST(MAX(n) AS BIGINT) AS n,
        |             MIN(CASE WHEN cum * 100 >= n * 50 THEN bin END) AS b50,
        |             MIN(CASE WHEN cum * 100 >= n * 90 THEN bin END) AS b90
        |      FROM c GROUP BY 1, 2)
        |SELECT event_type, CAST(day AS TIMESTAMP) AS day, n,
        |       CAST(CASE WHEN b50 < 32 THEN b50
        |                 ELSE ((b50 & 15) + 16) << ((b50 >> 4) - 1) END AS DOUBLE)
        |         / 1048576.0 AS p50_est,
        |       CAST(CASE WHEN b90 < 32 THEN b90
        |                 ELSE ((b90 & 15) + 16) << ((b90 >> 4) - 1) END AS DOUBLE)
        |         / 1048576.0 AS p90_est
        |FROM q ORDER BY event_type, day""".stripMargin) { (s, dir) =>
      import graft.functions.HistSketch
      val cells = HistSketch.sketchCells(
        Tables.events(s, dir), Seq("event_type"), to_date(col("ts")),
        HistSketch.toMicros(col("value")))
      HistSketch.slidingQuantiles(cells, Seq("event_type"), windowDays = 7,
        Seq("p50_est" -> 50, "p90_est" -> 90))
        .select(col("event_type"), col("day").cast(TimestampType).as("day"),
          col("n"), col("p50_est"), col("p90_est"))
        .orderBy("event_type", "day")
    },

    // Sliding-window heavy hitters (round 7): top-5 users per
    // (event_type, day) over the trailing 7 days — the top-k member of
    // the sliding dashboard trio (q162 distinct, q163 quantiles).
    // Candidates = union of each window day's exact top-10 (ingest-time
    // state); frequencies = CM estimates from the window-SUMMED q139
    // counter grids (linearity) — no raw rescan per day. The exact
    // window count rides along, so the CM one-sided guarantee
    // (est ≥ exact) is oracle-checked on every output row.
    QueryDef("q164_sliding_heavy_hitters", {
      val js = graft.functions.CountMinSketch.oracleJs()
      s"""WITH $js,
        |e AS (SELECT event_type, CAST(ts AS DATE) AS eday, user_id AS item FROM events),
        |daily AS (SELECT event_type, eday, item, CAST(COUNT(*) AS BIGINT) AS cnt
        |          FROM e GROUP BY 1, 2, 3),
        |topm AS (SELECT event_type, eday, item FROM (
        |           SELECT *, row_number() OVER (PARTITION BY event_type, eday
        |                      ORDER BY cnt DESC, item) AS rn FROM daily)
        |         WHERE rn <= 10),
        |d AS (SELECT DISTINCT event_type, eday AS day FROM daily),
        |cands AS (SELECT DISTINCT d.event_type, d.day, t.item
        |          FROM d JOIN topm t ON t.event_type = d.event_type
        |            AND t.eday BETWEEN d.day - 6 AND d.day),
        |ex AS (SELECT c.event_type, c.day, c.item,
        |              CAST(SUM(dl.cnt) AS BIGINT) AS exact_cnt
        |       FROM cands c JOIN daily dl ON dl.event_type = c.event_type
        |         AND dl.item = c.item AND dl.eday BETWEEN c.day - 6 AND c.day
        |       GROUP BY 1, 2, 3),
        |cells AS (SELECT event_type, eday, j,
        |                 ((item % 2147483647) * a + b) % 2147483647 % 2048 AS bucket,
        |                 CAST(COUNT(*) AS BIGINT) AS cnt
        |          FROM e CROSS JOIN js GROUP BY 1, 2, 3, 4),
        |grid AS (SELECT d.event_type, d.day, c.j, c.bucket,
        |                CAST(SUM(c.cnt) AS BIGINT) AS cnt
        |         FROM d JOIN cells c ON c.event_type = d.event_type
        |           AND c.eday BETWEEN d.day - 6 AND d.day
        |         GROUP BY 1, 2, 3, 4),
        |est AS (SELECT x.event_type, x.day, x.item, x.exact_cnt,
        |               CAST(MIN(COALESCE(g.cnt, 0)) AS BIGINT) AS est_cnt
        |        FROM ex x CROSS JOIN js
        |        LEFT JOIN grid g ON g.event_type = x.event_type AND g.day = x.day
        |          AND g.j = js.j
        |          AND g.bucket = ((x.item % 2147483647) * js.a + js.b) % 2147483647 % 2048
        |        GROUP BY 1, 2, 3, 4)
        |SELECT event_type, CAST(day AS TIMESTAMP) AS day, item, exact_cnt, est_cnt,
        |       est_cnt >= exact_cnt AS lower_ok,
        |       CAST(row_number() OVER (PARTITION BY event_type, day
        |            ORDER BY est_cnt DESC, item) AS INT) AS rk
        |FROM est QUALIFY rk <= 5 ORDER BY event_type, day, rk""".stripMargin
    }) { (s, dir) =>
      graft.functions.CountMinSketch.slidingHeavyHitters(
        Tables.events(s, dir), Seq("event_type"), to_date(col("ts")),
        col("user_id"), windowDays = 7, dailyTopM = 10, topK = 5, width = 2048)
        .select(col("event_type"), col("day").cast(TimestampType).as("day"),
          col("item"), col("exact_cnt"), col("est_cnt"), col("lower_ok"), col("rk"))
        .orderBy("event_type", "day", "rk")
    },

    // Last-touch attribution (round 7): every purchase attributed to the
    // user's most recent preceding click within 24 h. One shuffle + one
    // deterministic ROWS-frame carry-forward window — no join, however
    // many touches precede each conversion; same-µs ties resolve by the
    // unique event_id, identically in both engines.
    QueryDef("q165_last_touch",
      """WITH o AS (SELECT user_id AS u, epoch_us(ts) AS tus,
        |                  event_type AS t, event_id AS tie
        |           FROM events),
        |w AS (SELECT u, tus, t, tie,
        |             LAST_VALUE(CASE WHEN t = 'click' THEN tus END IGNORE NULLS)
        |               OVER win AS touch_tus,
        |             LAST_VALUE(CASE WHEN t = 'click' THEN tie END IGNORE NULLS)
        |               OVER win AS touch_tie
        |      FROM o WINDOW win AS (PARTITION BY u ORDER BY tus, tie
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT u, tie AS conv_id,
        |       CASE WHEN touch_tus IS NOT NULL
        |                 AND tus - touch_tus <= 86400000000 THEN touch_tie END AS touch_id,
        |       CASE WHEN touch_tus IS NOT NULL
        |                 AND tus - touch_tus <= 86400000000
        |            THEN (tus - touch_tus) // 1000000 END AS gap_s
        |FROM w WHERE t = 'purchase' ORDER BY u, conv_id""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.lastTouch(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_type"), col("event_id"),
        touchType = "click", convType = "purchase", maxGapMinutes = 1440L)
        .orderBy("u", "conv_id")
    },

    // k-core peel (GraphOps.kCore) on q147's synthetic customer graph:
    // iteratively drop nodes of degree < k with their edges — the
    // link-graph quality filter (spam rings and scraped mirrors peel
    // away; the dense core survives). The round budget is part of the
    // operator contract, so the oracle unrolls exactly KCoreRounds
    // rounds (the bpeReplaySeg convention); once a round removes
    // nothing the remaining unrolled rounds are no-ops, so early
    // convergence and the full unroll agree exactly. k = 14 sits inside
    // the fixture's degree distribution: the peel cascades (nodes at
    // exactly k lose neighbors and fall below) instead of either
    // no-op-ing or dissolving the whole graph.
    QueryDef("q193_kcore", {
      val rounds = (1 to KCoreRounds).map { r =>
        val p = r - 1
        s"""d_$r AS (SELECT n, COUNT(*) AS d FROM (
          |         SELECT a AS n FROM e_$p UNION ALL SELECT b FROM e_$p) GROUP BY n),
          |k_$r AS MATERIALIZED (SELECT n FROM d_$r WHERE d >= $KCoreK),
          |e_$r AS MATERIALIZED (SELECT e_$p.a, e_$p.b FROM e_$p
          |        JOIN k_$r ka ON ka.n = e_$p.a
          |        JOIN k_$r kb ON kb.n = e_$p.b)""".stripMargin
      }.mkString(",\n")
      s"""WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
        |e_0 AS MATERIALIZED (SELECT DISTINCT
        |         LEAST(o_custkey, 1 + o_orderkey % m) AS a,
        |         GREATEST(o_custkey, 1 + o_orderkey % m) AS b
        |       FROM orders, mx
        |       WHERE o_custkey <> 1 + o_orderkey % m),
        |$rounds,
        |df AS (SELECT n, COUNT(*) AS d FROM (
        |         SELECT a AS n FROM e_$KCoreRounds
        |         UNION ALL SELECT b FROM e_$KCoreRounds) GROUP BY n)
        |SELECT n AS node, CAST(d AS BIGINT) AS deg
        |FROM df WHERE d >= $KCoreK ORDER BY node""".stripMargin
    }) { (s, dir) =>
      val m = Tables.customer(s, dir).agg(max(col("c_custkey"))).head().getLong(0)
      val edges = Tables.orders(s, dir)
        .select(col("o_custkey").as("x"),
          (lit(1L) + col("o_orderkey") % m).as("y"))
      graft.operators.GraphOps.kCore(edges, k = KCoreK, maxRounds = KCoreRounds)
        .orderBy("node")
    },

    q197,

    // Community modularity (GraphOps.modularity): the quality metric
    // for q155's label-propagation communities — per community the
    // exact integer contribution 4m·l_c − d_c² (Q scaled by 4m², no
    // float division anywhere), q117's cluster-quality role for
    // graphs. The oracle replays the 3 LPA rounds (shared lpaCte) and
    // the same integer arithmetic.
    QueryDef("q198_modularity",
      lpaCte +
        """,
        |und AS (SELECT LEAST(a, b) AS s, GREATEST(a, b) AS t
        |        FROM e0 GROUP BY 1, 2),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM und),
        |dg AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        |       FROM e GROUP BY 1),
        |ic AS (SELECT la.label, CAST(COUNT(*) AS BIGINT) AS intra
        |       FROM und JOIN l3 la ON la.node = und.s
        |                JOIN l3 lb ON lb.node = und.t
        |       WHERE la.label = lb.label GROUP BY 1),
        |ds AS (SELECT l3.label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |              CAST(SUM(dg.deg) AS BIGINT) AS deg_sum
        |       FROM l3 JOIN dg USING (node) GROUP BY 1)
        |SELECT ds.label, ds.n_nodes,
        |       CAST(coalesce(ic.intra, 0) AS BIGINT) AS intra_edges,
        |       ds.deg_sum,
        |       4 * m * coalesce(ic.intra, 0) - ds.deg_sum * ds.deg_sum AS contrib
        |FROM ds LEFT JOIN ic USING (label), mm
        |ORDER BY label""".stripMargin) { (s, dir) =>
      val m = Tables.customer(s, dir).agg(max(col("c_custkey"))).head().getLong(0)
      val edges = Tables.orders(s, dir)
        .select(col("o_custkey").as("src"),
          (lit(1L) + col("o_orderkey") % m).as("dst"))
      // ONE shared symmetrize (round 15): LPA and modularity used to
      // each build + cache their own identical 2·|E|-row distinct edge
      // set — the r14 verdict's worst residual (71.6×/decade, 599 s at
      // sf100). Same edge set, same labels, same integer contributions.
      val sym = graft.operators.GraphOps.symmetrize(edges)
      graft.operators.GraphOps.modularitySym(sym,
        graft.operators.GraphOps.labelPropagationSym(sym, rounds = 3))
        .orderBy("label")
    },

    q206,

    // U-shaped multi-touch attribution (Funnel.positionAttribution):
    // q165's last-touch companion — every click inside the 24 h
    // lookback shares the purchase's credit 40/20/40 in EXACT integer
    // basis points (middle remainder rides on the first touch, so each
    // conversion sums to exactly 10000 — a float split would neither
    // sum exactly nor hash-match).
    QueryDef("q209_position_attribution",
      """WITH p AS (SELECT user_id AS u, epoch_us(ts) AS ptus, event_id AS conv_id
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS u, epoch_us(ts) AS ctus, event_id AS tid
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.conv_id, c.tid AS touch_id, c.ctus
        |      FROM p JOIN c ON p.u = c.u AND c.ctus <= p.ptus
        |                    AND p.ptus - c.ctus <= 86400000000),
        |r AS (SELECT conv_id, touch_id,
        |             CAST(row_number() OVER (PARTITION BY conv_id
        |                  ORDER BY ctus, touch_id) AS BIGINT) AS rn,
        |             CAST(COUNT(*) OVER (PARTITION BY conv_id) AS BIGINT) AS n_t
        |      FROM j)
        |SELECT conv_id, touch_id, rn, n_t,
        |       CASE WHEN n_t = 1 THEN 10000
        |            WHEN n_t = 2 THEN 5000
        |            WHEN rn = 1 THEN 4000 + 2000 % (n_t - 2)
        |            WHEN rn = n_t THEN 4000
        |            ELSE 2000 // (n_t - 2) END AS bp
        |FROM r ORDER BY conv_id, rn""".stripMargin) { (s, dir) =>
      graft.operators.Funnel.positionAttribution(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_type"), col("event_id"),
        touchType = "click", convType = "purchase", windowMinutes = 1440L)
        .orderBy("conv_id", "rn")
    },

    // Top session paths (Sessionize.pathTrigrams): the most frequent
    // 3-step event-type sequences within q25's 30-minute sessions —
    // trigrams never cross a session boundary (leads scoped to the
    // (user, session) window). One keyed window pass + one path agg +
    // a TakeOrdered top-20.
    QueryDef("q210_session_paths",
      """WITH x AS (
        |  SELECT user_id AS u, epoch_us(ts) AS tus, event_id AS tie,
        |         event_type AS t,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |              THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, CAST(SUM(is_new) OVER (PARTITION BY u ORDER BY tus, tie)
        |                AS BIGINT) AS session_id
        |      FROM x),
        |p AS (SELECT t || '>' || lead(t, 1) OVER ws || '>' || lead(t, 2) OVER ws
        |               AS path,
        |             lead(t, 2) OVER ws AS t3
        |      FROM s WINDOW ws AS (PARTITION BY u, session_id ORDER BY tus, tie)),
        |c AS (SELECT path, CAST(COUNT(*) AS BIGINT) AS n
        |      FROM p WHERE t3 IS NOT NULL GROUP BY path)
        |SELECT path, n,
        |       CAST(row_number() OVER (ORDER BY n DESC, path) AS INT) AS rk
        |FROM c QUALIFY rk <= 20 ORDER BY rk""".stripMargin) { (s, dir) =>
      graft.operators.Sessionize.pathTrigrams(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_id"), col("event_type"),
        gapSeconds = 1800L, topK = 20)
        .orderBy("rk")
    },

    // DAU/WAU stickiness: per active day, distinct users that day over
    // distinct users in the trailing 7 days — the engagement ratio.
    // The trailing-window distinct CANNOT sum daily distincts (users
    // repeat); instead each (day, user) activity row EXPLODES to the 7
    // windows it serves — map-side, then one keyed distinct+agg — never
    // a day×day range join. Ratio is a 10⁶-scaled truncating division;
    // day surfaces as TIMESTAMP on both sides (the q162 DATE-dtype
    // lesson).
    QueryDef("q213_stickiness",
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
        |dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day),
        |wx AS (SELECT CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
        |                   INTERVAL 1 DAY)) AS DATE) AS wday, user_id
        |       FROM du),
        |wau AS (SELECT wday AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        |        FROM wx GROUP BY wday)
        |SELECT CAST(dau.day AS TIMESTAMP) AS day, dau.dau, wau.wau,
        |       (dau.dau * 1000000) // wau.wau AS stickiness_1e6
        |FROM dau JOIN wau USING (day)
        |ORDER BY day""".stripMargin) { (s, dir) =>
      val du = Tables.events(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = du
        .select(explode(sequence(col("day"), date_add(col("day"), 6))).as("day"),
          col("user_id"))
        .distinct()
        .groupBy("day").agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day"))
        .select(col("day").cast("timestamp").as("day"), col("dau"), col("wau"),
          expr("(dau * 1000000) div wau").as("stickiness_1e6"))
        .orderBy("day")
    },

    // Conversion-latency percentiles: exact-rank p50/p90/p99 of the
    // click→purchase gap (q165's attribution gaps), rank = ceil(n·p/100)
    // over the conversion-dim distribution — bounded by conversions, so
    // the rank window is a dimension sort, not a corpus one. Values at a
    // rank are tie-stable (equal gaps yield the same value whichever row
    // the rank lands on).
    QueryDef("q214_conversion_latency",
      """WITH o AS (SELECT user_id AS u, epoch_us(ts) AS tus, event_type AS t,
        |                  event_id AS tie
        |           FROM events),
        |w AS (SELECT u, tus, t,
        |             LAST_VALUE(CASE WHEN t = 'click' THEN tus END IGNORE NULLS)
        |               OVER win AS touch_tus
        |      FROM o WINDOW win AS (PARTITION BY u ORDER BY tus, tie
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |g AS (SELECT (tus - touch_tus) // 1000000 AS gap_s FROM w
        |      WHERE t = 'purchase' AND touch_tus IS NOT NULL
        |        AND tus - touch_tus <= 86400000000),
        |r AS (SELECT gap_s,
        |             CAST(row_number() OVER (ORDER BY gap_s) AS BIGINT) AS rn,
        |             CAST(COUNT(*) OVER () AS BIGINT) AS n
        |      FROM g)
        |SELECT p.pct, r.gap_s
        |FROM r JOIN (VALUES (50), (90), (99)) p(pct)
        |  ON r.rn = (r.n * p.pct + 99) // 100
        |ORDER BY p.pct""".stripMargin) { (s, dir) =>
      val g = graft.operators.Funnel.lastTouch(Tables.events(s, dir),
        col("user_id"), col("ts"), col("event_type"), col("event_id"),
        touchType = "click", convType = "purchase", maxGapMinutes = 1440L)
        .filter(col("gap_s").isNotNull).select("gap_s")
      // pct assignment is a MAP-SIDE array filter (the curriculum epoch
      // idiom) — a non-equi join against the 3-row pct dim would plan
      // as the BroadcastNestedLoopJoin PlanGuard bans
      g.withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy("gap_s")).cast("long"))
        .withColumn("n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy()))
        .withColumn("pct",
          explode(expr("filter(array(50, 90, 99), p -> rn = (n * p + 99) div 100)")))
        .select("pct", "gap_s")
        .orderBy("pct")
    },

    // Ingest-rate change-point: q159's CUSUM applied to HOURLY VOLUME
    // per event type — "when did this feed's rate level-shift", the ops
    // question behind every ingest incident. The series is the hour-dim
    // rollup (never event-grain CUSUM state), so the detector costs one
    // grouped count + the q159 integer argmax over a tiny frame.
    QueryDef("q218_rate_changepoint",
      """WITH h AS (SELECT event_type AS k, date_trunc('hour', ts) AS hr,
        |                  CAST(COUNT(*) AS BIGINT) AS cnt
        |           FROM events GROUP BY 1, 2),
        |o AS (SELECT k, epoch_us(hr) AS tus,
        |             CAST(round_even(cnt * 1024, 0) AS BIGINT) AS q,
        |             epoch_us(hr) AS tie
        |      FROM h),
        |p AS (SELECT k, tie,
        |             CAST(row_number() OVER w AS BIGINT) AS i,
        |             CAST(SUM(q) OVER w AS BIGINT) AS s
        |      FROM o WINDOW w AS (PARTITION BY k ORDER BY tus, tie
        |                          ROWS UNBOUNDED PRECEDING)),
        |t AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(q) AS BIGINT) AS tot
        |      FROM o GROUP BY k),
        |d AS (SELECT p.k, p.tie, p.i, t.n,
        |             CAST(ABS(t.n * p.s - p.i * t.tot) AS BIGINT) AS dev
        |      FROM p JOIN t ON p.k = t.k)
        |SELECT k, n, i AS cut_i, tie AS cut_tie, dev FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k
        |              ORDER BY dev DESC, i) AS rn FROM d)
        |WHERE rn = 1 ORDER BY k""".stripMargin) { (s, dir) =>
      val hourly = Tables.events(s, dir)
        .groupBy(col("event_type").as("et"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      graft.operators.Historian.cusumChangepoint(hourly,
        col("et"), col("hr"), col("cnt"), unix_micros(col("hr")))
        .orderBy("k")
    }
  )

  /** q155's deterministic 3-round label propagation over the synthetic
    * customer graph, ending at `l3` (node, label) with the symmetrized
    * edge view `e` and canonical pre-symmetrization pairs `e0` in
    * scope. Composed by q155 and q198's modularity metric.
    */
  private lazy val lpaCte = {
    def round(i: Int) =
      s"""c$i AS (SELECT e.dst AS node, l${i - 1}.label, COUNT(*) AS cnt
         |        FROM e JOIN l${i - 1} ON e.src = l${i - 1}.node GROUP BY 1, 2),
         |l$i AS (SELECT node, label FROM (
         |          SELECT node, label,
         |                 row_number() OVER (PARTITION BY node
         |                   ORDER BY cnt DESC, label) AS rn
         |          FROM c$i) WHERE rn = 1)""".stripMargin
    s"""WITH mx AS (SELECT MAX(c_custkey) AS m FROM customer),
       |e0 AS (SELECT DISTINCT o_custkey AS a, 1 + o_orderkey % m AS b
       |       FROM orders, mx
       |       WHERE o_custkey <> 1 + o_orderkey % m),
       |e AS (SELECT a AS src, b AS dst FROM e0
       |      UNION SELECT b AS src, a AS dst FROM e0),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |${round(1)},
       |${round(2)},
       |${round(3)}""".stripMargin
  }

  /** q197: Historian.madOutliers — q148's robust twin. |q − median| >
    * 3·1.4826·MAD with exact lower-median ranks over quantized
    * integers and the consistency constant premultiplied (44478/10⁴),
    * so the flagged set is integer-exact — the estimator an outlier
    * cannot drag (the masking failure mean/σ baselines have).
    */
  private def q197 =
    QueryDef("q197_mad_outliers",
      """WITH o AS (SELECT user_id AS k,
        |                 CAST(round_even(value * 1024, 0) AS BIGINT) AS q,
        |                 event_id AS tie
        |           FROM events),
        |r AS (SELECT k, tie, q,
        |             CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n,
        |             CAST(row_number() OVER (PARTITION BY k ORDER BY q, tie)
        |                  AS BIGINT) AS rn
        |      FROM o),
        |m AS (SELECT *, MAX(CASE WHEN rn = (n + 1) // 2 THEN q END)
        |               OVER (PARTITION BY k) AS med
        |      FROM r),
        |d AS (SELECT *, abs(q - med) AS dev FROM m),
        |r2 AS (SELECT *, CAST(row_number() OVER (PARTITION BY k ORDER BY dev, tie)
        |                 AS BIGINT) AS rn2 FROM d),
        |m2 AS (SELECT *, MAX(CASE WHEN rn2 = (n + 1) // 2 THEN dev END)
        |                OVER (PARTITION BY k) AS mad
        |       FROM r2)
        |SELECT k, tie, q, med, dev, mad FROM m2
        |WHERE dev * 10000 > 44478 * mad ORDER BY k, tie""".stripMargin) { (s, dir) =>
      graft.operators.Historian.madOutliers(Tables.events(s, dir),
        col("user_id"), col("value"), col("event_id"))
        .orderBy("k", "tie")
    }

  /** q206: Historian.lttb — Largest-Triangle-Three-Buckets downsampling
    * with the centroid multiplied out so every triangle comparison is
    * an exact BIGINT. The bucket chain is sequential, so the oracle
    * unrolls all 10 rounds (the MMR/bpeReplaySeg convention); ties
    * break to the earliest (ts, tie) candidate via the rank column.
    */
  private def q206 = {
    val B = 10
    val rounds = (0 until B).map { r =>
      val prev = if (r == 0) "s_first" else s"s_${r - 1}"
      s"""s_$r AS (SELECT k, tie, x, q FROM (
        |   SELECT ib.k, ib.tie, ib.x, ib.q,
        |          row_number() OVER (PARTITION BY ib.k ORDER BY
        |            abs((an.cn * s.x - an.sx) * (an.cn * ib.q - an.sy)
        |                - (an.cn * ib.x - an.sx) * (an.cn * s.q - an.sy)) DESC,
        |            ib.rn) AS rnk
        |   FROM ib JOIN $prev s ON s.k = ib.k
        |           JOIN an ON an.k = ib.k AND an.b = $r
        |   WHERE ib.b = $r) WHERE rnk = 1)""".stripMargin
    }.mkString(",\n")
    val unions = (0 until B)
      .map(r => s"UNION ALL SELECT k, ${r + 1}, tie, x, q FROM s_$r")
      .mkString("\n  ")
    QueryDef("q206_lttb",
      s"""WITH o AS (SELECT user_id AS k, epoch_us(ts) AS tus, event_id AS tie,
        |            CAST(round_even(value * 1024, 0) AS BIGINT) AS q
        |     FROM events),
        |r0 AS (SELECT k, tie, q,
        |          CAST(row_number() OVER (PARTITION BY k ORDER BY tus, tie)
        |               AS BIGINT) AS rn,
        |          CAST(COUNT(*) OVER (PARTITION BY k) AS BIGINT) AS n,
        |          (tus - MIN(tus) OVER (PARTITION BY k)) // 1000000 AS x
        |       FROM o),
        |g AS (SELECT * FROM r0 WHERE n >= ${B + 2}),
        |ib AS MATERIALIZED (
        |   SELECT k, tie, q, x, rn, ((rn - 2) * $B) // (n - 2) AS b
        |   FROM g WHERE rn >= 2 AND rn <= n - 1),
        |cent AS (SELECT k, b, CAST(COUNT(*) AS BIGINT) AS cn,
        |                CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(q) AS BIGINT) AS sy
        |         FROM ib GROUP BY 1, 2),
        |lastp AS (SELECT k, tie, x, q FROM g WHERE rn = n),
        |s_first AS (SELECT k, tie, x, q FROM g WHERE rn = 1),
        |an AS MATERIALIZED (
        |   SELECT k, b - 1 AS b, cn, sx, sy FROM cent WHERE b >= 1
        |   UNION ALL SELECT k, ${B - 1} AS b, CAST(1 AS BIGINT), x, q FROM lastp),
        |$rounds
        |SELECT k, sel_idx, tie, x AS x_s, q FROM (
        |  SELECT k, 0 AS sel_idx, tie, x, q FROM s_first
        |  $unions
        |  UNION ALL SELECT k, ${B + 1}, tie, x, q FROM lastp)
        |ORDER BY k, sel_idx""".stripMargin) { (s, dir) =>
      graft.operators.Historian.lttb(Tables.events(s, dir),
        col("user_id"), col("ts"), col("value"), col("event_id"), buckets = B)
        .orderBy("k", "sel_idx")
    }
  }

  /** q193's peel contract: exactly this many rounds at degree floor k —
    * the oracle unrolls the same budget, so partial peels (sf0.001
    * needs more rounds to converge) still agree round-for-round.
    * `def`s: `defs` above initializes first.
    */
  private def KCoreRounds = 6
  private def KCoreK = 14
}
