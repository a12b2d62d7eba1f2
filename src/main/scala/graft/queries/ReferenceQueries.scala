package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{QueryDef, Tables}
import graft.functions.ScalarOps
import graft.operators.{CurrentValues, Gates, VennJoin}

/** Reference-parity queries (SURVEY.md §2.1–§2.6) over the `events`-derived
  * measure stream, each with a DuckDB oracle. Timestamps are rendered as
  * strings (C4 format where the reference stores text), sums/averages use
  * exact decimal arithmetic, and every query carries a total ORDER BY so
  * both engines emit identical bytes.
  */
object ReferenceQueries {

  private val M = Tables.measuresSql
  private val C4 = "%Y-%m-%dT%H:%M:%S.%f"   // DuckDB strftime ≡ Spark yyyy-MM-dd'T'HH:mm:ss.SSSSSS
  private val TS = "%Y-%m-%d %H:%M:%S.%f"

  private val hourUs = 3600L * 1000000L
  private val dayUs  = 86400L * 1000000L

  val defs: Seq[QueryDef] = Seq(

    // F1 + F3 — quality gate and liveness-measure exclusion.
    QueryDef("q01_gates",
      M + s"""SELECT event_id, device, measure_name, raw_value,
        |       strftime(source_ts, '$TS') AS source_ts_s
        |FROM measures
        |WHERE status_ok AND measure_name <> 'myPV_online'
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      Gates.qualityGate(Gates.excludeOnlineMeasure(Tables.measures(s, dir)))
        .select(col("event_id"), col("device"), col("measure_name"), col("raw_value"),
          ScalarOps.tsString(col("source_ts")).as("source_ts_s"))
        .orderBy("event_id")
    },

    // F2 — staleness gate, batch-pure: now := max(source_ts), keep |Δ| ≤ 1 day.
    QueryDef("q02_staleness",
      M + s""", mx AS (SELECT max(source_ts) AS now_ts FROM measures)
        |SELECT event_id, device, measure_name,
        |       strftime(source_ts, '$TS') AS source_ts_s
        |FROM measures, mx
        |WHERE abs(epoch_us(now_ts) - epoch_us(source_ts)) <= $dayUs
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      Gates.stalenessGate(Tables.measures(s, dir), dayUs)
        .select(col("event_id"), col("device"), col("measure_name"),
          ScalarOps.tsString(col("source_ts")).as("source_ts_s"))
        .orderBy("event_id")
    },

    // C1 — slope/intercept scaling with half-to-even rounding.
    QueryDef("q03_scale_slope_intercept",
      M + """SELECT event_id, device, measure_name,
        |       round_even(raw_value * 0.1 + -2.0, 3) AS measure_value
        |FROM measures ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.measures(s, dir)
        .select(col("event_id"), col("device"), col("measure_name"),
          ScalarOps.scaleSlopeIntercept(col("raw_value"), 0.1, -2.0).as("measure_value"))
        .orderBy("event_id")
    },

    // C2 — point-slope range remap [0,200] → [0,100].
    QueryDef("q04_scale_point_slope",
      M + """SELECT event_id, device, measure_name,
        |       round_even(0.5 * (raw_value - 0.0) + 0.0, 3) AS measure_value
        |FROM measures ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.measures(s, dir)
        .select(col("event_id"), col("device"), col("measure_name"),
          ScalarOps.scalePointSlope(col("raw_value"), 0.0, 200.0, 0.0, 100.0).as("measure_value"))
        .orderBy("event_id")
    },

    // C1+C2 — per-POINT scaling dispatched on the template's scale_mode
    // (the reference scales each monitored point by its own config,
    // `Services/OpcSubscribeService.cs:565-576`); unconfigured points
    // fall back to the identity. Streaming twin: IngestPipeline.startScaled.
    QueryDef("q68_scale_by_mode",
      M + """, cfg AS (SELECT * FROM (VALUES
        |  ('click', 'slope_intercept', CAST(0.1 AS DOUBLE), CAST(-2.0 AS DOUBLE),
        |   CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)),
        |  ('view', 'point_slope', CAST(1 AS DOUBLE), CAST(0 AS DOUBLE),
        |   CAST(0 AS DOUBLE), CAST(200 AS DOUBLE), CAST(0 AS DOUBLE), CAST(100 AS DOUBLE)))
        |  AS t(measure_name, scale_mode, slope, "offset", value_min, value_max,
        |       target_min, target_max))
        |SELECT event_id, device, measure_name,
        |       CASE WHEN scale_mode = 'point_slope' AND value_max <> value_min
        |            THEN round_even((target_max - target_min) / (value_max - value_min)
        |                            * (raw_value - value_min) + target_min, 3)
        |            ELSE round_even(raw_value * coalesce(slope, 1.0)
        |                            + coalesce("offset", 0.0), 3) END AS measure_value
        |FROM measures LEFT JOIN cfg USING (measure_name)
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val cfg = Seq(
        ("click", "slope_intercept", 0.1, -2.0, 0.0, 0.0, 0.0, 0.0),
        ("view", "point_slope", 1.0, 0.0, 0.0, 200.0, 0.0, 100.0))
        .toDF("measure_name", "scale_mode", "slope", "offset",
          "value_min", "value_max", "target_min", "target_max")
      Tables.measures(s, dir)
        .join(broadcast(cfg), Seq("measure_name"), "left_outer")
        .select(col("event_id"), col("device"), col("measure_name"),
          ScalarOps.scaleByMode(col("raw_value"), col("scale_mode"),
            col("slope"), col("offset"), col("value_min"), col("value_max"),
            col("target_min"), col("target_max")).as("measure_value"))
        .orderBy("event_id")
    },

    // Rate-of-change per point: delta vs the previous value (lag over the
    // key, event-time ordered) with a spike flag — the alarm shape a
    // consumer of the current-value table runs downstream. One shuffle on
    // the key, same partitioning as every other keyed op here.
    QueryDef("q69_rate_of_change",
      M + """SELECT event_id, device, measure_name,
        |       raw_value - lag(raw_value) OVER
        |         (PARTITION BY device, measure_name ORDER BY source_ts, event_id) AS delta,
        |       CAST(abs(raw_value - lag(raw_value) OVER
        |         (PARTITION BY device, measure_name ORDER BY source_ts, event_id)) > 100
        |         AS INT) AS spike
        |FROM measures
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("device", "measure_name").orderBy(col("source_ts"), col("event_id"))
      Tables.measures(s, dir)
        .select(col("event_id"), col("device"), col("measure_name"),
          (col("raw_value") - lag(col("raw_value"), 1).over(w)).as("delta"))
        .withColumn("spike", (abs(col("delta")) > 100).cast(IntegerType))
        .orderBy("event_id")
    },

    // Time-RANGE sliding window: each event's trailing-1-hour mean per
    // key (RANGE BETWEEN, not row counts — late-dense bursts weight
    // correctly). Decimal sum / count keeps the mean engine-exact.
    QueryDef("q70_sliding_hour_mean",
      M + s"""SELECT event_id, device, measure_name,
        |       CAST(SUM(CAST(raw_value AS DECIMAL(18,3))) OVER
        |              (PARTITION BY device, measure_name ORDER BY epoch_us(source_ts)
        |               RANGE BETWEEN $hourUs PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         / COUNT(*) OVER
        |              (PARTITION BY device, measure_name ORDER BY epoch_us(source_ts)
        |               RANGE BETWEEN $hourUs PRECEDING AND CURRENT ROW) AS hour_mean
        |FROM measures
        |ORDER BY event_id""".stripMargin) { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("device", "measure_name")
        .orderBy(unix_micros(col("source_ts")))
        .rangeBetween(-hourUs, org.apache.spark.sql.expressions.Window.currentRow)
      Tables.measures(s, dir)
        .select(col("event_id"), col("device"), col("measure_name"),
          (sum(col("raw_value").cast(DecimalType(18, 3))).over(w).cast(DoubleType)
            / count(lit(1)).over(w)).as("hour_mean"))
        .orderBy("event_id")
    },

    // A3 — last-value-per-key (the modvalues argmax).
    QueryDef("q05_last_value",
      M + s"""SELECT device, measure_name, raw_value AS tag_value, event_id,
        |       strftime(source_ts, '$TS') AS source_ts_s
        |FROM measures
        |QUALIFY row_number() OVER (PARTITION BY device, measure_name
        |                           ORDER BY source_ts DESC, event_id DESC) = 1
        |ORDER BY device, measure_name""".stripMargin) { (s, dir) =>
      CurrentValues.lastValuePerKey(Tables.measures(s, dir))
        .select(col("device"), col("measure_name"), col("raw_value").as("tag_value"),
          col("event_id"), ScalarOps.tsString(col("source_ts")).as("source_ts_s"))
        .orderBy("device", "measure_name")
    },

    // T2 (batch) — device liveness within 1 h of data-max "now".
    QueryDef("q06_liveness",
      M + s""", mx AS (SELECT max(source_ts) AS now_ts FROM measures),
        |lastgood AS (SELECT device, max(source_ts) AS last_good_ts
        |             FROM measures WHERE status_ok GROUP BY device)
        |SELECT d.device,
        |       CASE WHEN last_good_ts IS NOT NULL
        |                 AND abs(epoch_us(now_ts) - epoch_us(last_good_ts)) <= $hourUs
        |            THEN 1.0 ELSE 0.0 END AS online,
        |       strftime(last_good_ts, '$TS') AS last_good_ts_s
        |FROM (SELECT DISTINCT device FROM measures) d
        |LEFT JOIN lastgood USING (device), mx
        |ORDER BY device""".stripMargin) { (s, dir) =>
      CurrentValues.liveness(Tables.measures(s, dir), hourUs)
        .select(col("device"), col("online"),
          ScalarOps.tsString(col("last_good_ts")).as("last_good_ts_s"))
        .orderBy("device")
    },

    // §7.3 flagship — full modvalues assembly (gates→scale→argmax→liveness).
    QueryDef("q07_current_values",
      M + s""", mx AS (SELECT max(source_ts) AS now_ts FROM measures),
        |gated AS (SELECT * FROM measures
        |          WHERE status_ok AND measure_name <> 'myPV_online'),
        |latest AS (
        |  SELECT device, measure_name,
        |         round_even(raw_value, 3) AS tag_value,
        |         round_even(raw_value * 0.1 + -2.0, 3) AS measure_value,
        |         strftime(source_ts, '$C4') AS last_updated
        |  FROM gated
        |  QUALIFY row_number() OVER (PARTITION BY device, measure_name
        |                             ORDER BY source_ts DESC, event_id DESC) = 1),
        |lastgood AS (SELECT device, max(source_ts) AS lg
        |             FROM measures WHERE status_ok GROUP BY device),
        |live AS (
        |  SELECT d.device,
        |         CASE WHEN lg IS NOT NULL
        |                   AND abs(epoch_us(now_ts) - epoch_us(lg)) <= $hourUs
        |              THEN 1.0 ELSE 0.0 END AS online
        |  FROM (SELECT DISTINCT device FROM measures) d
        |  LEFT JOIN lastgood USING (device), mx),
        |onlinerows AS (
        |  SELECT device, 'myPV_online' AS measure_name, online AS tag_value,
        |         online AS measure_value,
        |         (SELECT strftime(now_ts, '$C4') FROM mx) AS last_updated
        |  FROM live),
        |unioned AS (SELECT * FROM latest UNION ALL SELECT * FROM onlinerows)
        |SELECT device, 'sensor' AS device_type, measure_name AS tag_name,
        |       tag_value, measure_name AS measure_name, measure_value,
        |       'raw' AS source_unit, 'scaled' AS destination_unit,
        |       last_updated, 'instant' AS logging
        |FROM unioned ORDER BY device, measure_name""".stripMargin) { (s, dir) =>
      CurrentValues.currentValues(Tables.measures(s, dir), 0.1, -2.0, hourUs)
        .orderBy("device", "measure_name")
    },

    // K1 — seed-if-missing rows (idempotent by construction).
    QueryDef("q08_seed",
      M + """SELECT device, measure_name, 0.0 AS tag_value, 0.0 AS measure_value,
        |       'instant' AS logging
        |FROM (SELECT DISTINCT device, measure_name FROM measures
        |      UNION ALL
        |      SELECT DISTINCT device, 'myPV_online' AS measure_name FROM measures)
        |ORDER BY device, measure_name""".stripMargin) { (s, dir) =>
      CurrentValues.seedRows(Tables.measures(s, dir))
        .select("device", "measure_name", "tag_value", "measure_value", "logging")
        .orderBy("device", "measure_name")
    },

    // J4 — Venn set reconciliation (full-outer classification in one pass).
    QueryDef("q09_venn",
      M + """, l AS (SELECT DISTINCT device, measure_name FROM measures WHERE event_id % 2 = 0),
        |r AS (SELECT DISTINCT device, measure_name FROM measures WHERE event_id % 2 = 1)
        |SELECT coalesce(l.device, r.device) AS device,
        |       coalesce(l.measure_name, r.measure_name) AS measure_name,
        |       CASE WHEN l.device IS NOT NULL AND r.device IS NOT NULL THEN 'both'
        |            WHEN l.device IS NOT NULL THEN 'left_only'
        |            ELSE 'right_only' END AS status
        |FROM l FULL OUTER JOIN r
        |  ON l.device = r.device AND l.measure_name = r.measure_name
        |ORDER BY device, measure_name""".stripMargin) { (s, dir) =>
      val m = Tables.measures(s, dir)
      val l = m.filter(col("event_id") % 2 === 0).select("device", "measure_name").distinct()
      val r = m.filter(col("event_id") % 2 === 1).select("device", "measure_name").distinct()
      VennJoin.vennJoin(l, r, Seq("device", "measure_name"))
        .select("device", "measure_name", "status")
        .orderBy("device", "measure_name")
    },

    // K4 — heartbeat: bump last_updated to now for online devices' rows.
    QueryDef("q10_heartbeat",
      M + s""", mx AS (SELECT max(source_ts) AS now_ts FROM measures),
        |latest AS (
        |  SELECT device, measure_name, strftime(source_ts, '$C4') AS last_updated
        |  FROM measures
        |  QUALIFY row_number() OVER (PARTITION BY device, measure_name
        |                             ORDER BY source_ts DESC, event_id DESC) = 1),
        |lastgood AS (SELECT device, max(source_ts) AS lg
        |             FROM measures WHERE status_ok GROUP BY device),
        |online AS (
        |  SELECT d.device FROM (SELECT DISTINCT device FROM measures) d
        |  JOIN lastgood USING (device), mx
        |  WHERE abs(epoch_us(now_ts) - epoch_us(lg)) <= $hourUs)
        |SELECT l.device, l.measure_name,
        |       CASE WHEN o.device IS NOT NULL
        |            THEN (SELECT strftime(now_ts, '$C4') FROM mx)
        |            ELSE l.last_updated END AS last_updated
        |FROM latest l LEFT JOIN online o ON l.device = o.device
        |ORDER BY l.device, l.measure_name""".stripMargin) { (s, dir) =>
      val m = Tables.measures(s, dir)
      val latest = CurrentValues.lastValuePerKey(m)
        .select(col("device"), col("measure_name"),
          ScalarOps.lastUpdatedString(col("source_ts")).as("last_updated"))
      val online = CurrentValues.liveness(m, hourUs).filter(col("online") === 1.0)
      val now = m.agg(ScalarOps.lastUpdatedString(max(col("source_ts"))).as("now_s"))
      CurrentValues.heartbeat(latest, online, now)
        .select("device", "measure_name", "last_updated")
        .orderBy("device", "measure_name")
    },

    // K3 — startup offline reset over the seeded table.
    QueryDef("q11_offline_reset",
      M + s""", mx AS (SELECT max(source_ts) AS now_ts FROM measures)
        |SELECT device, 'myPV_online' AS measure_name, 0.0 AS tag_value,
        |       0.0 AS measure_value,
        |       (SELECT strftime(now_ts, '$C4') FROM mx) AS last_updated
        |FROM (SELECT DISTINCT device FROM measures)
        |ORDER BY device""".stripMargin) { (s, dir) =>
      val m = Tables.measures(s, dir)
      val now = m.agg(ScalarOps.lastUpdatedString(max(col("source_ts"))).as("now_s"))
      val onlineRows = m.select("device").distinct()
        .withColumn("measure_name", lit(CurrentValues.OnlineMeasure))
        .withColumn("tag_value", lit(1.0))
        .withColumn("measure_value", lit(1.0))
        .withColumn("last_updated", lit(""))
      CurrentValues.offlineReset(onlineRows, now)
        .select("device", "measure_name", "tag_value", "measure_value", "last_updated")
        .orderBy("device")
    },

    // A1/A2 + F5 — DISTINCT device projection under a conjunctive predicate.
    QueryDef("q12_distinct_devices",
      M + """SELECT DISTINCT device FROM measures
        |WHERE measure_name = 'purchase' AND status_ok
        |ORDER BY device""".stripMargin) { (s, dir) =>
      Tables.measures(s, dir)
        .filter(col("measure_name") === "purchase" && col("status_ok"))
        .select("device").distinct()
        .orderBy("device")
    },

    // P1/C6/C7/C8 — node-id construction + string normalization.
    QueryDef("q13_nodeid",
      M + """SELECT event_id,
        |       'ns=2;s=Devices/' || device || '/' || 'PRE_' || measure_name AS node_id,
        |       lower(measure_name) AS measure_lc,
        |       trim(measure_name) AS measure_trim,
        |       CAST(length(measure_name) AS BIGINT) AS name_len
        |FROM measures ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.measures(s, dir)
        .select(col("event_id"),
          concat(lit("ns=2;s=Devices/"), col("device"), lit("/"), lit("PRE_"),
            col("measure_name")).as("node_id"),
          lower(col("measure_name")).as("measure_lc"),
          trim(col("measure_name")).as("measure_trim"),
          length(col("measure_name")).cast(LongType).as("name_len"))
        .orderBy("event_id")
    },

    // C10 — JSON parse (props.k) + JSON construction.
    QueryDef("q14_json",
      M + """SELECT event_id, k,
        |       '{"device":"' || device || '","k":' || CAST(k AS VARCHAR) || '}' AS payload
        |FROM measures ORDER BY event_id""".stripMargin) { (s, dir) =>
      Tables.measures(s, dir)
        .select(col("event_id"), col("k"),
          concat(lit("{\"device\":\""), col("device"), lit("\",\"k\":"),
            col("k").cast(StringType), lit("}")).as("payload"))
        .orderBy("event_id")
    },

    // C4/C5 — timestamp formatting + µs age relative to data-max now.
    QueryDef("q15_ts_age",
      M + s""", mx AS (SELECT max(source_ts) AS now_ts FROM measures)
        |SELECT event_id, strftime(source_ts, '$C4') AS last_updated,
        |       abs(epoch_us(now_ts) - epoch_us(source_ts)) AS age_us
        |FROM measures, mx ORDER BY event_id""".stripMargin) { (s, dir) =>
      val m = Tables.measures(s, dir)
      val now = m.agg(max(col("source_ts")).as("now_ts"))
      m.crossJoin(broadcast(now))
        .select(col("event_id"),
          ScalarOps.lastUpdatedString(col("source_ts")).as("last_updated"),
          ScalarOps.absDeltaMicros(col("now_ts"), col("source_ts")).as("age_us"))
        .orderBy("event_id")
    },

    // Point-in-time snapshot (CurrentValues.asOfSnapshot): the
    // current-values table AS OF data-max "now" minus 12 h — the
    // incident-review query a current-values store alone cannot answer,
    // and the reason the measure history is day-partitioned (the cutoff
    // prunes whole partitions at scale). q05's argmax over the bounded
    // history.
    QueryDef("q215_as_of_snapshot",
      M + s""", mx AS (SELECT max(source_ts) AS now_ts FROM measures)
        |SELECT device, measure_name, raw_value AS tag_value, event_id,
        |       strftime(source_ts, '$TS') AS source_ts_s
        |FROM measures, mx
        |WHERE epoch_us(source_ts) <= epoch_us(now_ts) - 43200000000
        |QUALIFY row_number() OVER (PARTITION BY device, measure_name
        |                           ORDER BY source_ts DESC, event_id DESC) = 1
        |ORDER BY device, measure_name""".stripMargin) { (s, dir) =>
      CurrentValues.asOfSnapshot(Tables.measures(s, dir), 43200000000L)
        .select(col("device"), col("measure_name"), col("raw_value").as("tag_value"),
          col("event_id"), ScalarOps.tsString(col("source_ts")).as("source_ts_s"))
        .orderBy("device", "measure_name")
    }
  )
}
