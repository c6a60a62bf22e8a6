package graft
package registry

import graft.operators._
import org.apache.spark.sql.functions._

/** Time-series operators: smoothing and forecasting, decomposition and
  * seasonality, trend tests, change points and periodicity.
  */
object SeriesQueries {
  import Shared._

  /** The classical-decomposition CTE chain (hourly buckets → 2×12 MA
    * trend → phase means → centered seasonal, mirrors
    * [[Seasonal.decomposeBuckets]] at period 24) — shared by the
    * q_decompose and q_season_strength oracles. Exposes CTEs `de`
    * (event_type, bk, phase, v, trend, detr) and `se` (event_type,
    * phase, seasonal).
    */
  private val decomposeCtesSql: String =
    """b AS (SELECT event_type, date_trunc('hour', ts) AS bk, CAST(count(*) AS DOUBLE) AS v
      |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT event_type, bk, v,
      |        (epoch_us(bk) // 3600000000) % 24 AS phase,
      |        lag(v, 12) OVER w AS l, lead(v, 12) OVER w AS r,
      |        sum(v) OVER (PARTITION BY event_type ORDER BY bk
      |          ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING) AS si,
      |        count(v) OVER (PARTITION BY event_type ORDER BY bk
      |          ROWS BETWEEN 11 PRECEDING AND 11 FOLLOWING) AS ci
      |      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bk)),
      |dd AS (SELECT event_type, bk, phase, v,
      |        CASE WHEN l IS NOT NULL AND r IS NOT NULL AND ci = 23
      |          THEN ((l + r) * 0.5 + si) / 24.0 END AS trend
      |      FROM t),
      |de AS (SELECT *, v - trend AS detr FROM dd),
      |pm AS (SELECT event_type, phase,
      |        CASE WHEN count(detr) > 0 THEN
      |          CAST(sum(CAST(floor(detr * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE)
      |            / CAST(count(detr) AS DOUBLE) END AS sp
      |      FROM de GROUP BY 1, 2),
      |ctr AS (SELECT event_type,
      |        CASE WHEN count(sp) > 0 THEN
      |          CAST(sum(CAST(floor(sp * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE)
      |            / CAST(count(sp) AS DOUBLE) END AS c
      |      FROM pm GROUP BY 1),
      |se AS (SELECT pm.event_type, phase, sp - c AS seasonal FROM pm JOIN ctr USING (event_type))""".stripMargin

  val all: Seq[QueryDef] = Seq(
    // Holt double exponential smoothing (level + trend; contrast q_ewma)
    QueryDef("q_holt",
      (s, dir) =>
        Ewma.holtLast(ev(s, dir), "user_id", "ts", "value", "event_id", 0.5, 0.3)
          .select(col("key").as("user_id"), col("n"),
            graft.functions.Portable.r6(col("level")).as("level"),
            graft.functions.Portable.r6(col("trend")).as("trend"),
            graft.functions.Portable.r6(col("forecast")).as("forecast")),
      Some(s"""WITH s AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs
           |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
           |  GROUP BY 1),
           |f AS (SELECT user_id, CAST(len(vs) AS BIGINT) AS n,
           |  list_reduce(
           |    list_prepend([vs[1], CAST(0 AS DOUBLE)], list_transform(vs[2:], v -> [CAST(v AS DOUBLE), CAST(0 AS DOUBLE)])),
           |    (acc, x) -> [
           |      CAST(0.5 AS DOUBLE)*x[1] + (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE))*(acc[1]+acc[2]),
           |      CAST(0.3 AS DOUBLE)*((CAST(0.5 AS DOUBLE)*x[1] + (CAST(1 AS DOUBLE) - CAST(0.5 AS DOUBLE))*(acc[1]+acc[2])) - acc[1])
           |        + (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE))*acc[2]]) AS st
           |  FROM s)
           |SELECT user_id, n,
           |  ${graft.functions.Portable.r6Sql("st[1]")} AS level,
           |  ${graft.functions.Portable.r6Sql("st[2]")} AS trend,
           |  ${graft.functions.Portable.r6Sql("st[1] + st[2]")} AS forecast
           |FROM f""".stripMargin)),

    // CUSUM changepoint detection per user (one shuffle + sorted fold)
    QueryDef("q_cusum",
      (s, dir) =>
        Changepoint.cusum(ev(s, dir), "user_id", "ts", "value", "event_id")
          .select(col("key").as("user_id"), col("n"),
            graft.functions.Portable.r6(col("mean")).as("mean"),
            graft.functions.Portable.r6(col("cusum_max")).as("cusum_max"),
            col("cusum_at")),
      Some(s"""WITH s AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs,
           |    count(*) AS n,
           |    CAST(coalesce(sum(CAST(value AS DECIMAL(38,6))), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mn
           |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
           |  GROUP BY 1),
           |f AS (SELECT user_id, CAST(n AS BIGINT) AS n, mn,
           |  list_reduce(
           |    list_prepend([CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
           |      list_transform(vs, v -> [CAST(v AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
           |    (acc, x) -> [
           |      greatest(CAST(0 AS DOUBLE), acc[1] + (x[1] - mn)),
           |      CASE WHEN greatest(CAST(0 AS DOUBLE), acc[1] + (x[1] - mn)) > acc[2]
           |           THEN greatest(CAST(0 AS DOUBLE), acc[1] + (x[1] - mn)) ELSE acc[2] END,
           |      CASE WHEN greatest(CAST(0 AS DOUBLE), acc[1] + (x[1] - mn)) > acc[2]
           |           THEN acc[4] + CAST(1 AS DOUBLE) ELSE acc[3] END,
           |      acc[4] + CAST(1 AS DOUBLE)]) AS st
           |  FROM s)
           |SELECT user_id, n, ${graft.functions.Portable.r6Sql("mn")} AS mean,
           |  ${graft.functions.Portable.r6Sql("st[2]")} AS cusum_max,
           |  CAST(st[3] AS BIGINT) AS cusum_at
           |FROM f""".stripMargin)),

    // per-user EWMA of value (alpha 0.3): one key shuffle + HOF fold
    QueryDef("q_ewma",
      (s, dir) =>
        Ewma.ewmaLast(ev(s, dir), "user_id", "ts", "value", "event_id", 0.3)
          .select(col("key").as("user_id"), col("n"),
            graft.functions.Portable.r6(col("ewma")).as("ewma")),
      Some("""WITH s AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs
          |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
          |  GROUP BY 1)
          |SELECT user_id, CAST(len(vs) AS BIGINT) AS n,
          |  floor(list_reduce(vs, (acc, x) -> CAST(0.3 AS DOUBLE) * x +
          |    (CAST(1 AS DOUBLE) - CAST(0.3 AS DOUBLE)) * acc) * 1000000 + 0.5) / 1000000 AS ewma
          |FROM s""".stripMargin)),

    // hour-of-day seasonality per event type: peak hour/share + flatness
    QueryDef("q_seasonality",
      (s, dir) =>
        Seasonal.hourOfDayProfile(ev(s, dir), "event_type", "ts")
          .select(col("key").as("event_type"), col("n"), col("peak_hour"),
            graft.functions.Portable.r6(col("peak_share")).as("peak_share"),
            graft.functions.Portable.r6(col("entropy_norm")).as("entropy_norm")),
      Some(s"""WITH h AS (SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, CAST(count(*) AS BIGINT) AS cnt
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |w AS (SELECT event_type, hr, cnt,
           |        CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n,
           |        row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, hr) AS rk
           |      FROM h),
           |t AS (SELECT event_type, hr, cnt, n, rk, CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE) AS sh FROM w),
           |m AS (SELECT event_type, max(n) AS n,
           |        max(CASE WHEN rk = 1 THEN hr END) AS peak_hour,
           |        max(CASE WHEN rk = 1 THEN sh END) AS ps,
           |        CAST(sum(CAST(floor(-sh * ln(sh) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS hsum
           |      FROM t GROUP BY 1)
           |SELECT event_type, n, peak_hour,
           |  floor(ps * 1000000 + 0.5) / 1000000 AS peak_share,
           |  floor(hsum / ${math.log(24.0)} * 1000000 + 0.5) / 1000000 AS entropy_norm
           |FROM m""".stripMargin)),

    // Holt-Winters additive seasonal smoothing (period-4 slots;
    // completes the ewma -> holt -> holt-winters family)
    QueryDef("q_hw",
      (s, dir) =>
        Ewma.holtWintersLast(ev(s, dir), "user_id", "ts", "value", "event_id",
            alpha = 0.5, beta = 0.3, gamma = 0.4, period = 4)
          .select(col("key").as("user_id"), col("n"),
            graft.functions.Portable.r6(col("level")).as("level"),
            graft.functions.Portable.r6(col("trend")).as("trend"),
            graft.functions.Portable.r6(col("forecast")).as("forecast")),
      Some {
        // the same fold as Ewma.holtWintersLast, DuckDB list_reduce form;
        // state = [i, level, trend, s0..s3], every constant cast DOUBLE
        val one = "CAST(1 AS DOUBLE)"
        val (a, bta, g) = ("CAST(0.5 AS DOUBLE)", "CAST(0.3 AS DOUBLE)", "CAST(0.4 AS DOUBLE)")
        val idx = "CAST(acc[1] AS BIGINT) % 4"
        val sCur = s"acc[$idx + 4]"
        val nl = s"($a * (x[1] - $sCur) + ($one - $a) * (acc[2] + acc[3]))"
        val nt = s"($bta * ($nl - acc[2]) + ($one - $bta) * acc[3])"
        val sSlots = (0 until 4).map(j =>
          s"CASE WHEN $idx = $j THEN $g * (x[1] - $nl) + ($one - $g) * acc[${4 + j}] ELSE acc[${4 + j}] END")
          .mkString(", ")
        s"""WITH s AS (SELECT user_id, list(value ORDER BY ts, event_id) AS vs
           |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)
           |  GROUP BY 1),
           |f AS (SELECT user_id, CAST(len(vs) AS BIGINT) AS n,
           |  list_reduce(
           |    list_prepend([$one, CAST(vs[1] AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
           |                  CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)],
           |      list_transform(vs[2:], v -> [CAST(v AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE),
           |                  CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE), CAST(0 AS DOUBLE)])),
           |    (acc, x) -> [acc[1] + $one, $nl, $nt, $sSlots]) AS st
           |  FROM s)
           |SELECT user_id, n,
           |  ${graft.functions.Portable.r6Sql("st[2]")} AS level,
           |  ${graft.functions.Portable.r6Sql("st[3]")} AS trend,
           |  ${graft.functions.Portable.r6Sql("st[2] + st[3] + st[CAST(st[1] AS BIGINT) % 4 + 4]")} AS forecast
           |FROM f""".stripMargin
      }),

    // Fano-factor burstiness of hourly volumes per event type
    // (Poisson = 1; batch/retry storms >> 1; clocked < 1)
    QueryDef("q_fano",
      (s, dir) =>
        Seasonal.burstiness(ev(s, dir), "event_type", "ts")
          .select(col("key").as("event_type"), col("n_events"), col("n_buckets"),
            graft.functions.Portable.r6(col("mean_per_bucket")).as("mean_per_bucket"),
            graft.functions.Portable.r6(col("fano")).as("fano")),
      Some("""WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bk, CAST(count(*) AS BIGINT) AS c
          |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
          |g AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n_events,
          |        CAST(count(*) AS BIGINT) AS n_buckets, CAST(sum(c * c) AS BIGINT) AS s2
          |      FROM b GROUP BY 1),
          |m AS (SELECT event_type, n_events, n_buckets, s2,
          |        CAST(n_events AS DOUBLE) / CAST(n_buckets AS DOUBLE) AS mu FROM g)
          |SELECT event_type, n_events, n_buckets,
          |  floor(mu * 1000000 + 0.5) / 1000000 AS mean_per_bucket,
          |  floor((CAST(s2 AS DOUBLE) / CAST(n_buckets AS DOUBLE) - mu * mu) / mu * 1000000 + 0.5) / 1000000 AS fano
          |FROM m""".stripMargin)),

    // seasonal-naive skill (MASE-style) of hourly volumes per event
    // type at period 24: which streams have a real daily cycle
    QueryDef("q_mase",
      (s, dir) =>
        Seasonal.seasonalNaiveSkill(ev(s, dir), "event_type", "ts", period = 24)
          .select(col("key").as("event_type"), col("n_buckets"),
            graft.functions.Portable.r6(col("mae_naive")).as("mae_naive"),
            graft.functions.Portable.r6(col("mae_seasonal")).as("mae_seasonal"),
            graft.functions.Portable.r6(col("skill")).as("skill")),
      Some("""WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bk, CAST(count(*) AS DOUBLE) AS v
          |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
          |l AS (SELECT event_type, v,
          |        lag(v, 1) OVER (PARTITION BY event_type ORDER BY bk) AS l1,
          |        lag(v, 24) OVER (PARTITION BY event_type ORDER BY bk) AS lp
          |      FROM b),
          |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
          |        count(l1) AS c1, count(lp) AS cp,
          |        CAST(coalesce(sum(CAST(floor(abs(v - l1) * 1000000 + 0.5) / 1000000
          |          AS DECIMAL(38,6))), 0) AS DOUBLE) AS s1,
          |        CAST(coalesce(sum(CAST(floor(abs(v - lp) * 1000000 + 0.5) / 1000000
          |          AS DECIMAL(38,6))), 0) AS DOUBLE) AS sp
          |      FROM l GROUP BY 1),
          |e AS (SELECT event_type, n_buckets,
          |        CASE WHEN c1 > 0 THEN s1 / CAST(c1 AS DOUBLE) END AS m1,
          |        CASE WHEN cp > 0 THEN sp / CAST(cp AS DOUBLE) END AS mp
          |      FROM g)
          |SELECT event_type, n_buckets,
          |  floor(m1 * 1000000 + 0.5) / 1000000 AS mae_naive,
          |  floor(mp * 1000000 + 0.5) / 1000000 AS mae_seasonal,
          |  CASE WHEN m1 > 0 THEN floor(mp / m1 * 1000000 + 0.5) / 1000000 END AS skill
          |FROM e""".stripMargin)),

    // Theil-Sen robust slope of value-vs-time (per day) per user series
    QueryDef("q_theil_sen",
      (s, dir) =>
        graft.operators.Trend.theilSen(
            ev(s, dir).withColumn("t_days",
              unix_micros(col("ts")).cast("double") / lit(86400000000.0)),
            Seq("user_id"), "event_id", "t_days", "value", sampleN = 150)
          .select(col("user_id"), col("n"), col("n_slopes"),
            graft.functions.Portable.r6(col("slope")).as("slope")),
      Some(s"""WITH v AS (SELECT user_id, event_id,
           |    CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0 AS x, CAST(value AS DOUBLE) AS y
           |  FROM events WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
           |    AND ts IS NOT NULL AND event_id IS NOT NULL),
           |h AS (SELECT user_id, event_id, x, y,
           |    row_number() OVER (PARTITION BY user_id
           |      ORDER BY ${h32("concat('theil','|',CAST(user_id AS VARCHAR),'|',CAST(event_id AS VARCHAR))")}, event_id) AS rn
           |  FROM v),
           |sm AS (SELECT user_id, event_id, x, y FROM h WHERE rn <= 150),
           |sl AS (SELECT l.user_id, (r.y - l.y) / (r.x - l.x) AS s
           |      FROM sm l JOIN sm r ON l.user_id = r.user_id
           |        AND l.event_id < r.event_id AND l.x <> r.x),
           |rk AS (SELECT user_id, s, row_number() OVER (PARTITION BY user_id ORDER BY s) AS rk,
           |        count(*) OVER (PARTITION BY user_id) AS m FROM sl),
           |mid AS (SELECT user_id, CAST(max(m) AS BIGINT) AS n_slopes, sum(s) / count(*) AS slope
           |      FROM rk WHERE rk = (m + 1) // 2 OR rk = (m + 2) // 2 GROUP BY 1),
           |sz AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM sm GROUP BY 1)
           |SELECT sz.user_id, sz.n, CAST(coalesce(mid.n_slopes, 0) AS BIGINT) AS n_slopes,
           |  floor(mid.slope * 1000000 + 0.5) / 1000000 AS slope
           |FROM sz LEFT JOIN mid USING (user_id)""".stripMargin)),

    // Mann-Kendall "is the drift real" companion on the same series
    QueryDef("q_mann_kendall",
      (s, dir) =>
        graft.operators.Trend.mannKendall(ev(s, dir), Seq("user_id"), "ts", "event_id",
            "value", sampleN = 150)
          .select(col("user_id"), col("n"), col("s"),
            graft.functions.Portable.r6(col("var_s")).as("var_s"),
            graft.functions.Portable.r6(col("z")).as("z")),
      Some(s"""WITH v AS (SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS y
           |  FROM events WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
           |    AND ts IS NOT NULL AND event_id IS NOT NULL),
           |h AS (SELECT user_id, event_id, ts, y,
           |    row_number() OVER (PARTITION BY user_id
           |      ORDER BY ${h32("concat('mk','|',CAST(user_id AS VARCHAR),'|',CAST(event_id AS VARCHAR))")}, event_id) AS rn
           |  FROM v),
           |sm AS (SELECT user_id, event_id, ts, y FROM h WHERE rn <= 150),
           |p AS (SELECT l.user_id,
           |        CASE WHEN r.y > l.y THEN 1 WHEN r.y < l.y THEN -1 ELSE 0 END AS sg
           |      FROM sm l JOIN sm r ON l.user_id = r.user_id
           |        AND (l.ts < r.ts OR (l.ts = r.ts AND l.event_id < r.event_id))),
           |sagg AS (SELECT user_id, CAST(sum(sg) AS BIGINT) AS s FROM p GROUP BY 1),
           |t AS (SELECT user_id, y, CAST(count(*) AS BIGINT) AS c FROM sm GROUP BY 1, 2),
           |ties AS (SELECT user_id, CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tsum,
           |        CAST(sum(c) AS BIGINT) AS n FROM t GROUP BY 1),
           |f AS (SELECT ties.user_id, n, CAST(coalesce(s, 0) AS BIGINT) AS s,
           |    CAST(n * (n - 1) * (2 * n + 5) - tsum AS DOUBLE) / 18.0 AS var_s
           |  FROM ties LEFT JOIN sagg USING (user_id))
           |SELECT user_id, n, s, floor(var_s * 1000000 + 0.5) / 1000000 AS var_s,
           |  CASE WHEN var_s > 0.0 THEN
           |    floor((CAST(s AS DOUBLE) - CASE WHEN s > 0 THEN 1.0 WHEN s < 0 THEN -1.0 ELSE 0.0 END)
           |      / sqrt(var_s) * 1000000 + 0.5) / 1000000 END AS z
           |FROM f""".stripMargin)),

    // classical additive decomposition of hourly volumes per event type
    QueryDef("q_decompose",
      (s, dir) =>
        Seasonal.decompose(ev(s, dir), "event_type", "ts", period = 24)
          .select(col("key").as("event_type"), unix_micros(col("bucket")).as("bucket_us"),
            col("phase"), col("v"),
            graft.functions.Portable.r6(col("trend")).as("trend"),
            graft.functions.Portable.r6(col("seasonal")).as("seasonal"),
            graft.functions.Portable.r6(col("residual")).as("residual")),
      Some(s"""WITH $decomposeCtesSql
           |SELECT de.event_type, epoch_us(bk) AS bucket_us, CAST(de.phase AS BIGINT) AS phase, v,
           |  floor(trend * 1000000 + 0.5) / 1000000 AS trend,
           |  floor(seasonal * 1000000 + 0.5) / 1000000 AS seasonal,
           |  floor((detr - seasonal) * 1000000 + 0.5) / 1000000 AS residual
           |FROM de LEFT JOIN se ON de.event_type = se.event_type AND de.phase = se.phase""".stripMargin)),

    // DFT periodogram over hourly event counts: which periods (2..26h)
    // each stream actually carries
    QueryDef("q_periodogram",
      (s, dir) =>
        graft.operators.Seasonal.periodogram(ev(s, dir), "event_type", "ts",
            minPeriod = 2, maxPeriod = 26)
          .select(col("key").as("event_type"), col("period").cast("long").as("period"),
            col("n_buckets"), col("power"), col("rk").cast("long").as("rk")),
      Some("""WITH b AS (SELECT event_type AS key, date_trunc('hour', ts) AS bk,
          |    CAST(count(*) AS DOUBLE) AS v
          |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
          |w AS (SELECT key, v,
          |    (epoch_us(bk) - min(epoch_us(bk)) OVER (PARTITION BY key)) // 3600000000 AS t,
          |    sum(v) OVER (PARTITION BY key) / count(*) OVER (PARTITION BY key) AS mean
          |  FROM b),
          |tm AS (SELECT key, t, v - mean AS dv, p.period
          |  FROM w, (SELECT unnest(range(2, 27)) AS period) p),
          |a AS (SELECT key, period, CAST(count(*) AS BIGINT) AS n_buckets,
          |    CAST(sum(CAST(floor(dv * cos(2 * pi() * CAST(t % period AS DOUBLE)
          |      / CAST(period AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS sc,
          |    CAST(sum(CAST(floor(dv * sin(2 * pi() * CAST(t % period AS DOUBLE)
          |      / CAST(period AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS ss
          |  FROM tm GROUP BY 1, 2),
          |pw AS (SELECT key, period, n_buckets,
          |    floor((sc * sc + ss * ss) / CAST(n_buckets AS DOUBLE) * 1000000 + 0.5) / 1000000 AS power
          |  FROM a)
          |SELECT key AS event_type, CAST(period AS BIGINT) AS period, n_buckets, power,
          |  CAST(row_number() OVER (PARTITION BY key ORDER BY power DESC, period) AS BIGINT) AS rk
          |FROM pw""".stripMargin)),

    // dominant period + spectral concentration per event stream
    QueryDef("q_dominant_period",
      (s, dir) =>
        graft.operators.Seasonal.dominantPeriod(ev(s, dir), "event_type", "ts",
            minPeriod = 2, maxPeriod = 26)
          .select(col("key").as("event_type"), col("n_buckets"),
            col("dominant_period").cast("long").as("dominant_period"),
            col("power_share"), col("spectral_entropy")),
      Some("""WITH b AS (SELECT event_type AS key, date_trunc('hour', ts) AS bk,
          |    CAST(count(*) AS DOUBLE) AS v
          |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
          |w AS (SELECT key, v,
          |    (epoch_us(bk) - min(epoch_us(bk)) OVER (PARTITION BY key)) // 3600000000 AS t,
          |    sum(v) OVER (PARTITION BY key) / count(*) OVER (PARTITION BY key) AS mean
          |  FROM b),
          |tm AS (SELECT key, t, v - mean AS dv, p.period
          |  FROM w, (SELECT unnest(range(2, 27)) AS period) p),
          |a AS (SELECT key, period, CAST(count(*) AS BIGINT) AS n_buckets,
          |    CAST(sum(CAST(floor(dv * cos(2 * pi() * CAST(t % period AS DOUBLE)
          |      / CAST(period AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS sc,
          |    CAST(sum(CAST(floor(dv * sin(2 * pi() * CAST(t % period AS DOUBLE)
          |      / CAST(period AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS ss
          |  FROM tm GROUP BY 1, 2),
          |pw AS (SELECT key, period, n_buckets,
          |    floor((sc * sc + ss * ss) / CAST(n_buckets AS DOUBLE) * 1000000 + 0.5) / 1000000 AS power
          |  FROM a),
          |rk AS (SELECT *, row_number() OVER (PARTITION BY key ORDER BY power DESC, period) AS rn
          |  FROM pw),
          |gg AS (SELECT key, max(n_buckets) AS n_buckets,
          |    CAST(max(CASE WHEN rn = 1 THEN period END) AS BIGINT) AS dominant_period,
          |    max(CASE WHEN rn = 1 THEN power END) AS pmax,
          |    CAST(sum(CAST(power AS DECIMAL(38,6))) AS DOUBLE) AS tot
          |  FROM rk GROUP BY 1),
          |e AS (SELECT rk.key,
          |    CAST(sum(CAST(floor((-(power / tot)) * ln(power / tot) * 1000000 + 0.5) / 1000000
          |      AS DECIMAL(38,6))) AS DOUBLE) AS h
          |  FROM rk JOIN gg ON gg.key = rk.key WHERE tot > 0 AND power > 0 GROUP BY 1)
          |SELECT gg.key AS event_type, n_buckets, dominant_period,
          |  floor(CASE WHEN tot > 0 THEN pmax / tot END * 1000000 + 0.5) / 1000000 AS power_share,
          |  floor(coalesce(h, 0) / ln(25.0) * 1000000 + 0.5) / 1000000 AS spectral_entropy
          |FROM gg LEFT JOIN e ON e.key = gg.key""".stripMargin)),

    // composed seasonality stack: measure each event stream's dominant
    // cycle among calendar-plausible candidates (6/8/12/24h), then
    // decompose it AT that period — q_dominant_period and q_decompose
    // proven to CHAIN (one fact pass, one lazy plan), not just run alone
    QueryDef("q_season_pipeline",
      (s, dir) =>
        graft.operators.Seasonal.decomposeAtDominant(ev(s, dir), "event_type", "ts",
            periods = Seq(6, 8, 12, 24))
          .select(col("key").as("event_type"), unix_micros(col("bucket")).as("bucket_us"),
            col("phase").cast("long").as("phase"), col("period"), col("v"),
            graft.functions.Portable.r6(col("trend")).as("trend"),
            graft.functions.Portable.r6(col("seasonal")).as("seasonal"),
            graft.functions.Portable.r6(col("residual")).as("residual")),
      Some {
        val periods = Seq(6, 8, 12, 24)
        def branch(p: Int): String = {
          val h = p / 2
          s"""t_$p AS (SELECT b.key AS event_type, bk, v,
             |    (epoch_us(bk) // 3600000000) % $p AS phase,
             |    lag(v, $h) OVER wn AS l, lead(v, $h) OVER wn AS r,
             |    sum(v) OVER (PARTITION BY b.key ORDER BY bk
             |      ROWS BETWEEN ${h - 1} PRECEDING AND ${h - 1} FOLLOWING) AS si,
             |    count(v) OVER (PARTITION BY b.key ORDER BY bk
             |      ROWS BETWEEN ${h - 1} PRECEDING AND ${h - 1} FOLLOWING) AS ci
             |  FROM b JOIN win ON b.key = win.key AND win.period = $p
             |  WINDOW wn AS (PARTITION BY b.key ORDER BY bk)),
             |dd_$p AS (SELECT event_type, bk, phase, v,
             |    CASE WHEN l IS NOT NULL AND r IS NOT NULL AND ci = ${p - 1}
             |      THEN ((l + r) * 0.5 + si) / $p.0 END AS trend FROM t_$p),
             |de_$p AS (SELECT *, v - trend AS detr FROM dd_$p),
             |pm_$p AS (SELECT event_type, phase,
             |    CASE WHEN count(detr) > 0 THEN
             |      CAST(sum(CAST(floor(detr * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE)
             |        / CAST(count(detr) AS DOUBLE) END AS sp FROM de_$p GROUP BY 1, 2),
             |ctr_$p AS (SELECT event_type,
             |    CASE WHEN count(sp) > 0 THEN
             |      CAST(sum(CAST(floor(sp * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE)
             |        / CAST(count(sp) AS DOUBLE) END AS c FROM pm_$p GROUP BY 1),
             |se_$p AS (SELECT pm.event_type, phase, sp - c AS seasonal
             |  FROM pm_$p pm JOIN ctr_$p ctr USING (event_type)),
             |out_$p AS (SELECT de.event_type, epoch_us(bk) AS bucket_us,
             |    CAST(de.phase AS BIGINT) AS phase, CAST($p AS BIGINT) AS period, v,
             |    floor(trend * 1000000 + 0.5) / 1000000 AS trend,
             |    floor(seasonal * 1000000 + 0.5) / 1000000 AS seasonal,
             |    floor((detr - seasonal) * 1000000 + 0.5) / 1000000 AS residual
             |  FROM de_$p de LEFT JOIN se_$p se
             |    ON de.event_type = se.event_type AND de.phase = se.phase)""".stripMargin
        }
        s"""WITH b AS (SELECT event_type AS key, date_trunc('hour', ts) AS bk,
           |    CAST(count(*) AS DOUBLE) AS v
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
           |w AS (SELECT key, v,
           |    (epoch_us(bk) - min(epoch_us(bk)) OVER (PARTITION BY key)) // 3600000000 AS t,
           |    sum(v) OVER (PARTITION BY key) / count(*) OVER (PARTITION BY key) AS mean
           |  FROM b),
           |tm AS (SELECT key, t, v - mean AS dv, p.period
           |  FROM w, (SELECT unnest(${periods.mkString("[", ", ", "]")}) AS period) p),
           |a AS (SELECT key, period, CAST(count(*) AS BIGINT) AS n_buckets,
           |    CAST(sum(CAST(floor(dv * cos(2 * pi() * CAST(t % period AS DOUBLE)
           |      / CAST(period AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS sc,
           |    CAST(sum(CAST(floor(dv * sin(2 * pi() * CAST(t % period AS DOUBLE)
           |      / CAST(period AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS ss
           |  FROM tm GROUP BY 1, 2),
           |pw AS (SELECT key, period, n_buckets,
           |    floor((sc * sc + ss * ss) / CAST(n_buckets AS DOUBLE) * 1000000 + 0.5) / 1000000 AS power
           |  FROM a),
           |win AS (SELECT key, period FROM (SELECT key, period,
           |    row_number() OVER (PARTITION BY key ORDER BY power DESC, period) AS rk,
           |    sum(power) OVER (PARTITION BY key) AS tot FROM pw)
           |  WHERE rk = 1 AND tot > 0),
           |${periods.map(branch).mkString(",\n")}
           |${periods.map(p => s"SELECT * FROM out_$p").mkString(" UNION ALL ")}""".stripMargin
      }),

    // Hyndman trend/seasonal strength at the daily cycle — is there a
    // cycle worth modeling, per event type
    QueryDef("q_season_strength",
      (s, dir) =>
        Seasonal.strength(ev(s, dir), "event_type", "ts", period = 24)
          .select(col("key").as("event_type"), col("n"),
            col("f_trend"), col("f_seas")),
      Some {
        val rr = r6("de.detr - se.seasonal")
        val ss = r6("se.seasonal + (de.detr - se.seasonal)")
        val tt = r6("de.trend + (de.detr - se.seasonal)")
        s"""WITH $decomposeCtesSql,
           |jj AS (SELECT de.event_type AS key, $rr AS r, $ss AS sr, $tt AS tr
           |  FROM de LEFT JOIN se ON de.event_type = se.event_type AND de.phase = se.phase
           |  WHERE de.trend IS NOT NULL),
           |m AS (SELECT key, count(*) AS n,
           |    ${dsum("r")} AS sR, ${dsum(r6("r * r"))} AS qR,
           |    ${dsum("sr")} AS sS, ${dsum(r6("sr * sr"))} AS qS,
           |    ${dsum("tr")} AS sT, ${dsum(r6("tr * tr"))} AS qT
           |  FROM jj GROUP BY 1),
           |f AS (SELECT key, n, CAST(n AS DOUBLE) AS nd,
           |    qR / CAST(n AS DOUBLE) - (sR / CAST(n AS DOUBLE)) * (sR / CAST(n AS DOUBLE)) AS vR,
           |    qS / CAST(n AS DOUBLE) - (sS / CAST(n AS DOUBLE)) * (sS / CAST(n AS DOUBLE)) AS vS,
           |    qT / CAST(n AS DOUBLE) - (sT / CAST(n AS DOUBLE)) * (sT / CAST(n AS DOUBLE)) AS vT
           |  FROM m)
           |SELECT key AS event_type, CAST(n AS BIGINT) AS n,
           |  CASE WHEN vT > 0 THEN ${r6("greatest(CAST(0.0 AS DOUBLE), 1.0 - vR / vT)")} END AS f_trend,
           |  CASE WHEN vS > 0 THEN ${r6("greatest(CAST(0.0 AS DOUBLE), 1.0 - vR / vS)")} END AS f_seas
           |FROM f""".stripMargin
      }),

    // SAX words: each event type's value series as an 8-letter shape
    QueryDef("q_sax",
      (s, dir) =>
        Trend.sax(ev(s, dir), Seq("event_type"), "ts", "event_id", "value",
          nSegments = 8),
      Some(s"""WITH b AS (SELECT event_type AS g, ts, event_id, CAST(value AS DOUBLE) AS v
           |  FROM events WHERE value IS NOT NULL AND NOT isnan(value) AND ts IS NOT NULL),
           |mom AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
           |    CAST(coalesce(sum(CAST(${r6("v")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS sm,
           |    CAST(coalesce(sum(CAST(${r6("v * v")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS s2
           |  FROM b GROUP BY 1),
           |rk AS (SELECT g, v,
           |    row_number() OVER (PARTITION BY g ORDER BY ts, event_id) - 1 AS rn FROM b),
           |zz AS (SELECT rk.g, (rk.rn * 8) // mom.n AS seg,
           |    CASE WHEN sqrt(greatest(s2 / CAST(n AS DOUBLE) - (sm / CAST(n AS DOUBLE)) * (sm / CAST(n AS DOUBLE)), 0.0)) > 0
           |      THEN (v - sm / CAST(n AS DOUBLE)) / sqrt(greatest(s2 / CAST(n AS DOUBLE) - (sm / CAST(n AS DOUBLE)) * (sm / CAST(n AS DOUBLE)), 0.0))
           |      ELSE 0.0 END AS z
           |  FROM rk JOIN mom USING (g)),
           |paa AS (SELECT g, seg,
           |    CAST(coalesce(sum(CAST(${r6("z")} AS DECIMAL(38,6))), 0) AS DOUBLE) /
           |      CAST(count(*) AS DOUBLE) AS pm
           |  FROM zz GROUP BY 1, 2),
           |sym AS (SELECT g, seg,
           |    CASE WHEN pm < -0.6745 THEN 'a' WHEN pm < 0.0 THEN 'b'
           |         WHEN pm < 0.6745 THEN 'c' ELSE 'd' END AS sy
           |  FROM paa)
           |SELECT sym.g AS event_type, mom.n AS n,
           |  string_agg(sy, '' ORDER BY seg) AS sax
           |FROM sym JOIN mom ON mom.g = sym.g GROUP BY sym.g, mom.n""".stripMargin)),

    // pairwise DTW over the event types' 8-segment PAA shapes
    QueryDef("q_dtw",
      { (s, dir) =>
        val paa = Trend.paaVectors(ev(s, dir), Seq("event_type"), "ts",
          "event_id", "value", nSegments = 8)
        paa.as("a").join(paa.as("b"),
            col("a.event_type") < col("b.event_type"))
          .select(col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"),
            graft.functions.Portable.r6(
              Trend.dtwDistance(col("a.paa"), col("b.paa"))).as("dtw"))
      },
      Some(s"""WITH b AS (SELECT event_type AS g, ts, event_id, CAST(value AS DOUBLE) AS v
           |  FROM events WHERE value IS NOT NULL AND NOT isnan(value) AND ts IS NOT NULL),
           |mom AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
           |    CAST(coalesce(sum(CAST(${r6("v")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS sm,
           |    CAST(coalesce(sum(CAST(${r6("v * v")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS s2
           |  FROM b GROUP BY 1),
           |rk AS (SELECT g, v,
           |    row_number() OVER (PARTITION BY g ORDER BY ts, event_id) - 1 AS rn FROM b),
           |zz AS (SELECT rk.g, (rk.rn * 8) // mom.n AS seg,
           |    CASE WHEN sqrt(greatest(s2 / CAST(n AS DOUBLE) - (sm / CAST(n AS DOUBLE)) * (sm / CAST(n AS DOUBLE)), 0.0)) > 0
           |      THEN (v - sm / CAST(n AS DOUBLE)) / sqrt(greatest(s2 / CAST(n AS DOUBLE) - (sm / CAST(n AS DOUBLE)) * (sm / CAST(n AS DOUBLE)), 0.0))
           |      ELSE 0.0 END AS z
           |  FROM rk JOIN mom USING (g)),
           |paa AS (SELECT g, seg,
           |    ${r6("CAST(coalesce(sum(CAST(" + r6("z") + " AS DECIMAL(38,6))), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS pm
           |  FROM zz GROUP BY 1, 2),
           |vecs AS (SELECT g, list(pm ORDER BY seg) AS paa FROM paa GROUP BY 1),
           |pairs AS (SELECT a.g AS type_a, b.g AS type_b, a.paa AS pa, b.paa AS pb
           |  FROM vecs a JOIN vecs b ON a.g < b.g)
           |SELECT type_a, type_b,
           |  ${r6("""list_reduce(
           |    list_prepend(list_prepend(CAST(0 AS DOUBLE), list_transform(pb, q -> 1e308)),
           |      list_transform(pa, q -> [q])),
           |    (prev, xr) -> list_reduce(
           |      list_prepend([1e308], list_transform(range(1, len(pb) + 1), j -> [CAST(j AS DOUBLE)])),
           |      (row, jj) -> list_append(row,
           |        abs(xr[1] - pb[CAST(jj[1] AS BIGINT)]) +
           |        least(prev[CAST(jj[1] AS BIGINT)], prev[CAST(jj[1] AS BIGINT) + 1], row[len(row)]))))[len(pb) + 1]""")} AS dtw
           |FROM pairs""".stripMargin)),

    // R/S Hurst exponent of per-type value series
    QueryDef("q_hurst",
      (s, dir) =>
        Trend.hurstExponent(ev(s, dir), Seq("event_type"), "ts", "event_id",
          "value", blockSizes = Seq(8, 16, 32, 64)),
      Some(s"""WITH b AS (SELECT event_type AS g, ts, event_id, CAST(value AS DOUBLE) AS v
           |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
           |rk AS (SELECT g, ts, event_id, v,
           |    CAST(row_number() OVER (PARTITION BY g ORDER BY ts, event_id) AS BIGINT) - 1 AS rn FROM b),
           |mel AS (SELECT g, ts, event_id, v, m.m AS m, (rn - rn % m.m) // m.m AS blk
           |  FROM rk, (VALUES (CAST(8 AS BIGINT)), (16), (32), (64)) m(m)),
           |f2 AS (SELECT * FROM (SELECT *, count(*) OVER (PARTITION BY g, m, blk) AS bn FROM mel)
           |  WHERE bn = m),
           |wm AS (SELECT *, CAST(sum(CAST(v AS DECIMAL(38,6))) OVER (PARTITION BY g, m, blk) AS DOUBLE) / CAST(m AS DOUBLE) AS mn FROM f2),
           |cum AS (SELECT *, CAST(sum(CAST(${r6("v - mn")} AS DECIMAL(38,6)))
           |    OVER (PARTITION BY g, m, blk ORDER BY ts, event_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cumv FROM wm),
           |pb AS (SELECT g, m, blk, max(cumv) - min(cumv) AS r,
           |    sqrt(greatest(${ds("(v - mn) * (v - mn)")} / CAST(first(m) AS DOUBLE), 0.0)) AS sd
           |  FROM cum GROUP BY 1, 2, 3),
           |rs AS (SELECT g, m, r / sd AS rsv FROM pb WHERE sd > 0),
           |ps AS (SELECT g, m, ${ds("rsv")} / CAST(count(*) AS DOUBLE) AS mrs FROM rs GROUP BY 1, 2),
           |pts AS (SELECT g, ln(CAST(m AS DOUBLE)) AS x, ln(mrs) AS y FROM ps WHERE mrs > 0),
           |fit AS (SELECT g, CAST(count(*) AS BIGINT) AS k_sizes,
           |    ${ds("x")} AS sx, ${ds("y")} AS sy, ${ds("x * x")} AS qx, ${ds("x * y")} AS pxy
           |  FROM pts GROUP BY 1),
           |tot AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM b GROUP BY 1)
           |SELECT tot.g AS event_type, n, k_sizes,
           |  CASE WHEN k_sizes >= 2 AND CAST(k_sizes AS DOUBLE) * qx - sx * sx > 0
           |    THEN ${r6("(CAST(k_sizes AS DOUBLE) * pxy - sx * sy) / (CAST(k_sizes AS DOUBLE) * qx - sx * sx)")} END AS hurst
           |FROM tot JOIN fit ON tot.g = fit.g""".stripMargin))
  )
}
