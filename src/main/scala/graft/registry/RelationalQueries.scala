package graft
package registry

import graft.operators._
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Relational and temporal operators: TPC-H-shaped joins, as-of and
  * range joins, entity resolution, sessions, funnels, retention, rolling
  * windows, SCD2, z-order and JSON health.
  */
object RelationalQueries {
  import Shared._

  /** Retention bucket width (one week of epoch micros), shared by the
    * q_retention Spark call and its oracle SQL.
    */
  private val WeekUs = 604800000000L

  /** Interleave width shared by the q_zorder Spark column and its
    * generated oracle SQL.
    */
  private val ZOrderBits = 16

  /** Engine-stable row fingerprint for [[Diff]]: nulls to sentinels,
    * timestamps to epoch micros, doubles to 1e-6-scaled integers (NaN
    * spelled out — DuckDB cannot cast NaN to BIGINT).
    */
  private def diffFingerprint: org.apache.spark.sql.Column =
    md5(concat_ws("|",
      coalesce(col("user_id").cast("string"), lit("~")),
      coalesce(unix_micros(col("ts")).cast("string"), lit("~")),
      coalesce(col("event_type"), lit("~")),
      coalesce(
        when(isnan(col("value")), lit("nan"))
          .otherwise(floor(col("value") * 1000000).cast("string")),
        lit("~"))))

  val all: Seq[QueryDef] = Seq(
    // TPC-H Q5 shape: local-supplier revenue per nation — a 6-table
    // join: the small dims (supplier/nation/region) broadcast; the
    // orders and customer joins are key equi-joins the fact legitimately
    // shuffles for at scale (AQE upgrades them to broadcast when the
    // filtered sides fit)
    QueryDef("q5_local_supplier",
      { (s, dir) =>
        val li = Tables.lineitem(s, dir)
        val ord = Tables.orders(s, dir)
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        val cust = Tables.customer(s, dir)
        val supp = Tables.supplier(s, dir)
        val nat = Tables.nation(s, dir)
        val reg = Tables.region(s, dir).filter(col("r_name") === "ASIA")
        li.join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
          .join(cust, col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(sum(graft.functions.Portable.r6(
            col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(38,6)"))
            .cast("double").as("revenue"))
      },
      Some("""SELECT n_name,
          |  CAST(CAST(sum(CAST(floor((l_extendedprice*(1-l_discount)) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS revenue
          |FROM lineitem, orders, supplier, customer, nation, region
          |WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey AND o_custkey = c_custkey
          |  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          |  AND r_name = 'ASIA'
          |  AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
          |GROUP BY 1""".stripMargin)),

    // golden-record survivorship over the fuzzy part-name entities
    QueryDef("q_golden",
      (s, dir) =>
        FuzzyJoin
          .goldenRecords(
            Tables.part(s, dir).select(col("p_partkey"), col("p_name"), col("p_retailprice")),
            "p_partkey", "p_name", maxDist = 4,
            extraAggs = Seq(max(col("p_retailprice")).as("max_price")))
          .select(col("entity_id"), col("n_members"), col("first_id"), col("canonical_name"),
            graft.functions.Portable.r6(col("max_price")).as("max_price")),
      Some("""WITH RECURSIVE t AS (SELECT DISTINCT lower(p_name) AS name FROM part WHERE lower(p_name) <> ''),
          |tok AS (SELECT DISTINCT name, unnest(list_filter(string_split_regex(name, '[^a-z]+'), x -> x <> '')) AS tk FROM t),
          |cand AS (SELECT DISTINCT a.name AS a_name, b.name AS b_name
          |  FROM tok a JOIN tok b ON a.tk = b.tk AND a.name < b.name),
          |pr AS (SELECT a_name, b_name FROM cand WHERE levenshtein(a_name, b_name) <= 4),
          |ids AS (SELECT p_partkey AS id, lower(p_name) AS name, p_retailprice AS price FROM part),
          |nm AS (SELECT name, min(id) AS nid FROM ids WHERE name <> '' GROUP BY 1),
          |e0 AS (SELECT a.nid AS ia, b.nid AS ib FROM pr JOIN nm a ON a.name = pr.a_name
          |       JOIN nm b ON b.name = pr.b_name),
          |e AS (SELECT ia AS src, ib AS dst FROM e0 UNION SELECT ib, ia FROM e0),
          |reach AS (SELECT src AS id, src AS r FROM e
          |          UNION SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
          |clusters AS (SELECT id AS nid, min(r) AS lbl FROM reach GROUP BY 1),
          |ent AS (SELECT ids.id, coalesce(lbl, nm.nid, ids.id) AS entity_id, ids.name, ids.price
          |  FROM ids LEFT JOIN nm ON nm.name = ids.name
          |  LEFT JOIN clusters ON clusters.nid = nm.nid),
          |rk AS (SELECT entity_id, name, row_number() OVER (PARTITION BY entity_id ORDER BY len(name) DESC, name DESC) AS rn FROM ent),
          |g AS (SELECT entity_id, count(*) AS n_members, min(id) AS first_id, max(price) AS mp FROM ent GROUP BY 1)
          |SELECT g.entity_id, g.n_members, g.first_id, rk.name AS canonical_name,
          |  floor((mp) * 1000000 + 0.5) / 1000000 AS max_price
          |FROM g JOIN (SELECT entity_id, name FROM rk WHERE rn = 1) rk USING (entity_id)""".stripMargin)),

    // hopping windows: 10-minute windows sliding every 5 minutes
    QueryDef("q_hopping",
      (s, dir) =>
        Rolling
          .hoppingAgg(ev(s, dir), Seq("event_type"), "ts", "value",
            windowUs = 600000000L, slideUs = 300000000L)
          .select(col("event_type"), col("win_start_us"), col("n"), col("sum_value")),
      Some(s"""WITH w AS (SELECT event_type, value,
           |    (epoch_us(ts) // 300000000) * 300000000 - j * 300000000 AS win_start_us
           |  FROM events, unnest([0, 1]) AS u(j) WHERE ts IS NOT NULL)
           |SELECT event_type, win_start_us, count(*) AS n,
           |  CAST(coalesce(sum(CASE WHEN $P THEN CAST(value AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sum_value
           |FROM w GROUP BY 1, 2""".stripMargin)),

    // sorted-neighborhood blocking over part names (window 3, dist <= 4)
    QueryDef("q_sorted_blocking",
      (s, dir) =>
        FuzzyJoin.sortedNeighborPairs(Tables.part(s, dir), "p_name", maxDist = 4, windowSize = 3),
      Some("""WITH t AS (SELECT DISTINCT lower(p_name) AS name FROM part
          |  WHERE p_name IS NOT NULL AND lower(p_name) <> ''),
          |r AS (SELECT name, substr(name, 1, 2) AS block,
          |    row_number() OVER (PARTITION BY substr(name, 1, 2) ORDER BY name) AS rnk FROM t),
          |p AS (SELECT a.name AS a_name, b.name AS b_name
          |  FROM r a JOIN r b ON a.block = b.block AND b.rnk IN (a.rnk + 1, a.rnk + 2))
          |SELECT a_name, b_name, CAST(levenshtein(a_name, b_name) AS BIGINT) AS dist
          |FROM p WHERE levenshtein(a_name, b_name) <= 4""".stripMargin)),

    // first-10-steps event path per user (clickstream journeys)
    QueryDef("q_paths",
      (s, dir) =>
        Transitions.eventPaths(ev(s, dir), "user_id", "ts", "event_type", "event_id",
          maxSteps = 10)
          .select(col("key").as("user_id"), col("n_events"), col("path")),
      Some("""WITH r AS (SELECT user_id, event_type,
          |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
          |    count(*) OVER (PARTITION BY user_id) AS n_events
          |  FROM events WHERE ts IS NOT NULL)
          |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
          |  string_agg(event_type, '>' ORDER BY rn) AS path
          |FROM r WHERE rn <= 10 GROUP BY user_id, n_events""".stripMargin)),

    // time-weighted average of the value step function per user
    QueryDef("q_twa",
      (s, dir) =>
        Intervals.timeWeightedAverage(ev(s, dir), "user_id", "ts", "value", "event_id")
          .select(col("key").as("user_id"), col("n"), col("span_s"),
            graft.functions.Portable.r6(col("twa")).as("twa")),
      Some(s"""WITH e AS (SELECT user_id, epoch_us(ts) AS us, value, event_id FROM events
           |  WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(value)),
           |t AS (SELECT user_id, us,
           |    CAST(floor((value * (CAST(lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS DOUBLE) / 1e6)) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) AS term
           |  FROM e),
           |g AS (SELECT user_id, count(*) AS n,
           |    CAST(max(us) - min(us) AS DOUBLE) / 1e6 AS span_raw,
           |    CAST(coalesce(sum(term), 0) AS DOUBLE) AS num
           |  FROM t GROUP BY 1)
           |SELECT user_id, n,
           |  ${graft.functions.Portable.r6Sql("span_raw")} AS span_s,
           |  CASE WHEN span_raw > 0 THEN ${graft.functions.Portable.r6Sql("num / span_raw")} END AS twa
           |FROM g""".stripMargin)),

    // gaps-and-islands activity coverage (5-minute activity intervals)
    QueryDef("q_coverage",
      (s, dir) =>
        Intervals.activityCoverage(ev(s, dir), "user_id", "ts", "event_id",
          widthUs = 300000000L)
          .select(col("key").as("user_id"), col("n_islands"), col("covered_us")),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 300000000 AS en, event_id
          |  FROM events WHERE ts IS NOT NULL),
          |m AS (SELECT user_id, s, en, event_id,
          |    CASE WHEN s > coalesce(max(en) OVER (PARTITION BY user_id ORDER BY s, event_id
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -9223372036854775808) THEN 1 ELSE 0 END AS nw
          |  FROM e),
          |i AS (SELECT user_id, s, en, sum(nw) OVER (PARTITION BY user_id ORDER BY s, event_id) AS island FROM m),
          |g AS (SELECT user_id, island, max(en) - min(s) AS len FROM i GROUP BY 1, 2)
          |SELECT user_id, count(*) AS n_islands, CAST(sum(len) AS BIGINT) AS covered_us
          |FROM g GROUP BY 1""".stripMargin)),

    QueryDef("q1_pricing",
      { (s, dir) =>
        val li = Tables.lineitem(s, dir).filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        // r6 in DOUBLE space before the decimal cast: the engines' native
        // double->decimal rounding disagrees at 10^-6 boundaries, and at
        // millions of rows those per-row diffs accumulate past one ulp of
        // the ~1e10 totals (caught by the sf1 spot-run). floor(x*1e6+0.5)
        // is identical IEEE arithmetic everywhere, so every row's decimal
        // is bit-identical and the exact sums match at any scale.
        def dec(c: org.apache.spark.sql.Column) =
          graft.functions.Portable.r6(c).cast("decimal(38,6)")
        li.groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
            sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
            sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount")))).cast("double").as("sum_disc_price"),
            sum(dec((col("l_extendedprice") * (lit(1) - col("l_discount"))) * (lit(1) + col("l_tax"))))
              .cast("double").as("sum_charge"),
            sum(dec(col("l_discount"))).cast("double").as("__sum_disc"),
            count(lit(1)).as("count_order")
          )
          .withColumn("avg_qty", col("sum_qty") / col("count_order"))
          .withColumn("avg_price", col("sum_base_price") / col("count_order"))
          .withColumn("avg_disc", col("__sum_disc") / col("count_order"))
          .drop("__sum_disc")
      },
      Some("""WITH a AS (SELECT l_returnflag, l_linestatus,
          |  CAST(CAST(sum(CAST(floor((l_quantity) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
          |  CAST(CAST(sum(CAST(floor((l_extendedprice) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
          |  CAST(CAST(sum(CAST(floor((l_extendedprice*(1-l_discount)) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
          |  CAST(CAST(sum(CAST(floor(((l_extendedprice*(1-l_discount))*(1+l_tax)) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_charge,
          |  CAST(CAST(sum(CAST(floor((l_discount) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS VARCHAR) AS DOUBLE) AS sum_disc,
          |  count(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' GROUP BY 1, 2)
          |SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price, sum_disc_price, sum_charge, count_order,
          |  sum_qty/count_order AS avg_qty, sum_base_price/count_order AS avg_price, sum_disc/count_order AS avg_disc
          |FROM a""".stripMargin)),

    QueryDef("q3_shipping",
      { (s, dir) =>
        val cutoff = lit("1998-03-15").cast("timestamp")
        val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, dir).filter(col("o_orderdate") < cutoff)
        val l = Tables.lineitem(s, dir).filter(col("l_shipdate") > cutoff)
        // no broadcast hint on customer: it's fact-sized at scale; the
        // planner/AQE picks broadcast at small SF from stats on its own.
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .groupBy(col("l_orderkey"), col("o_orderdate"))
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(38,6)"))
            .cast("double").as("revenue"))
          .select(col("l_orderkey"),
            unix_micros(col("o_orderdate").cast("timestamp")).as("o_orderdate_us"), col("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(20)
      },
      Some("""SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us,
          |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
          |FROM customer, orders, lineitem
          |WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          |  AND o_orderdate < TIMESTAMP '1998-03-15' AND l_shipdate > TIMESTAMP '1998-03-15'
          |GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin)),

    // semi/anti joins: customers with a high-priority order but no
    // returned lineitem — broadcast LeftSemi + LeftAnti, zero fact shuffle
    QueryDef("q_cust_semi_anti",
      { (s, dir) =>
        val cust = Tables.customer(s, dir)
        val ord = Tables.orders(s, dir)
        val returned = Tables.lineitem(s, dir)
          .filter(col("l_returnflag") === "R")
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_custkey"))
        val urgent = ord.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
        cust
          .join(urgent, cust("c_custkey") === urgent("o_custkey"), "left_semi")
          .join(returned, cust("c_custkey") === returned("o_custkey"), "left_anti")
          .select(col("c_custkey"), col("c_name"))
      },
      Some("""SELECT c_custkey, c_name FROM customer
          |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
          |  AND c_custkey NOT IN (
          |    SELECT o_custkey FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          |    WHERE l_returnflag = 'R')""".stripMargin)),

    QueryDef("q_top_customers",
      { (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val rev = Tables.lineitem(s, dir)
          .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_custkey"), col("c_name"))
          .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(38,6)"))
            .cast("double").as("revenue"))
        // orderBy+limit compiles to TakeOrderedAndProject: each partition
        // keeps its local top 10, the driver merges — no global window over
        // the customer table. The rank window that follows only ever sees
        // the 10 surviving rows (bounded by the limit), which is the one
        // legitimate use of a partition-less window.
        rev.orderBy(col("revenue").desc, col("c_custkey").asc).limit(10)
          .withColumn("rank",
            row_number().over(Window.orderBy(col("revenue").desc, col("c_custkey").asc)).cast("long"))
      },
      Some("""WITH r AS (SELECT c.c_custkey, c.c_name,
          |  CAST(sum(CAST(l_extendedprice*(1-l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
          |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey JOIN lineitem l ON o.o_orderkey = l.l_orderkey
          |  GROUP BY 1, 2),
          |rr AS (SELECT c_custkey, c_name, revenue,
          |  CAST(row_number() OVER (ORDER BY revenue DESC, c_custkey) AS BIGINT) AS "rank" FROM r)
          |SELECT * FROM rr WHERE "rank" <= 10""".stripMargin)),

    // as-of join: every event picks up the most recent purchase at or
    // before its own time for the same user (DuckDB native ASOF LEFT JOIN
    // oracle). Right side pre-aggregated to one row per (user, ts) so the
    // tie winner is engine-independent.
    QueryDef("q_asof",
      { (s, dir) =>
        val e = ev(s, dir)
        val purchases = e
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("value"))
        AsofJoin
          .asof(
            e.select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
            purchases,
            on = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "ts",
            rightCols = Seq("value"), rightPrefix = "purchase_")
          .select(
            col("event_id"), col("user_id"), unix_micros(col("ts")).as("time_us"), col("event_type"),
            unix_micros(col("purchase_ts")).as("purchase_time_us"),
            col("purchase_value").as("purchase_value"))
      },
      Some("""WITH p AS (SELECT user_id, ts, max(value) AS purchase_value
          |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1, 2)
          |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS time_us, e.event_type,
          |  epoch_us(p.ts) AS purchase_time_us, p.purchase_value
          |FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts""".stripMargin)),

    QueryDef("q_sessionize",
      (s, dir) =>
        Sessionize
          .sessionSummaries(ev(s, dir), "user_id", "ts", gapUs = 1800L * 1000000L, tieBreakCol = "event_id")
          .select(col("user_id"), col("session_seq"), col("n_events"),
            col("start_us"), col("end_us"), col("duration_us")),
      Some("""WITH t AS (SELECT user_id, ts, event_id,
          |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          |  FROM events WHERE ts IS NOT NULL),
          |s AS (SELECT user_id, ts,
          |  CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
          |    OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS session_seq
          |  FROM t)
          |SELECT user_id, session_seq, count(*) AS n_events,
          |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
          |  max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
          |FROM s GROUP BY 1, 2""".stripMargin)),

    // the same sessions through Spark's built-in session_window
    // aggregation (batch/streaming-shared plan; >= gap boundary)
    QueryDef("q_session_window",
      (s, dir) =>
        Sessionize
          .sessionWindowSummaries(ev(s, dir), "user_id", "ts", gap = "30 minutes")
          .select(col("user_id"), col("n_events"), col("start_us"), col("end_us")),
      // session_window boundary == the lag-based rule: a new session
      // starts only when the gap is strictly > the window (spec-pinned)
      Some("""WITH t AS (SELECT user_id, ts,
          |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          |  FROM events WHERE ts IS NOT NULL),
          |s AS (SELECT user_id, ts,
          |  CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
          |    OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
          |  FROM t)
          |SELECT user_id, count(*) AS n_events,
          |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
          |FROM s GROUP BY user_id, session_seq""".stripMargin)),

    // range join: events located inside per-user session intervals via the
    // bin-bucketed interval join (DuckDB BETWEEN-join oracle). Sessions of
    // one user never overlap (gap > threshold), so each event lands in
    // exactly one interval.
    QueryDef("q_range_join",
      { (s, dir) =>
        val e = ev(s, dir)
        val sessions = Sessionize
          .sessionSummaries(e, "user_id", "ts", gapUs = 1800L * 1000000L, tieBreakCol = "event_id")
          .select(col("user_id"), col("session_seq"), col("start_us"), col("end_us"))
        val points = e
          .filter(col("ts").isNotNull)
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("time_us"))
        RangeJoin
          .intervalJoin(points, sessions, on = Seq("user_id"),
            tCol = "time_us", startCol = "start_us", endCol = "end_us",
            binWidth = 6L * 3600 * 1000000) // 6h bins vs ~30min-gap sessions
          .select(col("event_id"), col("user_id"), col("time_us"), col("session_seq"))
      },
      Some("""WITH t AS (SELECT user_id, ts, event_id,
          |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
          |  FROM events WHERE ts IS NOT NULL),
          |sq AS (SELECT user_id, ts,
          |  CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000 THEN 1 ELSE 0 END)
          |    OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) - 1 AS session_seq
          |  FROM t),
          |sessions AS (SELECT user_id, session_seq,
          |    min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
          |  FROM sq GROUP BY 1, 2)
          |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS time_us, s.session_seq
          |FROM events e JOIN sessions s
          |  ON e.user_id = s.user_id AND epoch_us(e.ts) BETWEEN s.start_us AND s.end_us
          |WHERE e.ts IS NOT NULL""".stripMargin)),

    // trailing 1-hour window features per user. RANGE frame on the
    // microsecond value: timestamp peers share a frame in both engines,
    // so no tie-break is needed for determinism.
    QueryDef("q_rolling",
      (s, dir) =>
        Rolling
          .trailingAggregates(ev(s, dir), "user_id", "ts", "value", windowUs = 3600L * 1000000L)
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("time_us"),
            col("n_trail"), col("sum_trail")),
      Some("""SELECT event_id, user_id, epoch_us(ts) AS time_us,
          |  count(*) OVER w AS n_trail,
          |  CAST(coalesce(sum(CASE WHEN NOT isnan(value) THEN CAST(value AS DECIMAL(38,6)) END) OVER w, 0) AS DOUBLE) AS sum_trail
          |FROM events WHERE ts IS NOT NULL
          |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
          |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin)),

    // forward-fill: carry each user's most recent value forward in
    // (time, event_id) order.
    QueryDef("q_ffill",
      (s, dir) =>
        Rolling
          .forwardFill(ev(s, dir), "user_id", "ts", "event_id", "value", "value_filled")
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("time_us"),
            col("value"), col("value_filled")),
      Some("""SELECT event_id, user_id, epoch_us(ts) AS time_us, value,
          |  last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
          |FROM events WHERE ts IS NOT NULL""".stripMargin)),

    // snapshot diff vs a simulated next ingest: every 7th event deleted,
    // values doubled for every 5th user. Fingerprints use engine-stable
    // forms (epoch micros, 1e-6-scaled integer values).
    QueryDef("q_diff",
      { (s, dir) =>
        val e = ev(s, dir)
        val next = e
          .filter(col("event_id") % 7 =!= 0)
          .withColumn("value",
            when(col("user_id") % 5 === 0, col("value") * 2).otherwise(col("value")))
        Diff
          .snapshotDiff(e, next, Seq("event_id"), diffFingerprint)
          .select(col("event_id"), col("status"))
      },
      Some {
        val fpSql =
          """md5(concat_ws('|',
            |  coalesce(CAST(user_id AS VARCHAR), '~'),
            |  coalesce(CAST(epoch_us(ts) AS VARCHAR), '~'),
            |  coalesce(event_type, '~'),
            |  coalesce(CASE WHEN isnan(VALUE_EXPR) THEN 'nan'
            |           ELSE CAST(CAST(floor(VALUE_EXPR * 1000000) AS BIGINT) AS VARCHAR) END, '~')))""".stripMargin
        val oldFp = fpSql.replace("VALUE_EXPR", "value")
        val newFp = fpSql.replace(
          "VALUE_EXPR", "(CASE WHEN user_id % 5 = 0 THEN value * 2 ELSE value END)")
        s"""WITH o AS (SELECT event_id, $oldFp AS fp FROM events),
           |n AS (SELECT event_id, $newFp AS fp FROM events WHERE event_id % 7 <> 0),
           |j AS (SELECT coalesce(o.event_id, n.event_id) AS event_id,
           |  CASE WHEN o.event_id IS NULL THEN 'added'
           |       WHEN n.event_id IS NULL THEN 'removed'
           |       WHEN o.fp <> n.fp THEN 'changed' END AS status
           |  FROM o FULL JOIN n ON o.event_id = n.event_id)
           |SELECT event_id, status FROM j WHERE status IS NOT NULL""".stripMargin
      }),

    // fuzzy join: part-name pairs within 4 edits, token-blocked (never
    // all-pairs); the dictionary-level linkage step of record matching.
    QueryDef("q_fuzzy",
      (s, dir) =>
        FuzzyJoin
          .fuzzyPairs(Tables.part(s, dir).select(col("p_name")), "p_name", maxDist = 4)
          .select(col("a_name"), col("b_name"), col("dist")),
      Some("""WITH t AS (SELECT DISTINCT lower(p_name) AS name FROM part WHERE lower(p_name) <> ''),
          |tok AS (SELECT DISTINCT name, unnest(list_filter(string_split_regex(name, '[^a-z]+'), x -> x <> '')) AS tk FROM t),
          |cand AS (SELECT DISTINCT a.name AS a_name, b.name AS b_name
          |  FROM tok a JOIN tok b ON a.tk = b.tk AND a.name < b.name)
          |SELECT a_name, b_name, CAST(levenshtein(a_name, b_name) AS BIGINT) AS dist
          |FROM cand WHERE levenshtein(a_name, b_name) <= 4""".stripMargin)),

    // same blocking, Jaro-Winkler scorer (native codegen'd expression,
    // oracle = DuckDB's jaro_winkler_similarity)
    QueryDef("q_fuzzy_jw",
      (s, dir) =>
        FuzzyJoin
          .fuzzyPairsJaroWinkler(Tables.part(s, dir).select(col("p_name")), "p_name",
            minSim = 0.88)
          .select(col("a_name"), col("b_name"),
            graft.functions.Portable.r6(col("sim")).as("sim")),
      Some("""WITH t AS (SELECT DISTINCT lower(p_name) AS name FROM part WHERE lower(p_name) <> ''),
          |tok AS (SELECT DISTINCT name, unnest(list_filter(string_split_regex(name, '[^a-z]+'), x -> x <> '')) AS tk FROM t),
          |cand AS (SELECT DISTINCT a.name AS a_name, b.name AS b_name
          |  FROM tok a JOIN tok b ON a.tk = b.tk AND a.name < b.name)
          |SELECT a_name, b_name,
          |  floor(jaro_winkler_similarity(a_name, b_name) * 1000000 + 0.5) / 1000000 AS sim
          |FROM cand WHERE jaro_winkler_similarity(a_name, b_name) >= 0.88""".stripMargin)),

    // resample events onto an hourly grid with gap rows + carry-forward
    QueryDef("q_resample",
      (s, dir) =>
        Rolling
          .resampleLastValue(ev(s, dir), "user_id", "ts", "event_id", "value",
            stepUs = 3600L * 1000000L)
          .select(col("user_id"), col("bucket_us"), col("n_events"), col("value_last")),
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, value, event_id
          |    FROM events WHERE ts IS NOT NULL),
          |b AS (SELECT user_id, (us // 3600000000) * 3600000000 AS bucket_us, count(*) AS n_events
          |  FROM e GROUP BY 1, 2),
          |v AS (SELECT user_id, (us // 3600000000) * 3600000000 AS bucket_us, value,
          |    row_number() OVER (PARTITION BY user_id, (us // 3600000000)
          |      ORDER BY us DESC, event_id DESC) AS rn
          |  FROM e WHERE value IS NOT NULL),
          |vb AS (SELECT user_id, bucket_us, value AS v_in_bucket FROM v WHERE rn = 1),
          |s AS (SELECT user_id, min(bucket_us) AS lo, max(bucket_us) AS hi FROM b GROUP BY 1),
          |g AS (SELECT user_id, unnest(range(lo, hi + 1, 3600000000)) AS bucket_us FROM s),
          |j AS (SELECT g.user_id, g.bucket_us, coalesce(b.n_events, 0) AS n_events, vb.v_in_bucket
          |  FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket_us = b.bucket_us
          |         LEFT JOIN vb ON g.user_id = vb.user_id AND g.bucket_us = vb.bucket_us)
          |SELECT user_id, bucket_us, n_events,
          |  last_value(v_in_bucket IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket_us
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_last
          |FROM j""".stripMargin)),

    // salted join must be indistinguishable from the plain join (the
    // oracle IS the plain join) — parity proof for the skew-mitigation
    // path
    QueryDef("q_salted",
      { (s, dir) =>
        val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
        val c = Tables.customer(s, dir)
          .select(col("c_custkey").as("o_custkey"), col("c_name"), col("c_mktsegment"))
        Skew
          .saltedJoin(o, c, Seq("o_custkey"), salts = 8)
          .select(col("o_orderkey"), col("o_custkey").as("custkey"),
            col("c_name"), col("c_mktsegment"))
      },
      Some("""SELECT o_orderkey, o_custkey AS custkey, c_name, c_mktsegment
          |FROM orders JOIN customer ON o_custkey = c_custkey""".stripMargin)),

    // groupBy().pivot() with an explicit value list (no extra
    // distinct-scan job) — long-to-wide reshaping
    QueryDef("q_pivot",
      (s, dir) =>
        ev(s, dir)
          .groupBy("user_id")
          .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
          .count()
          // fill ONLY the pivoted counts — an unscoped fill would also
          // rewrite a NULL user_id group key to 0
          .na.fill(0L, Seq("click", "error", "purchase", "signup", "view")),
      Some("""SELECT user_id,
          |  count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
          |  count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
          |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
          |  count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
          |  count(CASE WHEN event_type = 'view' THEN 1 END) AS view
          |FROM events GROUP BY 1""".stripMargin)),

    // bloom-pre-filtered semi join; parity contract — the oracle is the
    // PLAIN semi join, the sketch only thins the shuffle
    QueryDef("q_bloom",
      (s, dir) =>
        BloomJoin
          .semiJoin(
            Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_linenumber")),
            Tables.orders(s, dir).filter(col("o_totalprice") > 400000).select(col("o_orderkey")),
            "l_orderkey", "o_orderkey", expectedKeys = 100000)
          .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber")),
      Some("""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber FROM lineitem
          |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)""".stripMargin)),

    // Morton z-value for two-dimensional layout clustering
    QueryDef("q_zorder",
      (s, dir) =>
        Tables.lineitem(s, dir).select(
          col("l_orderkey"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          ZOrder.interleave(col("l_partkey"), col("l_suppkey"), bits = ZOrderBits).as("zvalue")),
      Some {
        val terms = (0 until ZOrderBits).flatMap { i =>
          Seq(
            s"(((l_partkey >> $i) & 1) << ${2 * i})",
            s"(((l_suppkey >> $i) & 1) << ${2 * i + 1})")
        }.mkString(" + ")
        s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
           |CAST($terms AS BIGINT) AS zvalue FROM lineitem""".stripMargin
      }),

    // CDC log compaction: latest event per (user, type) via max-struct
    // (one partial-aggregated shuffle, not a window over every version)
    QueryDef("q_compact",
      (s, dir) =>
        Compact
          .latestPerKey(ev(s, dir), Seq("user_id", "event_type"), Seq("ts", "event_id"))
          .select(col("user_id"), col("event_type"), col("event_id"),
            unix_micros(col("ts")).as("ts_us"), col("value")),
      Some("""SELECT user_id, event_type, event_id, ts_us, value FROM (
          |  SELECT user_id, event_type, event_id, epoch_us(ts) AS ts_us, value,
          |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
          |  FROM events) WHERE rn = 1""".stripMargin)),

    // CDC MERGE/upsert: a derived change batch (every 10th event updated,
    // a sparse set of brand-new keys) applied onto the event log — one
    // key-anti-join + union, never a full-outer join of wide rows
    QueryDef("q_upsert",
      { (s, dir) =>
        val e = ev(s, dir)
        val updates = e.filter(col("event_id") % 10 === 0)
          .withColumn("value", col("value") * 2)
          .withColumn("event_type", lit("upd"))
        val inserts = e.filter(col("event_id") % 1000 === 1)
          .withColumn("event_id", col("event_id") + 20000000L)
          .withColumn("event_type", lit("ins"))
        Merge.upsert(e, updates.unionByName(inserts), Seq("event_id"))
          .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"),
            col("event_type"), col("value"))
      },
      Some("""WITH upd AS (
          |  SELECT event_id, user_id, ts, 'upd' AS event_type, value * 2 AS value
          |  FROM events WHERE event_id % 10 = 0
          |  UNION ALL
          |  SELECT event_id + 20000000, user_id, ts, 'ins' AS event_type, value
          |  FROM events WHERE event_id % 1000 = 1)
          |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us, e.event_type, e.value
          |FROM events e WHERE e.event_id NOT IN (SELECT event_id FROM upd)
          |UNION ALL
          |SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value FROM upd""".stripMargin)),

    // SCD2 validity intervals per (user, type) version chain: valid_to =
    // next version's timestamp, open interval while current
    QueryDef("q_scd2",
      (s, dir) =>
        Scd2
          .history(ev(s, dir).filter(col("ts").isNotNull),
            Seq("user_id", "event_type"), "ts", "event_id")
          .select(col("event_id"), col("user_id"), col("event_type"),
            unix_micros(col("valid_from")).as("valid_from_us"),
            unix_micros(col("valid_to")).as("valid_to_us"),
            col("is_current").cast("long").as("is_current")),
      Some("""SELECT event_id, user_id, event_type,
          |  epoch_us(ts) AS valid_from_us,
          |  epoch_us(lead(ts) OVER w) AS valid_to_us,
          |  CAST(CASE WHEN lead(ts) OVER w IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
          |FROM events WHERE ts IS NOT NULL
          |WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)""".stripMargin)),

    // ordered funnel: signup -> view (after it) -> purchase (after that);
    // one type-filtered shuffle + a single-pass HOF fold per user
    QueryDef("q_funnel",
      (s, dir) =>
        Funnel
          .funnel(ev(s, dir), "user_id", "ts", "event_type",
            Seq("signup", "view", "purchase"))
          .withColumnRenamed("key", "user_id"),
      Some("""WITH f AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events
          |  WHERE ts IS NOT NULL AND event_type IN ('signup','view','purchase')),
          |s1 AS (SELECT user_id, min(t) AS t1 FROM f WHERE event_type = 'signup' GROUP BY 1),
          |s2 AS (SELECT f.user_id, min(t) AS t2 FROM f JOIN s1 USING (user_id)
          |       WHERE event_type = 'view' AND t > t1 GROUP BY 1),
          |s3 AS (SELECT f.user_id, min(t) AS t3 FROM f JOIN s2 USING (user_id)
          |       WHERE event_type = 'purchase' AND t > t2 GROUP BY 1)
          |SELECT s1.user_id,
          |  CAST(1 + CASE WHEN t2 IS NULL THEN 0 ELSE 1 END
          |         + CASE WHEN t3 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS reached,
          |  t1 AS step_1_us, t2 AS step_2_us, t3 AS step_3_us
          |FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)""".stripMargin)),

    // weekly cohort retention triangle over the events stream
    QueryDef("q_retention",
      (s, dir) =>
        Retention.cohortRetention(ev(s, dir), "user_id", "ts", WeekUs),
      Some(s"""WITH b AS (SELECT user_id, epoch_us(ts) // $WeekUs AS bucket
           |  FROM events WHERE ts IS NOT NULL),
           |c AS (SELECT user_id, min(bucket) AS cohort FROM b GROUP BY 1)
           |SELECT cohort, bucket - cohort AS offset, count(DISTINCT user_id) AS n_active
           |FROM b JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin)),

    // debounce: drop same-(user,type) repeats within 1h of the previous
    QueryDef("q_debounce",
      (s, dir) =>
        Debounce.debounce(ev(s, dir), Seq("user_id", "event_type"), "ts",
            3600000000L, "event_id")
          .select(col("event_id"), col("user_id"), timeUs("ts").as("ts_us"),
            col("event_type")),
      Some("""SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
          |FROM (SELECT event_id, user_id, ts, event_type,
          |        lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
          |                                ORDER BY ts, event_id) AS prev
          |      FROM events WHERE ts IS NOT NULL)
          |WHERE prev IS NULL OR epoch_us(ts) - prev > 3600000000
          |UNION ALL
          |SELECT event_id, user_id, NULL, event_type FROM events WHERE ts IS NULL""".stripMargin)),

    // trending: top-3 event types per day by count
    QueryDef("q_trending",
      (s, dir) =>
        Trending.topItemsPerBucket(ev(s, dir), "ts", "event_type", 86400000000L, 3)
          .withColumn("rnk", col("rnk").cast("long")),
      Some("""WITH c AS (SELECT epoch_us(ts) // 86400000000 AS bucket, event_type AS item, count(*) AS n
          |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2)
          |SELECT bucket, item, n, CAST(rnk AS BIGINT) AS rnk
          |FROM (SELECT *, row_number() OVER (PARTITION BY bucket ORDER BY n DESC, item) AS rnk FROM c)
          |WHERE rnk <= 3""".stripMargin)),

    // first-order event-type transition matrix (counts + cond. prob)
    QueryDef("q_transitions",
      (s, dir) =>
        Transitions.transitionCounts(ev(s, dir), "user_id", "ts", "event_type", "event_id")
          .select(col("prev"), col("next"), col("n"),
            graft.functions.Portable.r6(col("p")).as("p")),
      Some("""WITH s AS (SELECT event_type AS prev,
          |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next
          |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
          |c AS (SELECT prev, next, count(*) AS n FROM s WHERE next IS NOT NULL GROUP BY 1, 2),
          |t AS (SELECT prev, CAST(sum(n) AS BIGINT) AS nt FROM c GROUP BY 1)
          |SELECT prev, next, n,
          |  floor((CAST(n AS DOUBLE) / CAST(nt AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS p
          |FROM c JOIN t USING (prev)""".stripMargin)),

    // self-calibrating anomaly signal: z vs trailing 10 PRIOR events
    QueryDef("q_roll_z",
      (s, dir) =>
        Rolling.trailingZScore(ev(s, dir), "user_id", "ts", "value", "event_id", frame = 10)
          .select(col("event_id"),
            graft.functions.Portable.r6(col("z_trail")).as("z_trail")),
      Some(s"""WITH b AS (SELECT event_id, value,
           |    count(CASE WHEN $P THEN 1 END) OVER w AS n,
           |    CAST(coalesce(sum(CASE WHEN $P THEN CAST(value AS DECIMAL(38,6)) END) OVER w, 0) AS DOUBLE) AS s,
           |    CAST(coalesce(sum(CASE WHEN $P THEN CAST(value * value AS DECIMAL(38,6)) END) OVER w, 0) AS DOUBLE) AS s2
           |  FROM events WHERE ts IS NOT NULL
           |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
           |               ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING))
           |SELECT event_id,
           |  CASE WHEN 3 <= CAST(n AS DOUBLE) AND $P
           |        AND sqrt(greatest(s2 / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)), 0.0)) > 0
           |  THEN floor(((value - s / CAST(n AS DOUBLE)) /
           |    sqrt(greatest(s2 / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)), 0.0)))
           |    * 1000000 + 0.5) / 1000000
           |  END AS z_trail
           |FROM b""".stripMargin)),

    // per-user inter-arrival gap stats (burstiness profile)
    QueryDef("q_interarrival",
      (s, dir) =>
        Transitions.interArrivalStats(ev(s, dir), "user_id", "ts", "event_id")
          .select(col("user_id"), col("n_gaps"),
            graft.functions.Portable.r6(col("mean_gap_s")).as("mean_gap_s"),
            col("max_gap_us")),
      Some("""WITH g AS (SELECT user_id,
          |    epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
          |  FROM events WHERE ts IS NOT NULL)
          |SELECT user_id, count(*) AS n_gaps,
          |  floor((CAST(sum(gap) AS DOUBLE) / CAST(count(*) AS DOUBLE) / CAST(1000000 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS mean_gap_s,
          |  max(gap) AS max_gap_us
          |FROM g WHERE gap IS NOT NULL GROUP BY 1""".stripMargin)),

    // OLAP cube over (lang, source) with grouping id
    QueryDef("q_cube",
      (s, dir) =>
        docs(s, dir)
          .cube(col("lang"), col("source"))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(col("n_chars").cast("decimal(38,6)")), lit(0).cast("decimal(38,6)"))
              .cast("double").as("chars"),
            grouping_id().as("gid")),
      Some("""SELECT lang, source, count(*) AS n,
          |  CAST(coalesce(sum(CAST(n_chars AS DECIMAL(38,6))), 0) AS DOUBLE) AS chars,
          |  GROUPING_ID(lang, source) AS gid
          |FROM documents GROUP BY CUBE (lang, source)""".stripMargin)),

    // entity resolution: fuzzy-link graph -> connected components
    QueryDef("q_entity",
      (s, dir) =>
        FuzzyJoin.resolveEntities(
          Tables.part(s, dir).select(col("p_partkey"), col("p_name")),
          "p_partkey", "p_name", maxDist = 4),
      Some("""WITH RECURSIVE t AS (SELECT DISTINCT lower(p_name) AS name FROM part WHERE lower(p_name) <> ''),
          |tok AS (SELECT DISTINCT name, unnest(list_filter(string_split_regex(name, '[^a-z]+'), x -> x <> '')) AS tk FROM t),
          |cand AS (SELECT DISTINCT a.name AS a_name, b.name AS b_name
          |  FROM tok a JOIN tok b ON a.tk = b.tk AND a.name < b.name),
          |pr AS (SELECT a_name, b_name FROM cand WHERE levenshtein(a_name, b_name) <= 4),
          |ids AS (SELECT p_partkey AS id, lower(p_name) AS name FROM part),
          |nm AS (SELECT name, min(id) AS nid FROM ids WHERE name <> '' GROUP BY 1),
          |e0 AS (SELECT a.nid AS ia, b.nid AS ib FROM pr JOIN nm a ON a.name = pr.a_name
          |       JOIN nm b ON b.name = pr.b_name),
          |e AS (SELECT ia AS src, ib AS dst FROM e0 UNION SELECT ib, ia FROM e0),
          |reach AS (SELECT src AS id, src AS r FROM e
          |          UNION SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
          |clusters AS (SELECT id AS nid, min(r) AS lbl FROM reach GROUP BY 1)
          |SELECT ids.id, coalesce(lbl, nm.nid, ids.id) AS entity_id
          |FROM ids LEFT JOIN nm ON nm.name = ids.name
          |LEFT JOIN clusters ON clusters.nid = nm.nid""".stripMargin)),

    // week-over-week active users with relative change
    QueryDef("q_wow",
      (s, dir) =>
        Retention.periodOverPeriod(ev(s, dir), "user_id", "ts", WeekUs)
          .select(col("bucket"), col("n_active"), col("prev_active"),
            graft.functions.Portable.r6(col("pct_change")).as("pct_change")),
      Some(s"""WITH b AS (SELECT user_id, epoch_us(ts) // $WeekUs AS bucket
           |  FROM events WHERE ts IS NOT NULL),
           |w AS (SELECT bucket, count(DISTINCT user_id) AS n_active FROM b GROUP BY 1)
           |SELECT w.bucket, w.n_active, p.n_active AS prev_active,
           |  CASE WHEN p.n_active IS NOT NULL THEN
           |    floor(((CAST(w.n_active AS DOUBLE) - CAST(p.n_active AS DOUBLE)) / CAST(p.n_active AS DOUBLE)) * 1000000 + 0.5) / 1000000
           |  END AS pct_change
           |FROM w LEFT JOIN w p ON p.bucket = w.bucket - 1""".stripMargin)),

    // Fellegi-Sunter match weights over consecutive-id blocks of 64:
    // block SIZE is fixed, so candidate pairs stay LINEAR in the corpus
    // (a fixed block COUNT grows blocks with N and pairs with N²);
    // data-exact u-probabilities, prior m = 0.9
    QueryDef("q_fs_weights",
      { (s, dir) =>
        val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"),
          col("c_nationkey"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("bal_bucket"))
        val ids = c.select(col("c_custkey").cast("long").as("id"))
        val pairs = ids.as("x")
          .join(ids.as("y"),
            floor(col("x.id") / 64.0) === floor(col("y.id") / 64.0) &&
              col("x.id") < col("y.id"))
          .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
        FuzzyJoin.fellegiSunter(c, "c_custkey", pairs,
            Seq("c_mktsegment", "c_nationkey", "bal_bucket"))
          .select(col("id_a"), col("id_b"), col("n_agree"),
            graft.functions.Portable.r6(col("weight")).as("weight"))
      },
      Some("""WITH c AS (SELECT c_custkey AS id, c_mktsegment AS f1, c_nationkey AS f2,
          |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS f3
          |  FROM customer WHERE c_custkey IS NOT NULL),
          |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM c),
          |u1 AS (SELECT CAST(coalesce(sum(CAST(k AS DECIMAL(38,0)) * k), 0) AS DOUBLE) AS s2
          |  FROM (SELECT count(*) AS k FROM c WHERE f1 IS NOT NULL GROUP BY f1)),
          |u2 AS (SELECT CAST(coalesce(sum(CAST(k AS DECIMAL(38,0)) * k), 0) AS DOUBLE) AS s2
          |  FROM (SELECT count(*) AS k FROM c WHERE f2 IS NOT NULL GROUP BY f2)),
          |u3 AS (SELECT CAST(coalesce(sum(CAST(k AS DECIMAL(38,0)) * k), 0) AS DOUBLE) AS s2
          |  FROM (SELECT count(*) AS k FROM c WHERE f3 IS NOT NULL GROUP BY f3)),
          |p AS (SELECT x.id AS id_a, y.id AS id_b FROM c x JOIN c y
          |  ON floor(CAST(x.id AS DOUBLE) / 64.0) = floor(CAST(y.id AS DOUBLE) / 64.0) AND x.id < y.id),
          |j AS (SELECT p.id_a, p.id_b,
          |    a.f1 AS a1, a.f2 AS a2, a.f3 AS a3, b.f1 AS b1, b.f2 AS b2, b.f3 AS b3
          |  FROM p JOIN c a ON a.id = p.id_a JOIN c b ON b.id = p.id_b)
          |SELECT id_a, id_b,
          |  CAST((CASE WHEN a1 IS NOT NULL AND b1 IS NOT NULL AND a1 = b1 THEN 1 ELSE 0 END)
          |    + (CASE WHEN a2 IS NOT NULL AND b2 IS NOT NULL AND a2 = b2 THEN 1 ELSE 0 END)
          |    + (CASE WHEN a3 IS NOT NULL AND b3 IS NOT NULL AND a3 = b3 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
          |  floor((
          |    (CASE WHEN a1 IS NULL OR b1 IS NULL THEN 0.0
          |      WHEN a1 = b1 THEN ln(0.9 / (u1.s2 / (n * n))) / ln(2.0)
          |      ELSE ln((1.0 - 0.9) / (1.0 - u1.s2 / (n * n))) / ln(2.0) END)
          |    + (CASE WHEN a2 IS NULL OR b2 IS NULL THEN 0.0
          |      WHEN a2 = b2 THEN ln(0.9 / (u2.s2 / (n * n))) / ln(2.0)
          |      ELSE ln((1.0 - 0.9) / (1.0 - u2.s2 / (n * n))) / ln(2.0) END)
          |    + (CASE WHEN a3 IS NULL OR b3 IS NULL THEN 0.0
          |      WHEN a3 = b3 THEN ln(0.9 / (u3.s2 / (n * n))) / ln(2.0)
          |      ELSE ln((1.0 - 0.9) / (1.0 - u3.s2 / (n * n))) / ln(2.0) END)
          |  ) * 1000000 + 0.5) / 1000000 AS weight
          |FROM j, nn, u1, u2, u3""".stripMargin)),

    // journey predictability: entropy rate of the first-order chain
    QueryDef("q_entropy_rate",
      (s, dir) =>
        Transitions.entropyRate(ev(s, dir), "user_id", "ts", "event_type", "event_id"),
      Some(s"""WITH sq AS (SELECT event_type AS prev,
           |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS nxt
           |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
           |pc AS (SELECT prev, nxt, count(*) AS n FROM sq WHERE nxt IS NOT NULL GROUP BY 1, 2),
           |rt AS (SELECT prev, CAST(sum(n) AS BIGINT) AS nt FROM pc GROUP BY 1),
           |tm AS (SELECT pc.prev, pc.n,
           |    ${r6(s"-${r6("CAST(pc.n AS DOUBLE) / CAST(rt.nt AS DOUBLE)")} * ln(${r6("CAST(pc.n AS DOUBLE) / CAST(rt.nt AS DOUBLE)")})")} AS term
           |  FROM pc JOIN rt USING (prev)),
           |ps AS (SELECT prev, CAST(sum(n) AS BIGINT) AS ns, ${dsum("term")} AS h FROM tm GROUP BY 1),
           |tt AS (SELECT CAST(coalesce(sum(ns), 0) AS BIGINT) AS nt FROM ps),
           |er AS (SELECT count(*) AS n_states,
           |    CAST(coalesce(sum(ps.ns), 0) AS BIGINT) AS n_transitions,
           |    ${r6(s"coalesce(${dsum(r6("CAST(ps.ns AS DOUBLE) / CAST(tt.nt AS DOUBLE) * ps.h"))}, 0.0)")} AS entropy_rate
           |  FROM ps, tt)
           |SELECT n_states, n_transitions, entropy_rate,
           |  CASE WHEN n_states > 0 THEN ${r6("ln(CAST(n_states AS DOUBLE))")} END AS max_entropy,
           |  CASE WHEN n_states > 0 AND ${r6("ln(CAST(n_states AS DOUBLE))")} > 0 THEN
           |    ${r6(s"1.0 - entropy_rate / (${r6("ln(CAST(n_states AS DOUBLE))")})")}
           |  END AS predictability
           |FROM er""".stripMargin)),

    // consecutive 2/3-step event-sequence motifs with per-user support
    QueryDef("q_seq_patterns",
      (s, dir) =>
        Sequences.sequentialPatterns(ev(s, dir), "user_id", "ts", "event_type",
          "event_id", minSupport = 5L),
      Some("""WITH b AS (SELECT user_id AS u, event_type AS a,
          |    lead(event_type, 1) OVER w AS b2, lead(event_type, 2) OVER w AS c
          |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          |p AS (SELECT u, 2 AS len, a || '>' || b2 AS pattern FROM b WHERE b2 IS NOT NULL
          |      UNION ALL
          |      SELECT u, 3, a || '>' || b2 || '>' || c FROM b WHERE c IS NOT NULL)
          |SELECT pattern, CAST(len AS BIGINT) AS len,
          |  CAST(count(DISTINCT u) AS BIGINT) AS n_users,
          |  CAST(count(*) AS BIGINT) AS n_occurrences
          |FROM p GROUP BY 1, 2 HAVING count(DISTINCT u) >= 5""".stripMargin)),

    // growth accounting: every active (user, week) is new/retained/
    // resurrected, silences churn into the next week; quick ratio
    QueryDef("q_growth",
      (s, dir) =>
        Retention.growthAccounting(ev(s, dir), "user_id", "ts", WeekUs),
      Some(s"""WITH a AS (SELECT DISTINCT user_id AS u, epoch_us(ts) // $WeekUs AS p
           |  FROM events WHERE ts IS NOT NULL),
           |c AS (SELECT u, p, min(p) OVER (PARTITION BY u) AS f,
           |    lag(p) OVER (PARTITION BY u ORDER BY p) AS pv,
           |    lead(p) OVER (PARTITION BY u ORDER BY p) AS nx FROM a),
           |st AS (SELECT p, CASE WHEN p = f THEN 'new'
           |                     WHEN pv = p - 1 THEN 'retained'
           |                     ELSE 'resurrected' END AS s FROM c
           |  UNION ALL
           |  SELECT c.p + 1, 'churned' FROM c, (SELECT max(p) AS mp FROM a) m
           |  WHERE (c.nx IS NULL OR c.nx > c.p + 1) AND c.p + 1 <= m.mp)
           |SELECT p AS period,
           |  CAST(count(CASE WHEN s <> 'churned' THEN 1 END) AS BIGINT) AS n_active,
           |  CAST(count(CASE WHEN s = 'new' THEN 1 END) AS BIGINT) AS n_new,
           |  CAST(count(CASE WHEN s = 'retained' THEN 1 END) AS BIGINT) AS n_retained,
           |  CAST(count(CASE WHEN s = 'resurrected' THEN 1 END) AS BIGINT) AS n_resurrected,
           |  CAST(count(CASE WHEN s = 'churned' THEN 1 END) AS BIGINT) AS n_churned,
           |  CASE WHEN count(CASE WHEN s = 'churned' THEN 1 END) > 0 THEN
           |    ${r6("CAST(count(CASE WHEN s = 'new' THEN 1 END) + count(CASE WHEN s = 'resurrected' THEN 1 END) AS DOUBLE) / CAST(count(CASE WHEN s = 'churned' THEN 1 END) AS DOUBLE)")}
           |  END AS quick_ratio
           |FROM st GROUP BY 1""".stripMargin)),

    // as-of join, nearest direction: each event tagged with the CLOSEST
    // purchase either side (ties backward) — same single exchange as
    // q_asof's backward scan
    QueryDef("q_asof_nearest",
      { (s, dir) =>
        val e = ev(s, dir)
        val purchases = e
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("value"))
        AsofJoin
          .asof(
            e.select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
            purchases,
            on = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "ts",
            rightCols = Seq("value"), direction = AsofJoin.Nearest,
            rightPrefix = "purchase_")
          .select(
            col("event_id"), col("user_id"), unix_micros(col("ts")).as("time_us"), col("event_type"),
            unix_micros(col("purchase_ts")).as("purchase_time_us"),
            col("purchase_value").as("purchase_value"))
      },
      Some("""WITH p AS (SELECT user_id, ts, max(value) AS value
          |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1, 2)
          |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS time_us, e.event_type,
          |  CASE WHEN pb.ts IS NOT NULL AND (pf.ts IS NULL OR
          |      epoch_us(e.ts) - epoch_us(pb.ts) <= epoch_us(pf.ts) - epoch_us(e.ts))
          |    THEN epoch_us(pb.ts) ELSE epoch_us(pf.ts) END AS purchase_time_us,
          |  CASE WHEN pb.ts IS NOT NULL AND (pf.ts IS NULL OR
          |      epoch_us(e.ts) - epoch_us(pb.ts) <= epoch_us(pf.ts) - epoch_us(e.ts))
          |    THEN pb.value ELSE pf.value END AS purchase_value
          |FROM events e
          |ASOF LEFT JOIN p pb ON e.user_id = pb.user_id AND e.ts >= pb.ts
          |ASOF LEFT JOIN p pf ON e.user_id = pf.user_id AND e.ts <= pf.ts""".stripMargin)),

    // blocking-quality audit: what does q_sorted_blocking's +/-2 window
    // lose vs the exact within-block pair set (PC), and what does it
    // save (RR)
    QueryDef("q_blocking_eval",
      (s, dir) =>
        FuzzyJoin.blockingQuality(Tables.part(s, dir), "p_name",
          maxDist = 4, windowSize = 3),
      Some(s"""WITH base AS (SELECT DISTINCT lower(p_name) AS name FROM part
           |  WHERE p_name IS NOT NULL AND lower(p_name) <> ''),
           |rk AS (SELECT name, substr(name, 1, 2) AS block,
           |    row_number() OVER (PARTITION BY substr(name, 1, 2) ORDER BY name) AS rnk
           |  FROM base),
           |sz AS (SELECT block, count(*) AS bs FROM rk GROUP BY 1),
           |gold AS (SELECT a.name AS a_name, b.name AS b_name FROM rk a JOIN rk b
           |  ON a.block = b.block AND a.rnk < b.rnk
           |  WHERE levenshtein(a.name, b.name) <= 4),
           |cand AS (SELECT a.name AS a_name, b.name AS b_name
           |  FROM rk a, (SELECT unnest([1, 2]) AS off) o, rk b
           |  WHERE b.block = a.block AND b.rnk = a.rnk + o.off
           |    AND levenshtein(a.name, b.name) <= 4),
           |cov AS (SELECT count(*) AS n_covered FROM gold
           |  WHERE EXISTS (SELECT 1 FROM cand WHERE cand.a_name = gold.a_name AND cand.b_name = gold.b_name)),
           |cnt AS (SELECT CAST(sum(bs) AS BIGINT) AS n_names, CAST(count(*) AS BIGINT) AS n_blocks,
           |    CAST(sum(bs * (bs - 1) // 2) AS BIGINT) AS n_block_pairs,
           |    CAST(sum(CASE WHEN bs <= 3 THEN bs * (bs - 1) // 2 ELSE 2 * bs - 3 END) AS BIGINT) AS n_candidates
           |  FROM sz),
           |g AS (SELECT CAST(count(*) AS BIGINT) AS n_gold FROM gold)
           |SELECT n_names, n_blocks, n_block_pairs, n_candidates, n_gold,
           |  CAST(n_covered AS BIGINT) AS n_covered,
           |  CASE WHEN n_gold > 0 THEN ${r6("CAST(n_covered AS DOUBLE) / CAST(n_gold AS DOUBLE)")} END AS pair_completeness,
           |  CASE WHEN n_block_pairs > 0 THEN ${r6("1.0 - CAST(n_candidates AS DOUBLE) / CAST(n_block_pairs AS DOUBLE)")} END AS reduction_ratio
           |FROM cnt, g, cov""".stripMargin)),

    // as-of join, forward direction: next purchase at-or-after each
    // event (the already-implemented third direction, oracle-paired)
    QueryDef("q_asof_forward",
      { (s, dir) =>
        val e = ev(s, dir)
        val purchases = e
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), col("ts"))
          .agg(max(col("value")).as("value"))
        AsofJoin
          .asof(
            e.select(col("event_id"), col("user_id"), col("ts"), col("event_type")),
            purchases,
            on = Seq("user_id"), leftTimeCol = "ts", rightTimeCol = "ts",
            rightCols = Seq("value"), direction = AsofJoin.Forward,
            rightPrefix = "purchase_")
          .select(
            col("event_id"), col("user_id"), unix_micros(col("ts")).as("time_us"), col("event_type"),
            unix_micros(col("purchase_ts")).as("purchase_time_us"),
            col("purchase_value").as("purchase_value"))
      },
      Some("""WITH p AS (SELECT user_id, ts, max(value) AS purchase_value
          |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL GROUP BY 1, 2)
          |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS time_us, e.event_type,
          |  epoch_us(p.ts) AS purchase_time_us, p.purchase_value
          |FROM events e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts <= p.ts""".stripMargin)),

    // DAU / trailing-7-day actives / stickiness per day
    QueryDef("q_dau_wau",
      (s, dir) =>
        Retention.rollingActives(ev(s, dir), "user_id", "ts"),
      Some(s"""WITH a AS (SELECT DISTINCT user_id AS key, epoch_us(ts) // 86400000000 AS day
           |  FROM events WHERE ts IS NOT NULL),
           |d AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM a GROUP BY 1),
           |c AS (SELECT DISTINCT key, day + o AS wday FROM a, (SELECT unnest(range(0, 7)) AS o)),
           |w AS (SELECT wday, CAST(count(*) AS BIGINT) AS wau FROM c GROUP BY 1)
           |SELECT d.day, d.dau, w.wau,
           |  ${r6("CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE)")} AS stickiness
           |FROM d JOIN w ON w.wday = d.day""".stripMargin)),

    // cohort LTV: cumulative value per cohort member by cohort age
    QueryDef("q_ltv",
      (s, dir) =>
        Retention.ltvCurve(ev(s, dir), "user_id", "ts", "value"),
      Some(s"""WITH b AS (SELECT user_id AS u, epoch_us(date_trunc('week', ts)) AS wk,
           |    coalesce(CAST(value AS DOUBLE), 0.0) AS v
           |  FROM events WHERE ts IS NOT NULL),
           |bf AS (SELECT * FROM b WHERE NOT isnan(v)),
           |coh AS (SELECT u, min(wk) AS cw FROM bf GROUP BY 1),
           |sz AS (SELECT cw, CAST(count(*) AS BIGINT) AS n_users FROM coh GROUP BY 1),
           |cells AS (SELECT coh.cw, (bf.wk - coh.cw) // 604800000000 AS age_weeks,
           |    CAST(count(DISTINCT bf.u) AS BIGINT) AS n_active,
           |    CAST(coalesce(sum(CAST(${r6("v")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS rev
           |  FROM bf JOIN coh USING (u) GROUP BY 1, 2),
           |cum AS (SELECT cw, age_weeks, n_active, rev,
           |    CAST(sum(CAST(rev AS DECIMAL(38,6))) OVER (PARTITION BY cw ORDER BY age_weeks
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS crev
           |  FROM cells)
           |SELECT cw AS cohort_week, CAST(age_weeks AS BIGINT) AS age_weeks, n_users,
           |  n_active, ${r6("rev")} AS revenue,
           |  CASE WHEN n_users > 0 THEN ${r6("crev / CAST(n_users AS DOUBLE)")} END AS cum_revenue_per_user
           |FROM cum JOIN sz USING (cw)""".stripMargin)),

    // trailing 5-row rolling median of event values per user
    QueryDef("q_roll_median",
      (s, dir) =>
        Rolling.rollingMedian(
          ev(s, dir).withColumn("t", unix_micros(col("ts"))),
          Seq("user_id"), "t", "event_id", "value", k = 5)
          .select(col("user_id"), col("t"), col("v"), col("n_window"),
            col("roll_median")),
      Some(s"""WITH b AS (SELECT user_id, epoch_us(ts) AS t, event_id, CAST(value AS DOUBLE) AS v
           |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
           |w AS (SELECT user_id, t, v,
           |    list_sort(list(v) OVER (PARTITION BY user_id ORDER BY t, event_id
           |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS win
           |  FROM b)
           |SELECT user_id, t, v, CAST(len(win) AS BIGINT) AS n_window,
           |  ${r6("(win[(len(win) + 1) // 2] + win[len(win) // 2 + 1]) / 2.0")} AS roll_median
           |FROM w""".stripMargin)),

    // Hilbert layout index over the same 2-D key as q_zorder
    QueryDef("q_hilbert",
      (s, dir) =>
        docs(s, dir).select(col("doc_id"),
          graft.operators.ZOrder.hilbertValue(
            pmod(col("doc_id"), lit(1024L)),
            pmod(col("n_chars"), lit(1024L)), bits = 10).as("h")),
      Some("""WITH b AS (SELECT doc_id, doc_id % 1024 AS x, n_chars % 1024 AS y FROM documents)
          |SELECT doc_id,
          |  list_reduce(
          |    list_prepend([CAST(0 AS BIGINT), x, y],
          |      list_transform(range(0, 10), i -> [9 - i, CAST(0 AS BIGINT), CAST(0 AS BIGINT)])),
          |    (acc, lv) -> [
          |      acc[1] + CAST(pow(2, lv[1]) AS BIGINT) * CAST(pow(2, lv[1]) AS BIGINT) *
          |        xor(3 * (CASE WHEN (acc[2] & CAST(pow(2, lv[1]) AS BIGINT)) > 0 THEN 1 ELSE 0 END),
          |            (CASE WHEN (acc[3] & CAST(pow(2, lv[1]) AS BIGINT)) > 0 THEN 1 ELSE 0 END)),
          |      CASE WHEN (acc[3] & CAST(pow(2, lv[1]) AS BIGINT)) > 0 THEN acc[2]
          |           WHEN (acc[2] & CAST(pow(2, lv[1]) AS BIGINT)) > 0
          |             THEN CAST(pow(2, lv[1]) AS BIGINT) - 1 - acc[3]
          |           ELSE acc[3] END,
          |      CASE WHEN (acc[3] & CAST(pow(2, lv[1]) AS BIGINT)) > 0 THEN acc[3]
          |           WHEN (acc[2] & CAST(pow(2, lv[1]) AS BIGINT)) > 0
          |             THEN CAST(pow(2, lv[1]) AS BIGINT) - 1 - acc[2]
          |           ELSE acc[2] END
          |    ])[1] AS h
          |FROM b""".stripMargin)),

    // JSON field health of events.props' $.k per event type
    QueryDef("q_json_health",
      (s, dir) =>
        graft.operators.Json.fieldHealth(ev(s, dir), Seq("event_type"),
          "props", "$.k"),
      Some(s"""WITH f AS (SELECT event_type, props,
           |    CASE WHEN props IS NOT NULL AND json_valid(props)
           |      THEN try_cast(json_extract_string(props, '$$.k') AS DOUBLE) END AS v
           |  FROM events),
           |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |    CAST(count(CASE WHEN props IS NULL THEN 1 END) AS BIGINT) AS n_null_payload,
           |    CAST(count(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN 1 END) AS BIGINT) AS n_field,
           |    CAST(coalesce(sum(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN CAST(${r6("v")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS s,
           |    min(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN v END) AS mn,
           |    max(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN v END) AS mx
           |  FROM f GROUP BY 1)
           |SELECT event_type, n, n_null_payload, n_field,
           |  CASE WHEN n > 0 THEN ${r6("CAST(n_field AS DOUBLE) / CAST(n AS DOUBLE)")} END AS present_rate,
           |  CASE WHEN n_field > 0 THEN ${r6("s / CAST(n_field AS DOUBLE)")} END AS field_mean,
           |  ${r6("mn")} AS field_min, ${r6("mx")} AS field_max
           |FROM g""".stripMargin)),

    // Markov next-event backtest: fit argmax transitions on even
    // users, score top-1 accuracy on odd users
    QueryDef("q_markov_eval",
      (s, dir) =>
        Transitions.markovBacktest(ev(s, dir), "user_id", "ts",
          "event_type", "event_id", pmod(col("user_id"), lit(2)) === 0),
      Some(s"""WITH bg AS (SELECT event_type AS prev,
           |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS next,
           |    user_id % 2 = 0 AS tr
           |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
           |b AS (SELECT prev, next, tr FROM bg WHERE next IS NOT NULL),
           |tc AS (SELECT prev, next, CAST(count(*) AS BIGINT) AS n FROM b WHERE tr GROUP BY 1, 2),
           |model AS (SELECT prev, next AS predicted FROM (
           |    SELECT prev, next, row_number() OVER (PARTITION BY prev ORDER BY n DESC, next ASC) AS r FROM tc)
           |  WHERE r = 1),
           |tt AS (SELECT prev, CAST(sum(n) AS BIGINT) AS n_train FROM tc GROUP BY 1),
           |te AS (SELECT prev, next, CAST(count(*) AS BIGINT) AS nt FROM b WHERE NOT tr GROUP BY 1, 2),
           |tes AS (SELECT prev, CAST(sum(nt) AS BIGINT) AS n_test FROM te GROUP BY 1)
           |SELECT model.prev, model.predicted, tt.n_train,
           |  coalesce(tes.n_test, 0) AS n_test,
           |  coalesce(te.nt, 0) AS n_correct,
           |  CASE WHEN coalesce(tes.n_test, 0) > 0
           |    THEN ${r6("CAST(coalesce(te.nt, 0) AS DOUBLE) / CAST(tes.n_test AS DOUBLE)")} END AS accuracy
           |FROM model JOIN tt USING (prev)
           |LEFT JOIN tes USING (prev)
           |LEFT JOIN te ON te.prev = model.prev AND te.next = model.predicted""".stripMargin)),

    // strict local maxima of per-user event values, >= 20 above the
    // trailing 5-row median baseline
    QueryDef("q_peaks",
      (s, dir) =>
        Rolling.detectPeaks(
          ev(s, dir).withColumn("tu", unix_micros(col("ts"))),
          Seq("user_id"), "tu", "event_id", "value", k = 5, minProminence = 20.0),
      Some(s"""WITH b AS (SELECT user_id, epoch_us(ts) AS t, event_id, CAST(value AS DOUBLE) AS v
           |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
           |w AS (SELECT user_id, t, v,
           |    list_sort(list(v) OVER (PARTITION BY user_id ORDER BY t, event_id
           |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS win,
           |    lag(v) OVER (PARTITION BY user_id ORDER BY t, event_id) AS pv,
           |    lead(v) OVER (PARTITION BY user_id ORDER BY t, event_id) AS nv
           |  FROM b),
           |med AS (SELECT user_id, t, v, pv, nv,
           |    (win[(len(win) + 1) // 2] + win[len(win) // 2 + 1]) / 2.0 AS bl
           |  FROM w)
           |SELECT user_id, t, v, ${r6("bl")} AS baseline, ${r6("v - bl")} AS prominence
           |FROM med
           |WHERE pv IS NOT NULL AND nv IS NOT NULL AND v > pv AND v > nv AND v - bl >= 20.0""".stripMargin))
  )
}
