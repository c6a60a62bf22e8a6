package graft
package registry

import graft.operators._
import graft.sources.Tables
import graft.text.TextFunctions
import org.apache.spark.sql.functions._

/** Statistics: descriptive and robust estimators, correlation and
  * association, hypothesis tests, multiple-testing control, agreement and
  * resampling.
  */
object StatisticsQueries {
  import Shared._

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_psi",
      (s, dir) =>
        Stats
          .psi(ev(s, dir), Seq("event_type"), "value", isRef = col("event_id") % 2 === 0)
          .select(col("event_type"), graft.functions.Portable.r6(col("psi")).as("psi")),
      Some("""WITH f AS (SELECT event_type, CAST(value AS DOUBLE) AS v, (event_id % 2 = 0) AS ref
          |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
          |r AS (SELECT event_type, min(v) AS lo, max(v) AS hi FROM f GROUP BY 1),
          |b AS (SELECT f.event_type, ref,
          |    CASE WHEN r.hi = r.lo THEN 0
          |         ELSE CAST(least(floor((v - r.lo) / ((r.hi - r.lo)/10.0)), 9.0) AS INT) END AS bin
          |  FROM f JOIN r ON f.event_type = r.event_type),
          |c AS (SELECT event_type, ref, bin, count(*) AS n FROM b GROUP BY 1,2,3),
          |tt AS (SELECT event_type, ref, sum(n) AS tot FROM c GROUP BY 1,2),
          |grid AS (SELECT event_type, CAST(range AS INT) AS bin
          |  FROM (SELECT DISTINCT event_type FROM c) CROSS JOIN range(10)),
          |j AS (SELECT grid.event_type,
          |    (CAST(COALESCE(cr.n,0) AS DOUBLE)+0.5)/(CAST(COALESCE(tr.tot,0) AS DOUBLE)+5.0) AS p,
          |    (CAST(COALESCE(cc.n,0) AS DOUBLE)+0.5)/(CAST(COALESCE(tc.tot,0) AS DOUBLE)+5.0) AS q
          |  FROM grid
          |  LEFT JOIN c cr ON cr.event_type = grid.event_type AND cr.bin = grid.bin AND cr.ref
          |  LEFT JOIN c cc ON cc.event_type = grid.event_type AND cc.bin = grid.bin AND NOT cc.ref
          |  LEFT JOIN tt tr ON tr.event_type = grid.event_type AND tr.ref
          |  LEFT JOIN tt tc ON tc.event_type = grid.event_type AND NOT tc.ref)
          |SELECT event_type,
          |  floor(CAST(sum(CAST((p - q) * ln(p / q) AS DECIMAL(38,12))) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS psi
          |FROM j GROUP BY 1""".stripMargin)),

    // Welch two-sample z-test between a deterministic md5 A/B user split
    QueryDef("q_ab_test",
      { (s, dir) =>
        val arm = TextFunctions.md5Hash32(
          concat(lit("ab:"), col("user_id").cast("string"))) % 2 === 1
        Stats
          .welchTest(ev(s, dir).withColumn("__b", arm), Seq("event_type"), "value", col("__b"))
          .select(col("event_type"), col("n_a"), col("n_b"),
            graft.functions.Portable.r6(col("mean_a")).as("mean_a"),
            graft.functions.Portable.r6(col("mean_b")).as("mean_b"),
            graft.functions.Portable.r6(col("delta")).as("delta"),
            graft.functions.Portable.r6(col("se")).as("se"),
            graft.functions.Portable.r6(col("z")).as("z"))
      },
      Some(s"""WITH e AS (SELECT event_type, value,
           |    coalesce(${h32("'ab:' || CAST(user_id AS VARCHAR)")} % 2 = 1, false) AS b
           |  FROM events),
           |m AS (SELECT event_type,
           |    count(CASE WHEN $P AND NOT b THEN 1 END) AS n_a,
           |    count(CASE WHEN $P AND b THEN 1 END) AS n_b,
           |    CAST(coalesce(sum(CASE WHEN $P AND NOT b THEN CAST(value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS sa,
           |    CAST(coalesce(sum(CASE WHEN $P AND b THEN CAST(value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS sb,
           |    CAST(coalesce(sum(CASE WHEN $P AND NOT b THEN CAST(value*value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS sa2,
           |    CAST(coalesce(sum(CASE WHEN $P AND b THEN CAST(value*value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS sb2
           |  FROM e GROUP BY 1),
           |d AS (SELECT event_type, n_a, n_b,
           |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb, sa, sb, sa2, sb2,
           |    CASE WHEN n_a >= 2 AND n_b >= 2 THEN
           |      sqrt(greatest(sa2 / CAST(n_a AS DOUBLE) - (sa / CAST(n_a AS DOUBLE)) * (sa / CAST(n_a AS DOUBLE)), 0.0) * CAST(n_a AS DOUBLE) / (CAST(n_a AS DOUBLE) - 1.0) / CAST(n_a AS DOUBLE)
           |         + greatest(sb2 / CAST(n_b AS DOUBLE) - (sb / CAST(n_b AS DOUBLE)) * (sb / CAST(n_b AS DOUBLE)), 0.0) * CAST(n_b AS DOUBLE) / (CAST(n_b AS DOUBLE) - 1.0) / CAST(n_b AS DOUBLE))
           |    END AS se0
           |  FROM m)
           |SELECT event_type, n_a, n_b,
           |  CASE WHEN n_a > 0 THEN ${graft.functions.Portable.r6Sql("sa / na")} END AS mean_a,
           |  CASE WHEN n_b > 0 THEN ${graft.functions.Portable.r6Sql("sb / nb")} END AS mean_b,
           |  CASE WHEN n_a > 0 AND n_b > 0 THEN ${graft.functions.Portable.r6Sql("sb / nb - sa / na")} END AS delta,
           |  CASE WHEN se0 IS NOT NULL THEN ${graft.functions.Portable.r6Sql("se0")} END AS se,
           |  CASE WHEN se0 > 0 THEN ${graft.functions.Portable.r6Sql("(sb / nb - sa / na) / se0")} END AS z
           |FROM d""".stripMargin)),

    // Benford first-digit audit over event values
    QueryDef("q_benford",
      (s, dir) =>
        Benford.firstDigitAudit(ev(s, dir), Seq("event_type"), "value")
          .select(col("event_type"), col("digit"), col("n"),
            graft.functions.Portable.r6(col("obs_frac")).as("obs_frac"),
            graft.functions.Portable.r6(col("exp_frac")).as("exp_frac"),
            graft.functions.Portable.r6(col("chi2")).as("chi2")),
      Some(s"""WITH f AS (SELECT event_type,
           |    CAST(substr(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
           |  FROM events WHERE value IS NOT NULL AND NOT isnan(value) AND value >= 1 AND value < 1e18),
           |c AS (SELECT event_type, digit, count(*) AS n FROM f GROUP BY 1, 2),
           |grid AS (SELECT event_type, unnest(range(1, 10)) AS digit FROM (SELECT DISTINCT event_type FROM c)),
           |fu AS (SELECT grid.event_type, CAST(grid.digit AS INTEGER) AS digit, CAST(coalesce(n, 0) AS BIGINT) AS n
           |  FROM grid LEFT JOIN c ON grid.event_type = c.event_type AND grid.digit = c.digit),
           |t AS (SELECT *, sum(n) OVER (PARTITION BY event_type) AS total,
           |    ln(CAST(1 AS DOUBLE) + CAST(1 AS DOUBLE)/CAST(digit AS DOUBLE)) / ln(CAST(10 AS DOUBLE)) AS ef
           |  FROM fu),
           |h AS (SELECT *, ${graft.functions.Portable.r6Sql(
                "(CAST(n AS DOUBLE) - ef * CAST(total AS DOUBLE)) * (CAST(n AS DOUBLE) - ef * CAST(total AS DOUBLE)) / (ef * CAST(total AS DOUBLE))")} AS term FROM t)
           |SELECT event_type, digit, n,
           |  ${graft.functions.Portable.r6Sql("CAST(n AS DOUBLE) / CAST(total AS DOUBLE)")} AS obs_frac,
           |  ${graft.functions.Portable.r6Sql("ef")} AS exp_frac,
           |  ${graft.functions.Portable.r6Sql(
                "CAST(sum(CAST(term AS DECIMAL(38,6))) OVER (PARTITION BY event_type) AS DOUBLE)")} AS chi2
           |FROM h""".stripMargin)),

    // per-(returnflag, linestatus) Pearson correlation of quantity vs
    // extendedprice from one scan (exact decimal moment sums)
    QueryDef("q_corr",
      (s, dir) =>
        Stats
          .groupedCorrelation(Tables.lineitem(s, dir),
            Seq("l_returnflag", "l_linestatus"), "l_quantity", "l_extendedprice")
          .select(col("l_returnflag"), col("l_linestatus"), col("n"),
            graft.functions.Portable.r6(col("corr")).as("corr")),
      Some("""WITH m AS (SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  CAST(coalesce(sum(CAST(l_quantity AS DECIMAL(38,6))), 0) AS DOUBLE) AS sx,
          |  CAST(coalesce(sum(CAST(l_extendedprice AS DECIMAL(38,6))), 0) AS DOUBLE) AS sy,
          |  CAST(coalesce(sum(CAST(l_quantity * l_extendedprice AS DECIMAL(38,6))), 0) AS DOUBLE) AS sxy,
          |  CAST(coalesce(sum(CAST(l_quantity * l_quantity AS DECIMAL(38,6))), 0) AS DOUBLE) AS sxx,
          |  CAST(coalesce(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))), 0) AS DOUBLE) AS syy
          |  FROM lineitem GROUP BY 1, 2)
          |SELECT l_returnflag, l_linestatus, n,
          |  floor(((CAST(n AS DOUBLE) * sxy - sx * sy) /
          |    nullif(sqrt(greatest((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy), 0.0)), 0.0))
          |    * 1000000 + 0.5) / 1000000 AS corr
          |FROM m""".stripMargin)),

    // per-event-type value-over-time trend (OLS slope/intercept); x is
    // days since epoch, centered to keep the double magnitudes tame
    QueryDef("q_linreg",
      (s, dir) =>
        Stats
          .groupedLinReg(
            ev(s, dir)
              .filter(col("ts").isNotNull)
              .withColumn("x",
                unix_micros(col("ts")).cast("double") / lit(86400000000.0) - lit(19700.0)),
            Seq("event_type"), "x", "value")
          .select(col("event_type"), col("n"),
            graft.functions.Portable.r6(col("slope")).as("slope"),
            graft.functions.Portable.r6(col("intercept")).as("intercept")),
      Some("""WITH v AS (SELECT event_type,
          |  CAST(epoch_us(ts) AS DOUBLE) / 86400000000.0 - 19700.0 AS x, value AS y
          |  FROM events WHERE ts IS NOT NULL),
          |m AS (SELECT event_type,
          |  count(CASE WHEN y IS NOT NULL AND NOT isnan(y) THEN 1 END) AS n,
          |  CAST(coalesce(sum(CASE WHEN y IS NOT NULL AND NOT isnan(y) THEN CAST(x AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sx,
          |  CAST(coalesce(sum(CASE WHEN y IS NOT NULL AND NOT isnan(y) THEN CAST(y AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sy,
          |  CAST(coalesce(sum(CASE WHEN y IS NOT NULL AND NOT isnan(y) THEN CAST(x * y AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sxy,
          |  CAST(coalesce(sum(CASE WHEN y IS NOT NULL AND NOT isnan(y) THEN CAST(x * x AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sxx
          |  FROM v GROUP BY 1)
          |SELECT event_type, n,
          |  floor(((CAST(n AS DOUBLE) * sxy - sx * sy) / nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0)) * 1000000 + 0.5) / 1000000 AS slope,
          |  floor(((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / nullif(CAST(n AS DOUBLE) * sxx - sx * sx, 0.0)) * sx) / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS intercept
          |FROM m""".stripMargin)),

    // association rules over (user, event_type) co-occurrence
    QueryDef("q_assoc",
      (s, dir) =>
        Assoc.rules(ev(s, dir), "user_id", "event_type", 5L)
          .select(col("ante"), col("cons"), col("n_both"),
            graft.functions.Portable.r6(col("support")).as("support"),
            graft.functions.Portable.r6(col("confidence")).as("confidence"),
            graft.functions.Portable.r6(col("lift")).as("lift")),
      Some("""WITH d AS (SELECT DISTINCT user_id AS e, event_type AS i FROM events WHERE event_type IS NOT NULL),
          |n AS (SELECT count(DISTINCT e) AS nu FROM d),
          |s AS (SELECT i, count(*) AS n1 FROM d GROUP BY 1),
          |p AS (SELECT a.i AS a, b.i AS b, count(*) AS n_both
          |      FROM d a JOIN d b ON a.e = b.e AND a.i < b.i GROUP BY 1, 2 HAVING count(*) >= 5),
          |r AS (SELECT a AS ante, b AS cons, n_both FROM p UNION ALL SELECT b, a, n_both FROM p)
          |SELECT ante, cons, n_both,
          |  floor((CAST(n_both AS DOUBLE) / CAST(nu AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS support,
          |  floor((CAST(n_both AS DOUBLE) / CAST(sa.n1 AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS confidence,
          |  floor((CAST(n_both AS DOUBLE) * CAST(nu AS DOUBLE) / (CAST(sa.n1 AS DOUBLE) * CAST(sc.n1 AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS lift
          |FROM r JOIN s sa ON sa.i = r.ante JOIN s sc ON sc.i = r.cons, n""".stripMargin)),

    // per-event-type percentile rank of value (portable percent_rank)
    QueryDef("q_pct_rank",
      (s, dir) =>
        Stats.percentileRank(ev(s, dir), Seq("event_type"), "value")
          .select(col("event_id"), col("event_type"), col("value"),
            graft.functions.Portable.r6(col("pct")).as("pct")),
      Some("""SELECT event_id, event_type, value,
          |  floor(percent_rank() OVER (PARTITION BY event_type ORDER BY value) * 1000000 + 0.5) / 1000000 AS pct
          |FROM events WHERE value IS NOT NULL AND NOT isnan(value)""".stripMargin)),

    // chi-square contingency: is lang independent of source?
    QueryDef("q_chi2",
      (s, dir) =>
        Stats.chiSquare(docs(s, dir), "lang", "source")
          .select(col("a").as("lang"), col("b").as("source"), col("observed"),
            graft.functions.Portable.r6(col("expected")).as("expected"),
            graft.functions.Portable.r6(col("chi2")).as("chi2")),
      Some("""WITH c AS (SELECT lang, source, count(*) AS obs FROM documents
          |  WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
          |ra AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS na FROM c GROUP BY 1),
          |rb AS (SELECT source, CAST(sum(obs) AS BIGINT) AS nb FROM c GROUP BY 1),
          |t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM c)
          |SELECT lang, source, observed,
          |  floor(e * 1000000 + 0.5) / 1000000 AS expected,
          |  floor(((CAST(observed AS DOUBLE) - e) * (CAST(observed AS DOUBLE) - e) / e) * 1000000 + 0.5) / 1000000 AS chi2
          |FROM (SELECT ra.lang, rb.source, CAST(coalesce(obs, 0) AS BIGINT) AS observed,
          |        CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(n AS DOUBLE) AS e
          |      FROM ra CROSS JOIN rb LEFT JOIN c ON c.lang = ra.lang AND c.source = rb.source, t)""".stripMargin)),

    // per-language Gini concentration of document sizes
    QueryDef("q_gini",
      (s, dir) =>
        Stats.gini(docs(s, dir), Seq("lang"), "n_chars")
          .select(col("lang"), col("n"),
            graft.functions.Portable.r6(col("gini")).as("gini")),
      Some("""WITH v AS (SELECT lang, CAST(n_chars AS DOUBLE) AS x,
          |  row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS i
          |  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0),
          |a AS (SELECT lang, count(*) AS n,
          |  CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS s,
          |  CAST(sum(CAST(i * x AS DECIMAL(38,6))) AS DOUBLE) AS si FROM v GROUP BY 1)
          |SELECT lang, n, CASE WHEN s > 0 THEN
          |  floor((2.0 * si / (CAST(n AS DOUBLE) * s) - CAST(n + 1 AS DOUBLE) / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000
          |END AS gini FROM a""".stripMargin)),

    // Spearman rank correlation (average ranks; contrast with q_corr)
    QueryDef("q_spearman",
      (s, dir) =>
        Stats
          .spearman(Tables.lineitem(s, dir),
            Seq("l_returnflag", "l_linestatus"), "l_quantity", "l_extendedprice")
          .select(col("l_returnflag"), col("l_linestatus"), col("n"),
            graft.functions.Portable.r6(col("rho")).as("rho")),
      Some("""WITH v AS (SELECT l_returnflag, l_linestatus,
          |    CAST(l_quantity AS DOUBLE) AS x, CAST(l_extendedprice AS DOUBLE) AS y
          |  FROM lineitem
          |  WHERE l_quantity IS NOT NULL AND NOT isnan(CAST(l_quantity AS DOUBLE))
          |    AND l_extendedprice IS NOT NULL AND NOT isnan(CAST(l_extendedprice AS DOUBLE))),
          |r AS (SELECT l_returnflag, l_linestatus,
          |    CAST(rank() OVER (PARTITION BY l_returnflag, l_linestatus ORDER BY x) AS DOUBLE)
          |      + CAST(count(*) OVER (PARTITION BY l_returnflag, l_linestatus, x) - 1 AS DOUBLE) / 2.0 AS rx,
          |    CAST(rank() OVER (PARTITION BY l_returnflag, l_linestatus ORDER BY y) AS DOUBLE)
          |      + CAST(count(*) OVER (PARTITION BY l_returnflag, l_linestatus, y) - 1 AS DOUBLE) / 2.0 AS ry
          |  FROM v),
          |m AS (SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  CAST(coalesce(sum(CAST(rx AS DECIMAL(38,6))), 0) AS DOUBLE) AS sx,
          |  CAST(coalesce(sum(CAST(ry AS DECIMAL(38,6))), 0) AS DOUBLE) AS sy,
          |  CAST(coalesce(sum(CAST(rx * ry AS DECIMAL(38,6))), 0) AS DOUBLE) AS sxy,
          |  CAST(coalesce(sum(CAST(rx * rx AS DECIMAL(38,6))), 0) AS DOUBLE) AS sxx,
          |  CAST(coalesce(sum(CAST(ry * ry AS DECIMAL(38,6))), 0) AS DOUBLE) AS syy
          |  FROM r GROUP BY 1, 2)
          |SELECT l_returnflag, l_linestatus, n,
          |  floor(((CAST(n AS DOUBLE) * sxy - sx * sy) /
          |    nullif(sqrt(greatest((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy), 0.0)), 0.0))
          |    * 1000000 + 0.5) / 1000000 AS rho
          |FROM m""".stripMargin)),

    // Poisson bootstrap: per-type mean value with bootstrap SE (16 reps)
    QueryDef("q_bootstrap",
      (s, dir) =>
        Bootstrap.bootstrapMeanSE(ev(s, dir), Seq("event_type"), "value", "event_id",
            replicas = 16, seed = "b42")
          .select(col("event_type").as("code"), col("n"),
            graft.functions.Portable.r6(col("mean_boot")).as("mean_boot"),
            graft.functions.Portable.r6(col("se_boot")).as("se_boot")),
      Some(s"""WITH r AS (SELECT unnest(range(0, 16)) AS b),
           |x AS (SELECT event_type, value, event_id, b FROM events, r
           |      WHERE value IS NOT NULL AND NOT isnan(value)),
           |u AS (SELECT event_type, b, value,
           |        ((${h32("concat('b42', '|', CAST(event_id AS VARCHAR), '|', CAST(b AS VARCHAR))")} % 1000000)
           |          + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS u
           |      FROM x),
           |w AS (SELECT event_type, b, value,
           |        CASE WHEN u < CAST(0.36787944117144233 AS DOUBLE) THEN 0
           |             WHEN u < CAST(0.7357588823428847 AS DOUBLE) THEN 1
           |             WHEN u < CAST(0.9196986029286058 AS DOUBLE) THEN 2
           |             WHEN u < CAST(0.9810118431238462 AS DOUBLE) THEN 3
           |             WHEN u < CAST(0.9963401531726563 AS DOUBLE) THEN 4
           |             WHEN u < CAST(0.9994058151824183 AS DOUBLE) THEN 5
           |             WHEN u < CAST(0.9999167588507119 AS DOUBLE) THEN 6
           |             ELSE 7 END AS w
           |      FROM u),
           |c AS (SELECT event_type, b,
           |        CAST(sum(CAST(w * value AS DECIMAL(38,6))) AS DOUBLE) AS wx,
           |        CAST(sum(w) AS BIGINT) AS wn
           |      FROM w GROUP BY 1, 2),
           |m AS (SELECT event_type, b, CASE WHEN wn > 0 THEN wx / CAST(wn AS DOUBLE) END AS m FROM c),
           |g AS (SELECT event_type, count(m) AS bn,
           |        CAST(sum(CAST(m AS DECIMAL(38,12))) AS DOUBLE) AS sm,
           |        CAST(sum(CAST(m * m AS DECIMAL(38,12))) AS DOUBLE) AS sm2
           |      FROM m GROUP BY 1),
           |n AS (SELECT event_type, count(*) AS n FROM events
           |      WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY 1)
           |SELECT g.event_type AS code, n,
           |  floor((sm / CAST(bn AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS mean_boot,
           |  CASE WHEN bn > 1 THEN
           |    floor(sqrt(greatest((sm2 - sm * sm / CAST(bn AS DOUBLE)) / CAST(bn - 1 AS DOUBLE),
           |                        CAST(0 AS DOUBLE))) * 1000000 + 0.5) / 1000000
           |  END AS se_boot
           |FROM g JOIN n ON g.event_type IS NOT DISTINCT FROM n.event_type""".stripMargin)),

    // two-sample KS distance per event type: even- vs odd-user cohorts
    // (distribution-level guardrail; contrast with q_ab_test's mean test)
    QueryDef("q_ks",
      (s, dir) =>
        Hypothesis.ksTest(ev(s, dir), Seq("event_type"), "value",
            pmod(col("user_id"), lit(2)) === 0)
          .select(col("event_type"), col("n_a"), col("n_b"),
            graft.functions.Portable.r6(col("d")).as("d"),
            graft.functions.Portable.r6(col("ks")).as("ks")),
      Some("""WITH v AS (SELECT event_type, CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS a,
          |    CAST(value AS DOUBLE) AS x
          |  FROM events WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
          |c AS (SELECT event_type, x, CAST(sum(a) AS BIGINT) AS ca, CAST(sum(1 - a) AS BIGINT) AS cb
          |      FROM v GROUP BY 1, 2),
          |w AS (SELECT event_type,
          |        CAST(sum(ca) OVER (PARTITION BY event_type ORDER BY x) AS BIGINT) AS fa,
          |        CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY x) AS BIGINT) AS fb,
          |        CAST(sum(ca) OVER (PARTITION BY event_type) AS BIGINT) AS na,
          |        CAST(sum(cb) OVER (PARTITION BY event_type) AS BIGINT) AS nb
          |      FROM c),
          |m AS (SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
          |        max(CASE WHEN na > 0 AND nb > 0 THEN
          |          abs(CAST(fa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(fb AS DOUBLE) / CAST(nb AS DOUBLE)) END) AS d0
          |      FROM w GROUP BY 1)
          |SELECT event_type, n_a, n_b,
          |  floor(d0 * 1000000 + 0.5) / 1000000 AS d,
          |  floor(sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)) * d0
          |    * 1000000 + 0.5) / 1000000 AS ks
          |FROM m""".stripMargin)),

    // Mann-Whitney U per language: even- vs odd-doc cohorts on doc size
    QueryDef("q_mwu",
      (s, dir) =>
        Hypothesis.mannWhitney(docs(s, dir), Seq("lang"), "n_chars",
            pmod(col("doc_id"), lit(2)) === 0)
          .select(col("lang"), col("n_a"), col("n_b"),
            graft.functions.Portable.r6(col("u_a")).as("u_a"),
            graft.functions.Portable.r6(col("z")).as("z"),
            graft.functions.Portable.r6(col("delta")).as("delta")),
      Some("""WITH v AS (SELECT lang, CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a,
          |    CAST(n_chars AS DOUBLE) AS x
          |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
          |r AS (SELECT lang, a,
          |        CAST(rank() OVER (PARTITION BY lang ORDER BY x) AS DOUBLE)
          |          + CAST(count(*) OVER (PARTITION BY lang, x) - 1 AS DOUBLE) / 2.0 AS rk,
          |        CAST(count(*) OVER (PARTITION BY lang, x) AS BIGINT) AS c
          |      FROM v),
          |m AS (SELECT lang,
          |        CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(1 - a) AS BIGINT) AS n_b,
          |        CAST(coalesce(sum(CASE WHEN a = 1 THEN CAST(rk AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS ra,
          |        CAST(coalesce(sum(CAST(c * c - 1 AS DECIMAL(38,6))), 0) AS DOUBLE) AS ties
          |      FROM r GROUP BY 1),
          |s AS (SELECT lang, n_a, n_b,
          |        ra - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0) / 2.0 AS u,
          |        CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0 *
          |          ((CAST(n_a + n_b AS DOUBLE) + 1.0)
          |            - ties / (CAST(n_a + n_b AS DOUBLE) * (CAST(n_a + n_b AS DOUBLE) - 1.0))) AS s2
          |      FROM m)
          |SELECT lang, n_a, n_b,
          |  floor(u * 1000000 + 0.5) / 1000000 AS u_a,
          |  CASE WHEN n_a > 0 AND n_b > 0 AND s2 > 0 THEN
          |    floor((u - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0) / sqrt(s2)
          |      * 1000000 + 0.5) / 1000000 END AS z,
          |  CASE WHEN n_a > 0 AND n_b > 0 THEN
          |    floor((2.0 * u / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) - 1.0)
          |      * 1000000 + 0.5) / 1000000 END AS delta
          |FROM s""".stripMargin)),

    // two-proportion z: long-doc rate, even- vs odd-doc cohorts per lang
    QueryDef("q_two_prop",
      (s, dir) =>
        Hypothesis.twoProportionZ(docs(s, dir), Seq("lang"),
            col("n_chars") > 300, pmod(col("doc_id"), lit(2)) === 0)
          .select(col("lang"), col("n_a"), col("n_b"), col("k_a"), col("k_b"),
            graft.functions.Portable.r6(col("p_a")).as("p_a"),
            graft.functions.Portable.r6(col("p_b")).as("p_b"),
            graft.functions.Portable.r6(col("z")).as("z")),
      Some("""WITH v AS (SELECT lang, CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS a,
          |    CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS h
          |  FROM documents),
          |g AS (SELECT lang,
          |        CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(1 - a) AS BIGINT) AS n_b,
          |        CAST(coalesce(sum(CASE WHEN a = 1 THEN h END), 0) AS BIGINT) AS k_a,
          |        CAST(coalesce(sum(CASE WHEN a = 0 THEN h END), 0) AS BIGINT) AS k_b
          |      FROM v GROUP BY 1),
          |e AS (SELECT lang, n_a, n_b, k_a, k_b,
          |        CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
          |        CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
          |        CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
          |      FROM g)
          |SELECT lang, n_a, n_b, k_a, k_b,
          |  CASE WHEN n_a > 0 THEN floor(pa * 1000000 + 0.5) / 1000000 END AS p_a,
          |  CASE WHEN n_b > 0 THEN floor(pb * 1000000 + 0.5) / 1000000 END AS p_b,
          |  CASE WHEN n_a > 0 AND n_b > 0 AND pp > 0 AND pp < 1 THEN
          |    floor((pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
          |      * 1000000 + 0.5) / 1000000 END AS z
          |FROM e""".stripMargin)),

    // per-user value autocorrelation at lags 1..3 (one key window)
    QueryDef("q_acf",
      (s, dir) =>
        Stats.acf(ev(s, dir), Seq("user_id"), "ts", "event_id", "value", maxLag = 3)
          .select(col("user_id"), col("lag"), col("n"),
            graft.functions.Portable.r6(col("acf")).as("acf")),
      Some("""WITH v AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS x FROM events
          |  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE)) AND ts IS NOT NULL),
          |l AS (SELECT user_id, x,
          |        lag(x, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l1,
          |        lag(x, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l2,
          |        lag(x, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l3
          |      FROM v),
          |p AS (SELECT user_id, 1 AS "lag", x, l1 AS y FROM l WHERE l1 IS NOT NULL
          |      UNION ALL SELECT user_id, 2, x, l2 FROM l WHERE l2 IS NOT NULL
          |      UNION ALL SELECT user_id, 3, x, l3 FROM l WHERE l3 IS NOT NULL),
          |m AS (SELECT user_id, "lag", count(*) AS n,
          |        CAST(coalesce(sum(CAST(x AS DECIMAL(38,6))), 0) AS DOUBLE) AS sx,
          |        CAST(coalesce(sum(CAST(y AS DECIMAL(38,6))), 0) AS DOUBLE) AS sy,
          |        CAST(coalesce(sum(CAST(x * y AS DECIMAL(38,6))), 0) AS DOUBLE) AS sxy,
          |        CAST(coalesce(sum(CAST(x * x AS DECIMAL(38,6))), 0) AS DOUBLE) AS sxx,
          |        CAST(coalesce(sum(CAST(y * y AS DECIMAL(38,6))), 0) AS DOUBLE) AS syy
          |      FROM p GROUP BY 1, 2)
          |SELECT user_id, "lag", n,
          |  floor(((CAST(n AS DOUBLE) * sxy - sx * sy) /
          |    nullif(sqrt(greatest((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy),
          |      0.0)), 0.0)) * 1000000 + 0.5) / 1000000 AS acf
          |FROM m""".stripMargin)),

    // Cohen's kappa per source: declared lang tag vs the lang-ID detector
    QueryDef("q_kappa",
      (s, dir) =>
        Stats.cohenKappa(
            docs(s, dir).select(col("source"), col("lang"),
              TextFunctions.langId(col("text")).as("lang_pred")),
            Seq("source"), "lang", "lang_pred")
          .select(col("source"), col("n"),
            graft.functions.Portable.r6(col("po")).as("po"),
            graft.functions.Portable.r6(col("pe")).as("pe"),
            graft.functions.Portable.r6(col("kappa")).as("kappa")),
      Some(s"""WITH det AS ($langIdSelectSql),
           |d AS (SELECT source, lang AS a, lang_pred AS b
           |      FROM documents JOIN det USING (doc_id) WHERE lang IS NOT NULL),
           |cells AS (SELECT source, a, b, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY 1, 2, 3),
           |base AS (SELECT source, CAST(sum(c) AS BIGINT) AS n,
           |        CAST(coalesce(sum(CASE WHEN a = b THEN c END), 0) AS BIGINT) AS diag
           |      FROM cells GROUP BY 1),
           |ma AS (SELECT source, a AS l, CAST(sum(c) AS BIGINT) AS ca FROM cells GROUP BY 1, 2),
           |mb AS (SELECT source, b AS l, CAST(sum(c) AS BIGINT) AS cb FROM cells GROUP BY 1, 2),
           |pe AS (SELECT ma.source, CAST(coalesce(sum(CAST(ca * cb AS DECIMAL(38,0))), 0) AS DOUBLE) AS pen
           |      FROM ma JOIN mb ON ma.source = mb.source AND ma.l = mb.l GROUP BY 1),
           |r AS (SELECT base.source, n,
           |        CAST(diag AS DOUBLE) / CAST(n AS DOUBLE) AS po0,
           |        coalesce(pen, 0.0) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe0
           |      FROM base LEFT JOIN pe ON base.source = pe.source)
           |SELECT source, n,
           |  floor(po0 * 1000000 + 0.5) / 1000000 AS po,
           |  floor(pe0 * 1000000 + 0.5) / 1000000 AS pe,
           |  floor((po0 - pe0) / nullif(1.0 - pe0, 0.0) * 1000000 + 0.5) / 1000000 AS kappa
           |FROM r""".stripMargin)),

    // Wilson 95% interval per source for the share of English docs
    QueryDef("q_wilson",
      (s, dir) =>
        Stats.wilsonInterval(docs(s, dir), Seq("source"), col("lang") === "en")
          .select(col("source"), col("n"), col("k"),
            graft.functions.Portable.r6(col("p")).as("p"),
            graft.functions.Portable.r6(col("lo")).as("lo"),
            graft.functions.Portable.r6(col("hi")).as("hi")),
      Some("""WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
          |        CAST(count(CASE WHEN lang = 'en' THEN 1 END) AS BIGINT) AS k
          |      FROM documents GROUP BY 1),
          |e AS (SELECT source, n, k,
          |        CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS p,
          |        CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE) AS z2,
          |        CAST(n AS DOUBLE) AS nd
          |      FROM g),
          |w AS (SELECT source, n, k, p,
          |        (p + z2 / (2.0 * nd)) / (1.0 + z2 / nd) AS center,
          |        CAST(1.96 AS DOUBLE) * sqrt(p * (1.0 - p) / nd + z2 / (4.0 * nd * nd))
          |          / (1.0 + z2 / nd) AS half
          |      FROM e)
          |SELECT source, n, k,
          |  floor(p * 1000000 + 0.5) / 1000000 AS p,
          |  floor((center - half) * 1000000 + 0.5) / 1000000 AS lo,
          |  floor((center + half) * 1000000 + 0.5) / 1000000 AS hi
          |FROM w""".stripMargin)),

    // Kruskal-Wallis per source: did ANY language arm's doc-size
    // distribution shift? (k-arm extension of q_mwu)
    QueryDef("q_kruskal",
      (s, dir) =>
        Hypothesis.kruskalWallis(docs(s, dir), Seq("source"), "lang", "n_chars")
          .select(col("source"), col("n"), col("k_arms"),
            graft.functions.Portable.r6(col("h")).as("h")),
      Some("""WITH v AS (SELECT source, lang AS arm, CAST(n_chars AS DOUBLE) AS x FROM documents
          |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE)) AND lang IS NOT NULL),
          |r AS (SELECT source, arm,
          |        CAST(rank() OVER (PARTITION BY source ORDER BY x) AS DOUBLE)
          |          + CAST(count(*) OVER (PARTITION BY source, x) - 1 AS DOUBLE) / 2.0 AS rk,
          |        CAST(count(*) OVER (PARTITION BY source, x) AS BIGINT) AS c
          |      FROM v),
          |pa AS (SELECT source, arm, CAST(count(*) AS BIGINT) AS na,
          |        CAST(coalesce(sum(CAST(rk AS DECIMAL(38,6))), 0) AS DOUBLE) AS ra,
          |        CAST(coalesce(sum(CAST(c * c - 1 AS DECIMAL(38,6))), 0) AS DOUBLE) AS ties
          |      FROM r GROUP BY 1, 2),
          |m AS (SELECT source, CAST(sum(na) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k_arms,
          |        CAST(coalesce(sum(CAST(floor(ra * ra / CAST(na AS DOUBLE) * 1000000 + 0.5) / 1000000
          |          AS DECIMAL(38,6))), 0) AS DOUBLE) AS rr,
          |        CAST(coalesce(sum(CAST(ties AS DECIMAL(38,6))), 0) AS DOUBLE) AS t
          |      FROM pa GROUP BY 1),
          |s AS (SELECT source, n, k_arms, rr,
          |        CAST(n AS DOUBLE) AS nd,
          |        1.0 - t / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS corr
          |      FROM m)
          |SELECT source, n, k_arms,
          |  CASE WHEN k_arms >= 2 AND n > 1 AND corr > 0 THEN
          |    floor((12.0 / (nd * (nd + 1.0)) * rr - 3.0 * (nd + 1.0)) / corr * 1000000 + 0.5) / 1000000
          |  END AS h
          |FROM s""".stripMargin)),

    // cross-source quantile normalization of doc length onto the
    // corpus distribution (20 reference quantiles, rank tie-break doc_id)
    QueryDef("q_qnorm",
      (s, dir) =>
        QuantileNormalize.quantileNormalize(docs(s, dir), "source", "doc_id", "n_chars", nBins = 20)
          .select(col("id").as("doc_id"), col("group").as("source"), col("value"),
            graft.functions.Portable.r6(col("pr")).as("pr"), col("bin"),
            graft.functions.Portable.r6(col("norm")).as("norm")),
      Some {
        val probes = (1 to 20).map(b => s"CAST($b AS DOUBLE) / 20").mkString("[", ", ", "]")
        s"""WITH v AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS value FROM documents
           |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
           |ref AS (SELECT quantile_cont(value, $probes) AS r FROM v),
           |p AS (SELECT doc_id, source, value,
           |        percent_rank() OVER (PARTITION BY source ORDER BY value, doc_id) AS pr
           |      FROM v),
           |b AS (SELECT doc_id, source, value, pr,
           |        greatest(1, least(20, CAST(ceil(pr * 20) AS BIGINT))) AS bin
           |      FROM p)
           |SELECT doc_id, source, value,
           |  floor(pr * 1000000 + 0.5) / 1000000 AS pr, bin,
           |  floor(r[CAST(bin AS INT)] * 1000000 + 0.5) / 1000000 AS norm
           |FROM b, ref""".stripMargin
      }),

    // CUPED variance-reduced A/B readout per event type: morning
    // covariate, afternoon metric, md5-coin arms over users
    QueryDef("q_cuped",
      (s, dir) =>
        Stats.cuped(ev(s, dir), Seq("event_type"), "user_id", "value",
            inPre = hour(col("ts")) < 12,
            inA = pmod(TextFunctions.md5Hash32(
              concat(lit("cu|"), col("user_id").cast("string"))), lit(2)) === 0)
          .select(col("event_type"), col("n_units"), col("n_a"), col("n_b"),
            graft.functions.Portable.r6(col("theta")).as("theta"),
            graft.functions.Portable.r6(col("diff_raw")).as("diff_raw"),
            graft.functions.Portable.r6(col("diff_adj")).as("diff_adj"),
            graft.functions.Portable.r6(col("var_reduction")).as("var_reduction")),
      Some {
        val okx = "x IS NOT NULL AND NOT isnan(x)"
        s"""WITH u0 AS (SELECT event_type, user_id,
           |    CASE WHEN hour(ts) < 12 THEN 1 ELSE 0 END AS pre,
           |    CAST(value AS DOUBLE) AS x,
           |    CASE WHEN ${h32("concat('cu|', CAST(user_id AS VARCHAR))")} % 2 = 0 THEN 1 ELSE 0 END AS a
           |  FROM events),
           |u AS (SELECT event_type, user_id,
           |    CASE WHEN count(CASE WHEN pre = 1 AND $okx THEN 1 END) > 0 THEN
           |      CAST(sum(CASE WHEN pre = 1 AND $okx THEN CAST(x AS DECIMAL(38,6)) END) AS DOUBLE)
           |        / CAST(count(CASE WHEN pre = 1 AND $okx THEN 1 END) AS DOUBLE) END AS x0,
           |    CASE WHEN count(CASE WHEN pre = 0 AND $okx THEN 1 END) > 0 THEN
           |      CAST(sum(CASE WHEN pre = 0 AND $okx THEN CAST(x AS DECIMAL(38,6)) END) AS DOUBLE)
           |        / CAST(count(CASE WHEN pre = 0 AND $okx THEN 1 END) AS DOUBLE) END AS y0,
           |    max(a) AS a
           |  FROM u0 GROUP BY 1, 2),
           |f AS (SELECT event_type, a,
           |    floor(x0 * 1000000 + 0.5) / 1000000 AS ux,
           |    floor(y0 * 1000000 + 0.5) / 1000000 AS uy
           |  FROM u WHERE x0 IS NOT NULL AND y0 IS NOT NULL),
           |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_units,
           |    CAST(coalesce(sum(CAST(ux AS DECIMAL(38,6))), 0) AS DOUBLE) AS sx,
           |    CAST(coalesce(sum(CAST(uy AS DECIMAL(38,6))), 0) AS DOUBLE) AS sy,
           |    CAST(coalesce(sum(CAST(ux * uy AS DECIMAL(38,6))), 0) AS DOUBLE) AS sxy,
           |    CAST(coalesce(sum(CAST(ux * ux AS DECIMAL(38,6))), 0) AS DOUBLE) AS sxx,
           |    CAST(coalesce(sum(CAST(uy * uy AS DECIMAL(38,6))), 0) AS DOUBLE) AS syy,
           |    CAST(sum(a) AS BIGINT) AS na,
           |    CAST(coalesce(sum(CASE WHEN a = 1 THEN CAST(ux AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sxa,
           |    CAST(coalesce(sum(CASE WHEN a = 1 THEN CAST(uy AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sya
           |  FROM f GROUP BY 1),
           |e AS (SELECT event_type, n_units, na, n_units - na AS nb,
           |    CAST(n_units AS DOUBLE) * sxy - sx * sy AS cov,
           |    CAST(n_units AS DOUBLE) * sxx - sx * sx AS vx,
           |    CAST(n_units AS DOUBLE) * syy - sy * sy AS vy,
           |    sx, sy, sxa, sya FROM m)
           |SELECT event_type, n_units, na AS n_a, nb AS n_b,
           |  floor(cov / nullif(vx, 0.0) * 1000000 + 0.5) / 1000000 AS theta,
           |  CASE WHEN na > 0 AND nb > 0 THEN
           |    floor((sya / CAST(na AS DOUBLE) - (sy - sya) / CAST(nb AS DOUBLE)) * 1000000 + 0.5) / 1000000 END AS diff_raw,
           |  CASE WHEN na > 0 AND nb > 0 THEN
           |    floor((sya / CAST(na AS DOUBLE) - (sy - sya) / CAST(nb AS DOUBLE)
           |      - cov / nullif(vx, 0.0) * (sxa / CAST(na AS DOUBLE) - (sx - sxa) / CAST(nb AS DOUBLE)))
           |      * 1000000 + 0.5) / 1000000 END AS diff_adj,
           |  CASE WHEN vx > 0 AND vy > 0 THEN
           |    floor(cov * cov / (vx * vy) * 1000000 + 0.5) / 1000000 END AS var_reduction
           |FROM e""".stripMargin
      }),

    // Benjamini-Hochberg FDR over the (lang x source) long-doc-rate
    // z-tests: which slices' deviations survive multiple testing.
    // Arms split by an md5 coin, NOT doc_id parity — the generator's ids
    // correlate parity with (lang, source), which would empty one arm of
    // every cell
    QueryDef("q_bh",
      { (s, dir) =>
        val tests = Hypothesis.twoProportionZ(docs(s, dir), Seq("lang", "source"),
            col("n_chars") > 300,
            pmod(TextFunctions.md5Hash32(concat(lit("bh|"), col("doc_id").cast("string"))),
              lit(2)) === 0)
          .select(col("lang"), col("source"),
            graft.functions.Portable.r6(col("z")).as("z"),
            graft.functions.Portable.r6(Hypothesis.pFromZ(col("z"))).as("p"))
        Hypothesis.benjaminiHochberg(tests, "p", Seq("lang", "source"), alpha = 0.1)
          .select(col("lang"), col("source"), col("z"), col("p"), col("m"),
            col("rank"), graft.functions.Portable.r6(col("q")).as("q"), col("reject"))
      },
      Some {
        // the SAME A&S 26.2.16 tail as Hypothesis.pFromZ, spelled out
        s"""WITH v AS (SELECT lang, source,
           |    CASE WHEN ${h32("concat('bh|', CAST(doc_id AS VARCHAR))")} % 2 = 0 THEN 1 ELSE 0 END AS a,
           |    CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS hit
           |  FROM documents),
           |g AS (SELECT lang, source,
           |        CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(1 - a) AS BIGINT) AS n_b,
           |        CAST(coalesce(sum(CASE WHEN a = 1 THEN hit END), 0) AS BIGINT) AS k_a,
           |        CAST(coalesce(sum(CASE WHEN a = 0 THEN hit END), 0) AS BIGINT) AS k_b
           |      FROM v GROUP BY 1, 2),
           |e AS (SELECT lang, source, n_a, n_b, k_a, k_b,
           |        CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
           |        CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
           |        CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
           |      FROM g),
           |z0 AS (SELECT lang, source,
           |        CASE WHEN n_a > 0 AND n_b > 0 AND pp > 0 AND pp < 1 THEN
           |          (pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
           |        END AS z FROM e),
           |pz AS (SELECT lang, source, z, abs(z) AS az,
           |        1.0 / (1.0 + 0.33267 * abs(z)) AS tt FROM z0),
           |pv AS (SELECT lang, source,
           |        floor(z * 1000000 + 0.5) / 1000000 AS z,
           |        floor($pSql * 1000000 + 0.5) / 1000000 AS p
           |      FROM pz WHERE z IS NOT NULL),
           |rk AS (SELECT lang, source, z, p,
           |        CAST(count(*) OVER () AS BIGINT) AS m,
           |        CAST(row_number() OVER (ORDER BY p, lang, source) AS BIGINT) AS "rank"
           |      FROM pv),
           |adj AS (SELECT lang, source, z, p, m, "rank",
           |        least(1.0, min(p * CAST(m AS DOUBLE) / CAST("rank" AS DOUBLE))
           |          OVER (ORDER BY p, lang, source
           |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS q_raw
           |      FROM rk),
           |nullz AS (SELECT lang, source, CAST(NULL AS DOUBLE) AS z, CAST(NULL AS DOUBLE) AS p,
           |        CAST(NULL AS BIGINT) AS m, CAST(NULL AS BIGINT) AS "rank",
           |        CAST(NULL AS DOUBLE) AS q, CAST(NULL AS BOOLEAN) AS reject
           |      FROM z0 WHERE z IS NULL)
           |SELECT lang, source, z, p, m, "rank",
           |  floor(q_raw * 1000000 + 0.5) / 1000000 AS q, q_raw <= 0.1 AS reject
           |FROM adj
           |UNION ALL SELECT * FROM nullz""".stripMargin
      }),

    // one-way ANOVA F of doc length across languages per source — the
    // parametric complement of q_kruskal (same slicing for contrast)
    QueryDef("q_anova",
      (s, dir) =>
        Anova.anovaF(docs(s, dir), Seq("source"), "lang", "n_chars")
          .select(col("source"), col("n"), col("k_arms"),
            graft.functions.Portable.r6(col("ss_between")).as("ss_between"),
            graft.functions.Portable.r6(col("ss_within")).as("ss_within"),
            graft.functions.Portable.r6(col("f")).as("f")),
      Some("""WITH v AS (SELECT source, lang AS arm, CAST(n_chars AS DOUBLE) AS x
          |  FROM documents
          |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE)) AND lang IS NOT NULL),
          |a AS (SELECT source, arm, CAST(count(*) AS BIGINT) AS n_a,
          |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sa,
          |    CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxxa
          |  FROM v GROUP BY 1, 2),
          |m AS (SELECT source, CAST(sum(n_a) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k_arms,
          |    CAST(sum(CAST(sa AS DECIMAL(38,6))) AS DOUBLE) AS s,
          |    CAST(sum(CAST(sxxa AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
          |    CAST(sum(CAST(floor(sa * sa / CAST(n_a AS DOUBLE) * 1000000 + 0.5) / 1000000
          |      AS DECIMAL(38,6))) AS DOUBLE) AS expl
          |  FROM a GROUP BY 1),
          |e AS (SELECT source, n, k_arms,
          |    expl - s * s / CAST(n AS DOUBLE) AS ssb, sxx - expl AS ssw FROM m)
          |SELECT source, n, k_arms,
          |  floor(ssb * 1000000 + 0.5) / 1000000 AS ss_between,
          |  floor(ssw * 1000000 + 0.5) / 1000000 AS ss_within,
          |  CASE WHEN k_arms >= 2 AND n > k_arms AND ssw > 0 THEN
          |    floor((ssb / (CAST(k_arms AS DOUBLE) - 1.0))
          |      / (ssw / (CAST(n AS DOUBLE) - CAST(k_arms AS DOUBLE))) * 1000000 + 0.5) / 1000000
          |  END AS f
          |FROM e""".stripMargin)),

    // Brown-Forsythe variance-homogeneity across languages per source:
    // "do the arms even have comparable spread" (ANOVA's precondition)
    QueryDef("q_levene",
      (s, dir) =>
        Anova.brownForsythe(docs(s, dir), Seq("source"), "lang", "n_chars")
          .select(col("source"), col("n"), col("k_arms"),
            graft.functions.Portable.r6(col("ss_between")).as("ss_between"),
            graft.functions.Portable.r6(col("ss_within")).as("ss_within"),
            graft.functions.Portable.r6(col("f")).as("f")),
      Some("""WITH v AS (SELECT source, lang AS arm, CAST(n_chars AS DOUBLE) AS x0
          |  FROM documents
          |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE)) AND lang IS NOT NULL),
          |md AS (SELECT source, arm, quantile_cont(x0, 0.5) AS med FROM v GROUP BY 1, 2),
          |c AS (SELECT v.source, v.arm,
          |    floor(abs(x0 - med) * 1000000 + 0.5) / 1000000 AS x
          |  FROM v JOIN md USING (source, arm)),
          |a AS (SELECT source, arm, CAST(count(*) AS BIGINT) AS n_a,
          |    CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sa,
          |    CAST(sum(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS sxxa
          |  FROM c GROUP BY 1, 2),
          |m AS (SELECT source, CAST(sum(n_a) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k_arms,
          |    CAST(sum(CAST(sa AS DECIMAL(38,6))) AS DOUBLE) AS s,
          |    CAST(sum(CAST(sxxa AS DECIMAL(38,6))) AS DOUBLE) AS sxx,
          |    CAST(sum(CAST(floor(sa * sa / CAST(n_a AS DOUBLE) * 1000000 + 0.5) / 1000000
          |      AS DECIMAL(38,6))) AS DOUBLE) AS expl
          |  FROM a GROUP BY 1),
          |e AS (SELECT source, n, k_arms,
          |    expl - s * s / CAST(n AS DOUBLE) AS ssb, sxx - expl AS ssw FROM m)
          |SELECT source, n, k_arms,
          |  floor(ssb * 1000000 + 0.5) / 1000000 AS ss_between,
          |  floor(ssw * 1000000 + 0.5) / 1000000 AS ss_within,
          |  CASE WHEN k_arms >= 2 AND n > k_arms AND ssw > 0 THEN
          |    floor((ssb / (CAST(k_arms AS DOUBLE) - 1.0))
          |      / (ssw / (CAST(n AS DOUBLE) - CAST(k_arms AS DOUBLE))) * 1000000 + 0.5) / 1000000
          |  END AS f
          |FROM e""".stripMargin)),

    // Cramer's V coupling of lang and source — the effect-size summary
    // of q_chi2's cell frame (chi-square alone grows with N)
    QueryDef("q_cramers_v",
      (s, dir) =>
        Stats.cramersV(docs(s, dir), "lang", "source")
          .select(col("n_a_levels"), col("n_b_levels"), col("n"),
            graft.functions.Portable.r6(col("chi2")).as("chi2"),
            graft.functions.Portable.r6(col("v")).as("v")),
      Some("""WITH cells AS (SELECT lang AS a, source AS b, CAST(count(*) AS BIGINT) AS obs
          |  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
          |ra AS (SELECT a, sum(obs) AS na FROM cells GROUP BY 1),
          |rb AS (SELECT b, sum(obs) AS nb FROM cells GROUP BY 1),
          |tot AS (SELECT sum(obs) AS n FROM cells),
          |grid AS (SELECT a, b, na, nb, n FROM ra CROSS JOIN rb CROSS JOIN tot),
          |j AS (SELECT grid.a, grid.b, coalesce(obs, 0) AS o,
          |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / CAST(n AS DOUBLE) AS e
          |  FROM grid LEFT JOIN cells ON grid.a = cells.a AND grid.b = cells.b),
          |m AS (SELECT CAST(count(DISTINCT a) AS BIGINT) AS n_a_levels,
          |    CAST(count(DISTINCT b) AS BIGINT) AS n_b_levels,
          |    CAST(sum(o) AS BIGINT) AS n,
          |    CAST(coalesce(sum(CAST(floor((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e
          |      * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))), 0) AS DOUBLE) AS chi2
          |  FROM j)
          |SELECT n_a_levels, n_b_levels, n,
          |  floor(chi2 * 1000000 + 0.5) / 1000000 AS chi2,
          |  CASE WHEN least(n_a_levels, n_b_levels) >= 2 AND n > 0 THEN
          |    floor(sqrt(chi2 / (CAST(n AS DOUBLE)
          |      * (CAST(least(n_a_levels, n_b_levels) AS DOUBLE) - 1.0))) * 1000000 + 0.5) / 1000000
          |  END AS v
          |FROM m""".stripMargin)),

    // Kendall tau-b of per-user (event count vs total value) per type,
    // on the deterministic 150-unit sample (pairwise by nature)
    QueryDef("q_kendall",
      { (s, dir) =>
        val okv = col("value").isNotNull && !isnan(col("value"))
        val units = ev(s, dir)
          .groupBy(col("event_type"), col("user_id"))
          .agg(
            count(lit(1)).as("n_events"),
            coalesce(sum(when(okv, col("value").cast("decimal(38,6)"))),
              lit(0).cast("decimal(38,6)")).cast("double").as("v"))
        Stats.kendallTau(units, Seq("event_type"), "user_id", "n_events", "v",
            sampleN = 150)
          .select(col("event_type"), col("n"), col("n_pairs"),
            col("concordant"), col("discordant"),
            graft.functions.Portable.r6(col("tau_b")).as("tau_b"))
      },
      Some(s"""WITH u AS (SELECT event_type, user_id,
           |    CAST(count(*) AS BIGINT) AS x0,
           |    CAST(coalesce(sum(CASE WHEN value IS NOT NULL AND NOT isnan(value)
           |      THEN CAST(value AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS y0
           |  FROM events GROUP BY 1, 2),
           |h AS (SELECT event_type, user_id, CAST(x0 AS DOUBLE) AS x, y0 AS y,
           |    row_number() OVER (PARTITION BY event_type
           |      ORDER BY ${h32("concat('kt','|',event_type,'|',CAST(user_id AS VARCHAR))")}, user_id) AS rn
           |  FROM u),
           |sm AS (SELECT event_type, user_id, x, y FROM h WHERE rn <= 150),
           |sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM sm GROUP BY 1),
           |p AS (SELECT l.event_type,
           |    sign(l.x - r.x) AS cx, sign(l.y - r.y) AS cy
           |  FROM sm l JOIN sm r ON l.event_type = r.event_type AND l.user_id < r.user_id),
           |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(count(CASE WHEN cx * cy > 0 THEN 1 END) AS BIGINT) AS concordant,
           |    CAST(count(CASE WHEN cx * cy < 0 THEN 1 END) AS BIGINT) AS discordant,
           |    CAST(count(CASE WHEN cx = 0 THEN 1 END) AS BIGINT) AS tx,
           |    CAST(count(CASE WHEN cy = 0 THEN 1 END) AS BIGINT) AS ty
           |  FROM p GROUP BY 1)
           |SELECT sz.event_type, n,
           |  coalesce(n_pairs, 0) AS n_pairs,
           |  coalesce(concordant, 0) AS concordant,
           |  coalesce(discordant, 0) AS discordant,
           |  CASE WHEN n_pairs - tx > 0 AND n_pairs - ty > 0 THEN
           |    floor(CAST(concordant - discordant AS DOUBLE)
           |      / sqrt(CAST(n_pairs - tx AS DOUBLE) * CAST(n_pairs - ty AS DOUBLE))
           |      * 1000000 + 0.5) / 1000000 END AS tau_b
           |FROM sz LEFT JOIN a USING (event_type)""".stripMargin)),

    // Ljung-Box portmanteau "is it white noise" over the same per-user
    // series as q_acf (lags 1..3)
    QueryDef("q_ljung_box",
      (s, dir) =>
        Stats.ljungBox(ev(s, dir), Seq("user_id"), "ts", "event_id", "value", maxLag = 3)
          .select(col("user_id"), col("n_obs"), col("n_lags"),
            graft.functions.Portable.r6(col("q")).as("q")),
      Some("""WITH v AS (SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS x FROM events
          |  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE)) AND ts IS NOT NULL),
          |l AS (SELECT user_id, x,
          |        lag(x, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l1,
          |        lag(x, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l2,
          |        lag(x, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS l3
          |      FROM v),
          |p AS (SELECT user_id, 1 AS lg, x, l1 AS y FROM l WHERE l1 IS NOT NULL
          |      UNION ALL SELECT user_id, 2, x, l2 FROM l WHERE l2 IS NOT NULL
          |      UNION ALL SELECT user_id, 3, x, l3 FROM l WHERE l3 IS NOT NULL),
          |m AS (SELECT user_id, lg, count(*) AS n,
          |        CAST(coalesce(sum(CAST(x AS DECIMAL(38,6))), 0) AS DOUBLE) AS sx,
          |        CAST(coalesce(sum(CAST(y AS DECIMAL(38,6))), 0) AS DOUBLE) AS sy,
          |        CAST(coalesce(sum(CAST(x * y AS DECIMAL(38,6))), 0) AS DOUBLE) AS sxy,
          |        CAST(coalesce(sum(CAST(x * x AS DECIMAL(38,6))), 0) AS DOUBLE) AS sxx,
          |        CAST(coalesce(sum(CAST(y * y AS DECIMAL(38,6))), 0) AS DOUBLE) AS syy
          |      FROM p GROUP BY 1, 2),
          |rho AS (SELECT user_id, lg,
          |        (CAST(n AS DOUBLE) * sxy - sx * sy) /
          |          nullif(sqrt(greatest((CAST(n AS DOUBLE) * sxx - sx * sx)
          |            * (CAST(n AS DOUBLE) * syy - sy * sy), 0.0)), 0.0) AS r
          |      FROM m),
          |ns AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_obs FROM v GROUP BY 1),
          |t AS (SELECT rho.user_id, n_obs,
          |        r * r / (CAST(n_obs AS DOUBLE) - CAST(lg AS DOUBLE)) AS tt
          |      FROM rho JOIN ns USING (user_id)),
          |g AS (SELECT user_id, n_obs, CAST(count(*) AS BIGINT) AS n_lags,
          |        count(CASE WHEN tt IS NULL THEN 1 END) AS bad,
          |        CAST(coalesce(sum(CAST(floor(tt * 1000000 + 0.5) / 1000000
          |          AS DECIMAL(38,6))), 0) AS DOUBLE) AS s
          |      FROM t GROUP BY 1, 2)
          |SELECT user_id, n_obs, n_lags,
          |  CASE WHEN bad = 0 AND n_obs > 3 THEN
          |    floor(CAST(n_obs AS DOUBLE) * (CAST(n_obs AS DOUBLE) + 2.0) * s * 1000000 + 0.5) / 1000000
          |  END AS q
          |FROM g""".stripMargin)),

    // Hill tail-index of doc lengths per source over the top-50 order
    // statistics — how heavy is the length tail a clamp must survive
    QueryDef("q_hill",
      (s, dir) =>
        Stats.hillTailIndex(docs(s, dir), Seq("source"), "n_chars", "doc_id", k = 50)
          .select(col("source"), col("n"), col("x_tail"),
            graft.functions.Portable.r6(col("alpha")).as("alpha")),
      Some("""WITH v AS (SELECT source, doc_id, CAST(n_chars AS DOUBLE) AS x FROM documents
          |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE)) AND CAST(n_chars AS DOUBLE) > 0.0),
          |rk AS (SELECT source, x, row_number() OVER (PARTITION BY source ORDER BY x DESC, doc_id) AS r FROM v),
          |top AS (SELECT * FROM rk WHERE r <= 51),
          |g AS (SELECT source, count(*) AS nk, min(CASE WHEN r = 51 THEN x END) AS x_tail FROM top GROUP BY 1),
          |t AS (SELECT top.source, g.nk, g.x_tail,
          |        floor(ln(top.x / g.x_tail) * 1000000 + 0.5) / 1000000 AS tt
          |      FROM top JOIN g USING (source) WHERE top.r <= 50 AND g.x_tail IS NOT NULL),
          |m AS (SELECT source, nk, x_tail,
          |        CAST(coalesce(sum(CAST(tt AS DECIMAL(38,6))), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mn
          |      FROM t GROUP BY 1, 2, 3),
          |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM v GROUP BY 1)
          |SELECT sz.source, sz.n, m.x_tail,
          |  CASE WHEN m.nk = 51 AND m.mn > 0.0 THEN floor(1.0 / m.mn * 1000000 + 0.5) / 1000000 END AS alpha
          |FROM sz LEFT JOIN m USING (source)""".stripMargin)),

    // earth-mover drift of per-event-type value distributions between
    // the even/odd event halves — q_psi's "how far did mass move" twin
    QueryDef("q_emd",
      (s, dir) =>
        Stats.emd1d(ev(s, dir), Seq("event_type"), "value",
            isRef = col("event_id") % 2 === 0, nBins = 20)
          .select(col("event_type"), col("n_ref"), col("n_cur"), col("bin_width"),
            graft.functions.Portable.r6(col("emd")).as("emd")),
      Some("""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x,
          |    CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END AS ref FROM events
          |  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
          |rng AS (SELECT event_type, min(x) AS lo, max(x) AS hi FROM v GROUP BY 1),
          |cnt AS (SELECT v.event_type, ref,
          |      CASE WHEN hi = lo THEN 0
          |        ELSE CAST(least(floor((x - lo) / ((hi - lo) / 20.0)), 19.0) AS INT) END AS b,
          |      count(*) AS n
          |    FROM v JOIN rng USING (event_type) GROUP BY 1, 2, 3),
          |tot AS (SELECT event_type, ref, CAST(sum(n) AS BIGINT) AS t FROM cnt GROUP BY 1, 2),
          |grid AS (SELECT event_type, unnest(range(0, 20)) AS b
          |    FROM (SELECT DISTINCT event_type FROM cnt)),
          |g AS (SELECT grid.event_type, grid.b,
          |      CAST(coalesce(cr.n, 0) AS DOUBLE) / CAST(tr.t AS DOUBLE) AS p,
          |      CAST(coalesce(cc.n, 0) AS DOUBLE) / CAST(tc.t AS DOUBLE) AS q,
          |      tr.t AS t_ref, tc.t AS t_cur, (rng.hi - rng.lo) / 20.0 AS w
          |    FROM grid
          |    LEFT JOIN cnt cr ON cr.event_type = grid.event_type AND cr.b = grid.b AND cr.ref = 1
          |    LEFT JOIN cnt cc ON cc.event_type = grid.event_type AND cc.b = grid.b AND cc.ref = 0
          |    LEFT JOIN tot tr ON tr.event_type = grid.event_type AND tr.ref = 1
          |    LEFT JOIN tot tc ON tc.event_type = grid.event_type AND tc.ref = 0
          |    JOIN rng ON rng.event_type = grid.event_type),
          |cum AS (SELECT event_type, b, t_ref, t_cur, w,
          |      sum(p - q) OVER (PARTITION BY event_type ORDER BY b
          |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
          |    FROM g)
          |SELECT event_type, CAST(max(t_ref) AS BIGINT) AS n_ref, CAST(max(t_cur) AS BIGINT) AS n_cur,
          |  floor(max(w) * 1000000 + 0.5) / 1000000 AS bin_width,
          |  CASE WHEN max(t_ref) IS NOT NULL AND max(t_cur) IS NOT NULL THEN
          |    floor(CAST(sum(CAST(floor(abs(c) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE)
          |      * max(w) * 1000000 + 0.5) / 1000000 END AS emd
          |FROM cum GROUP BY event_type""".stripMargin)),

    // Theil's U both ways: does source determine language, or vice versa
    QueryDef("q_theils_u",
      { (s, dir) =>
        val d = docs(s, dir)
        def one(x: String, y: String, tag: String) =
          Stats.theilsU(d, Seq.empty, x, y).withColumn("direction", lit(tag))
        one("source", "lang", "lang_given_source")
          .unionByName(one("lang", "source", "source_given_lang"))
          .select(col("direction"), col("n"), col("nx"), col("ny"),
            graft.functions.Portable.r6(col("h_y")).as("h_y"),
            graft.functions.Portable.r6(col("h_y_given_x")).as("h_y_given_x"),
            graft.functions.Portable.r6(col("u")).as("u"))
      },
      Some {
        def dir(x: String, y: String, tag: String): String =
          s"""SELECT '$tag' AS direction, n, nx, ny,
             |  floor((ln(CAST(n AS DOUBLE)) - sy / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS h_y,
             |  floor((sx - sxy) / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS h_y_given_x,
             |  CASE WHEN ln(CAST(n AS DOUBLE)) - sy / CAST(n AS DOUBLE) > 0.0 THEN
             |    floor(((ln(CAST(n AS DOUBLE)) - sy / CAST(n AS DOUBLE)) - (sx - sxy) / CAST(n AS DOUBLE))
             |      / (ln(CAST(n AS DOUBLE)) - sy / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 END AS u
             |FROM (
             |  WITH jt AS (SELECT $x AS x, $y AS y, count(*) AS k FROM documents
             |      WHERE $x IS NOT NULL AND $y IS NOT NULL GROUP BY 1, 2),
             |  jm AS (SELECT CAST(sum(k) AS BIGINT) AS n,
             |      CAST(sum(CAST(floor(CAST(k AS DOUBLE) * ln(CAST(k AS DOUBLE)) * 1000000 + 0.5)
             |        / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS sxy FROM jt),
             |  xm AS (SELECT CAST(count(*) AS BIGINT) AS nx,
             |      CAST(sum(CAST(floor(CAST(kx AS DOUBLE) * ln(CAST(kx AS DOUBLE)) * 1000000 + 0.5)
             |        / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS sx
             |    FROM (SELECT x, sum(k) AS kx FROM jt GROUP BY 1)),
             |  ym AS (SELECT CAST(count(*) AS BIGINT) AS ny,
             |      CAST(sum(CAST(floor(CAST(ky AS DOUBLE) * ln(CAST(ky AS DOUBLE)) * 1000000 + 0.5)
             |        / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS sy
             |    FROM (SELECT y, sum(k) AS ky FROM jt GROUP BY 1))
             |  SELECT * FROM jm, xm, ym)""".stripMargin
        dir("source", "lang", "lang_given_source") + "\nUNION ALL\n" +
          dir("lang", "source", "source_given_lang")
      }),

    // quality-score softmax sampling weights per language (T = 0.5)
    QueryDef("q_softmax",
      (s, dir) =>
        Stats.softmaxWeights(
            docs(s, dir).withColumn("score", col("n_chars").cast("double") / 1000.0),
            Seq("lang"), "doc_id", "score", temperature = 0.5)
          .select(col("lang"), col("doc_id"),
            graft.functions.Portable.r6(col("score")).as("score"),
            graft.functions.Portable.r6(col("w")).as("w")),
      Some("""WITH b AS (SELECT lang, doc_id, CAST(n_chars AS DOUBLE) / 1000.0 AS score
          |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE) / 1000.0)),
          |mx AS (SELECT lang, max(score) AS m FROM b GROUP BY 1),
          |t AS (SELECT b.lang, doc_id, score, exp((score - m) / 0.5) AS tt FROM b JOIN mx ON b.lang = mx.lang),
          |tot AS (SELECT lang,
          |    CAST(sum(CAST(floor(tt * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS z
          |  FROM t GROUP BY 1)
          |SELECT t.lang, doc_id,
          |  floor(score * 1000000 + 0.5) / 1000000 AS score,
          |  floor(tt / z * 1000000 + 0.5) / 1000000 AS w
          |FROM t JOIN tot ON t.lang = tot.lang""".stripMargin)),

    // clustered ratio metric: heavy-event rate per user-cohort with the
    // delta-method CI (unit = user, x = heavy events, y = all events)
    QueryDef("q_ratio_ci",
      (s, dir) => {
        val units = ev(s, dir)
          .groupBy((col("user_id") % 4).as("cohort"), col("user_id"))
          .agg(
            count(when(col("value") > 50.0, lit(1))).cast("double").as("x"),
            count(lit(1)).cast("double").as("y"))
        Stats.ratioMetricCi(units, Seq("cohort"), "x", "y")
          .select(col("cohort"), col("n"),
            graft.functions.Portable.r6(col("sum_x")).as("sum_x"),
            graft.functions.Portable.r6(col("sum_y")).as("sum_y"),
            graft.functions.Portable.r6(col("ratio")).as("ratio"),
            graft.functions.Portable.r6(col("se")).as("se"),
            graft.functions.Portable.r6(col("ci_lo")).as("ci_lo"),
            graft.functions.Portable.r6(col("ci_hi")).as("ci_hi"))
      },
      Some {
        val z = 1.959963984540054
        def r6m(e: String) =
          s"CAST(coalesce(sum(CAST(floor(($e) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))), 0) AS DOUBLE)"
        s"""WITH u AS (SELECT user_id % 4 AS cohort, user_id,
           |    CAST(count(CASE WHEN CAST(value AS DOUBLE) > 50.0 THEN 1 END) AS DOUBLE) AS x,
           |    CAST(count(*) AS DOUBLE) AS y
           |  FROM events GROUP BY 1, 2),
           |m AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n,
           |    ${r6m("x")} AS sx, ${r6m("y")} AS sy,
           |    ${r6m("x * x")} AS sxx, ${r6m("y * y")} AS syy, ${r6m("x * y")} AS sxy
           |  FROM u GROUP BY 1),
           |e AS (SELECT cohort, n, sx, sy, sx / sy AS ratio,
           |    sy / CAST(n AS DOUBLE) AS my,
           |    (sxx / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)))
           |      * CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0) AS vxx,
           |    (syy / CAST(n AS DOUBLE) - (sy / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)))
           |      * CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0) AS vyy,
           |    (sxy / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sy / CAST(n AS DOUBLE)))
           |      * CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0) AS vxy
           |  FROM m),
           |f AS (SELECT cohort, n, sx, sy, ratio,
           |    CASE WHEN n >= 2 AND sy <> 0.0 THEN
           |      sqrt(greatest((vxx - 2.0 * ratio * vxy + ratio * ratio * vyy)
           |        / (CAST(n AS DOUBLE) * my * my), 0.0)) END AS se
           |  FROM e)
           |SELECT cohort, n,
           |  floor(sx * 1000000 + 0.5) / 1000000 AS sum_x,
           |  floor(sy * 1000000 + 0.5) / 1000000 AS sum_y,
           |  CASE WHEN sy <> 0.0 THEN floor(ratio * 1000000 + 0.5) / 1000000 END AS ratio,
           |  floor(se * 1000000 + 0.5) / 1000000 AS se,
           |  CASE WHEN se IS NOT NULL THEN floor((ratio - $z * se) * 1000000 + 0.5) / 1000000 END AS ci_lo,
           |  CASE WHEN se IS NOT NULL THEN floor((ratio + $z * se) * 1000000 + 0.5) / 1000000 END AS ci_hi
           |FROM f""".stripMargin
      }),

    // always-valid (peeking-safe) sequential test on the event halves
    QueryDef("q_msprt",
      (s, dir) =>
        Stats.msprt(ev(s, dir), Seq("event_type"), "value",
            col("event_id") % 2 === 0, tau2 = 1.0)
          .select(col("event_type"), col("n_a"), col("n_b"),
            graft.functions.Portable.r6(col("theta")).as("theta"),
            graft.functions.Portable.r6(col("v")).as("v"),
            graft.functions.Portable.r6(col("lambda")).as("lambda"),
            graft.functions.Portable.r6(col("p_always")).as("p_always")),
      Some("""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x,
          |    coalesce(event_id % 2 = 0, false) AS b FROM events),
          |m AS (SELECT event_type,
          |    CAST(count(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b THEN 1 END) AS BIGINT) AS n_a,
          |    CAST(count(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b THEN 1 END) AS BIGINT) AS n_b,
          |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b
          |      THEN CAST(floor(x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa,
          |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b
          |      THEN CAST(floor(x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb,
          |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b
          |      THEN CAST(floor(x * x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa2,
          |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b
          |      THEN CAST(floor(x * x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb2
          |  FROM v GROUP BY 1),
          |e AS (SELECT event_type, n_a, n_b,
          |    sb / CAST(n_b AS DOUBLE) - sa / CAST(n_a AS DOUBLE) AS theta,
          |    greatest(sa2 / CAST(n_a AS DOUBLE) - (sa / CAST(n_a AS DOUBLE)) * (sa / CAST(n_a AS DOUBLE)), 0.0)
          |        * CAST(n_a AS DOUBLE) / (CAST(n_a AS DOUBLE) - 1.0) / CAST(n_a AS DOUBLE)
          |      + greatest(sb2 / CAST(n_b AS DOUBLE) - (sb / CAST(n_b AS DOUBLE)) * (sb / CAST(n_b AS DOUBLE)), 0.0)
          |        * CAST(n_b AS DOUBLE) / (CAST(n_b AS DOUBLE) - 1.0) / CAST(n_b AS DOUBLE) AS vv
          |  FROM m),
          |f AS (SELECT event_type, n_a, n_b, theta, vv,
          |    sqrt(vv / (vv + 1.0)) * exp(theta * theta * 1.0 / (2.0 * vv * (vv + 1.0))) AS lam
          |  FROM e)
          |SELECT event_type, n_a, n_b,
          |  CASE WHEN n_a > 0 AND n_b > 0 THEN floor(theta * 1000000 + 0.5) / 1000000 END AS theta,
          |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN floor(vv * 1000000 + 0.5) / 1000000 END AS v,
          |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vv > 0.0 THEN
          |    floor(lam * 1000000 + 0.5) / 1000000 END AS lambda,
          |  CASE WHEN n_a >= 2 AND n_b >= 2 AND vv > 0.0 THEN
          |    floor(least(1.0, 1.0 / lam) * 1000000 + 0.5) / 1000000 END AS p_always
          |FROM f""".stripMargin)),

    // purchases per observed user-day, arm B vs arm A
    QueryDef("q_rate_ratio",
      (s, dir) =>
        Stats.rateRatio(ev(s, dir), Seq("event_type"),
            isEvent = col("value") > 50.0, exposureCol = "value",
            armB = col("event_id") % 2 === 0)
          .select(col("event_type"), col("k_a"), col("k_b"),
            graft.functions.Portable.r6(col("t_a")).as("t_a"),
            graft.functions.Portable.r6(col("t_b")).as("t_b"),
            graft.functions.Portable.r6(col("rate_a")).as("rate_a"),
            graft.functions.Portable.r6(col("rate_b")).as("rate_b"),
            graft.functions.Portable.r6(col("rate_ratio")).as("rate_ratio"),
            graft.functions.Portable.r6(col("log_rr")).as("log_rr"),
            graft.functions.Portable.r6(col("se_log_rr")).as("se_log_rr")),
      Some("""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x,
          |    coalesce(event_id % 2 = 0, false) AS b,
          |    coalesce(CAST(value AS DOUBLE) > 50.0, false) AS e FROM events),
          |m AS (SELECT event_type,
          |    CAST(count(CASE WHEN NOT b AND e THEN 1 END) AS BIGINT) AS k_a,
          |    CAST(count(CASE WHEN b AND e THEN 1 END) AS BIGINT) AS k_b,
          |    CAST(coalesce(sum(CASE WHEN NOT b AND x IS NOT NULL AND NOT isnan(x)
          |      THEN CAST(floor(x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS t_a0,
          |    CAST(coalesce(sum(CASE WHEN b AND x IS NOT NULL AND NOT isnan(x)
          |      THEN CAST(floor(x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS t_b0
          |  FROM v GROUP BY 1)
          |SELECT event_type, k_a, k_b,
          |  floor(t_a0 * 1000000 + 0.5) / 1000000 AS t_a,
          |  floor(t_b0 * 1000000 + 0.5) / 1000000 AS t_b,
          |  CASE WHEN t_a0 > 0.0 THEN
          |    floor(CAST(k_a AS DOUBLE) / t_a0 * 1000000 + 0.5) / 1000000 END AS rate_a,
          |  CASE WHEN t_b0 > 0.0 THEN
          |    floor(CAST(k_b AS DOUBLE) / t_b0 * 1000000 + 0.5) / 1000000 END AS rate_b,
          |  CASE WHEN k_a > 0 AND k_b > 0 AND t_a0 > 0.0 AND t_b0 > 0.0 THEN
          |    floor((CAST(k_b AS DOUBLE) / t_b0) / (CAST(k_a AS DOUBLE) / t_a0) * 1000000 + 0.5) / 1000000
          |  END AS rate_ratio,
          |  CASE WHEN k_a > 0 AND k_b > 0 AND t_a0 > 0.0 AND t_b0 > 0.0 THEN
          |    floor(ln((CAST(k_b AS DOUBLE) / t_b0) / (CAST(k_a AS DOUBLE) / t_a0)) * 1000000 + 0.5) / 1000000
          |  END AS log_rr,
          |  CASE WHEN k_a > 0 AND k_b > 0 AND t_a0 > 0.0 AND t_b0 > 0.0 THEN
          |    floor(sqrt(1.0 / CAST(k_a AS DOUBLE) + 1.0 / CAST(k_b AS DOUBLE)) * 1000000 + 0.5) / 1000000
          |  END AS se_log_rr
          |FROM m""".stripMargin)),

    // standardized effect size of value between the event halves
    QueryDef("q_effect_size",
      (s, dir) =>
        Stats.effectSize(ev(s, dir), Seq("event_type"), "value",
            col("event_id") % 2 === 0)
          .select(col("event_type"), col("n_a"), col("n_b"),
            graft.functions.Portable.r6(col("diff")).as("diff"),
            graft.functions.Portable.r6(col("s_pooled")).as("s_pooled"),
            graft.functions.Portable.r6(col("d")).as("d"),
            graft.functions.Portable.r6(col("g")).as("g")),
      Some("""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x,
          |    coalesce(event_id % 2 = 0, false) AS b FROM events),
          |m AS (SELECT event_type,
          |    CAST(count(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b THEN 1 END) AS BIGINT) AS n_a,
          |    CAST(count(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b THEN 1 END) AS BIGINT) AS n_b,
          |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b
          |      THEN CAST(floor(x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa,
          |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b
          |      THEN CAST(floor(x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb,
          |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b
          |      THEN CAST(floor(x * x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa2,
          |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b
          |      THEN CAST(floor(x * x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb2
          |  FROM v GROUP BY 1),
          |e AS (SELECT event_type, n_a, n_b,
          |    sb / CAST(n_b AS DOUBLE) - sa / CAST(n_a AS DOUBLE) AS dif,
          |    sqrt(((CAST(n_a AS DOUBLE) - 1.0)
          |        * (greatest(sa2 / CAST(n_a AS DOUBLE) - (sa / CAST(n_a AS DOUBLE)) * (sa / CAST(n_a AS DOUBLE)), 0.0)
          |           * CAST(n_a AS DOUBLE) / (CAST(n_a AS DOUBLE) - 1.0))
          |      + (CAST(n_b AS DOUBLE) - 1.0)
          |        * (greatest(sb2 / CAST(n_b AS DOUBLE) - (sb / CAST(n_b AS DOUBLE)) * (sb / CAST(n_b AS DOUBLE)), 0.0)
          |           * CAST(n_b AS DOUBLE) / (CAST(n_b AS DOUBLE) - 1.0)))
          |      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) - 2.0)) AS sp
          |  FROM m)
          |SELECT event_type, n_a, n_b,
          |  CASE WHEN n_a > 0 AND n_b > 0 THEN floor(dif * 1000000 + 0.5) / 1000000 END AS diff,
          |  CASE WHEN n_a >= 2 AND n_b >= 2 THEN floor(sp * 1000000 + 0.5) / 1000000 END AS s_pooled,
          |  CASE WHEN n_a >= 2 AND n_b >= 2 AND sp > 0.0 THEN
          |    floor(dif / sp * 1000000 + 0.5) / 1000000 END AS d,
          |  CASE WHEN n_a >= 2 AND n_b >= 2 AND sp > 0.0 THEN
          |    floor(dif / sp * (1.0 - 3.0 / (4.0 * (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) - 9.0))
          |      * 1000000 + 0.5) / 1000000 END AS g
          |FROM e""".stripMargin)),

    // Haldane-corrected odds ratio of the long-doc outcome per lang
    QueryDef("q_odds_ratio",
      (s, dir) =>
        Stats.oddsRatio(docs(s, dir), Seq("lang"),
            hit = col("n_chars") > 300, armB = col("doc_id") % 2 === 0)
          .select(col("lang"), col("n_a"), col("n_b"), col("k_a"), col("k_b"),
            graft.functions.Portable.r6(col("odds_ratio")).as("odds_ratio"),
            graft.functions.Portable.r6(col("log_or")).as("log_or"),
            graft.functions.Portable.r6(col("se_log_or")).as("se_log_or")),
      Some("""WITH m AS (SELECT lang,
          |    CAST(count(CASE WHEN NOT coalesce(doc_id % 2 = 0, false) THEN 1 END) AS BIGINT) AS n_a,
          |    CAST(count(CASE WHEN coalesce(doc_id % 2 = 0, false) THEN 1 END) AS BIGINT) AS n_b,
          |    CAST(count(CASE WHEN NOT coalesce(doc_id % 2 = 0, false)
          |      AND coalesce(n_chars > 300, false) THEN 1 END) AS BIGINT) AS k_a,
          |    CAST(count(CASE WHEN coalesce(doc_id % 2 = 0, false)
          |      AND coalesce(n_chars > 300, false) THEN 1 END) AS BIGINT) AS k_b
          |  FROM documents GROUP BY 1),
          |e AS (SELECT lang, n_a, n_b, k_a, k_b,
          |    CAST(k_b AS DOUBLE) + 0.5 AS a, CAST(n_b - k_b AS DOUBLE) + 0.5 AS b,
          |    CAST(k_a AS DOUBLE) + 0.5 AS c, CAST(n_a - k_a AS DOUBLE) + 0.5 AS d
          |  FROM m)
          |SELECT lang, n_a, n_b, k_a, k_b,
          |  CASE WHEN n_a > 0 AND n_b > 0 THEN
          |    floor(a * d / (c * b) * 1000000 + 0.5) / 1000000 END AS odds_ratio,
          |  CASE WHEN n_a > 0 AND n_b > 0 THEN
          |    floor(ln(a * d / (c * b)) * 1000000 + 0.5) / 1000000 END AS log_or,
          |  CASE WHEN n_a > 0 AND n_b > 0 THEN
          |    floor(sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) * 1000000 + 0.5) / 1000000 END AS se_log_or
          |FROM e""".stripMargin)),

    // every event stream Welch-tested against the 'view' control arm
    QueryDef("q_mvc",
      (s, dir) =>
        Stats.manyVsControl(ev(s, dir), "event_type", "value", controlArm = "view")
          .select(col("arm"), col("n"), col("n_control"),
            graft.functions.Portable.r6(col("mean")).as("mean"),
            graft.functions.Portable.r6(col("mean_control")).as("mean_control"),
            graft.functions.Portable.r6(col("diff")).as("diff"),
            graft.functions.Portable.r6(col("se")).as("se"),
            graft.functions.Portable.r6(col("z")).as("z"),
            graft.functions.Portable.r6(col("p")).as("p")),
      Some(s"""WITH v AS (SELECT event_type AS arm, CAST(value AS DOUBLE) AS x FROM events
           |  WHERE event_type IS NOT NULL),
           |m AS (SELECT arm,
           |    CAST(count(CASE WHEN x IS NOT NULL AND NOT isnan(x) THEN 1 END) AS BIGINT) AS n,
           |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x)
           |      THEN CAST(floor(x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS s,
           |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x)
           |      THEN CAST(floor(x * x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS s2
           |  FROM v GROUP BY 1),
           |c AS (SELECT n AS nc, s AS cs, s2 AS cs2 FROM m WHERE arm = 'view'),
           |e AS (SELECT arm, n, nc, s, s2, cs, cs2,
           |    s / CAST(n AS DOUBLE) AS mean, cs / CAST(nc AS DOUBLE) AS meanc,
           |    CASE WHEN n >= 2 AND nc >= 2 THEN
           |      sqrt(greatest(s2 / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)), 0.0)
           |          * CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0) / CAST(n AS DOUBLE)
           |        + greatest(cs2 / CAST(nc AS DOUBLE) - (cs / CAST(nc AS DOUBLE)) * (cs / CAST(nc AS DOUBLE)), 0.0)
           |          * CAST(nc AS DOUBLE) / (CAST(nc AS DOUBLE) - 1.0) / CAST(nc AS DOUBLE)) END AS se
           |  FROM m, c WHERE arm <> 'view'),
           |f AS (SELECT arm, n, nc, mean, meanc, se,
           |    CASE WHEN se > 0.0 THEN (mean - meanc) / se END AS z
           |  FROM e),
           |g AS (SELECT f.*, abs(z) AS az, 1.0 / (1.0 + 0.33267 * abs(z)) AS tt FROM f)
           |SELECT arm, n, nc AS n_control,
           |  CASE WHEN n > 0 THEN floor(mean * 1000000 + 0.5) / 1000000 END AS mean,
           |  CASE WHEN nc > 0 THEN floor(meanc * 1000000 + 0.5) / 1000000 END AS mean_control,
           |  CASE WHEN n > 0 AND nc > 0 THEN floor((mean - meanc) * 1000000 + 0.5) / 1000000 END AS diff,
           |  floor(se * 1000000 + 0.5) / 1000000 AS se,
           |  floor(z * 1000000 + 0.5) / 1000000 AS z,
           |  CASE WHEN z IS NOT NULL THEN floor($pSql * 1000000 + 0.5) / 1000000 END AS p
           |FROM g""".stripMargin)),

    // A/B health gate: is the even/odd split actually 50/50 per stream
    QueryDef("q_srm",
      (s, dir) =>
        Stats.sampleRatioMismatch(ev(s, dir), Seq("event_type"),
            col("event_id") % 2 === 0, expectedB = 0.5)
          .select(col("event_type"), col("n_a"), col("n_b"),
            graft.functions.Portable.r6(col("frac_b")).as("frac_b"),
            graft.functions.Portable.r6(col("chi2")).as("chi2")),
      Some("""WITH m AS (SELECT event_type,
          |    CAST(count(CASE WHEN NOT coalesce(event_id % 2 = 0, false) THEN 1 END) AS BIGINT) AS n_a,
          |    CAST(count(CASE WHEN coalesce(event_id % 2 = 0, false) THEN 1 END) AS BIGINT) AS n_b
          |  FROM events GROUP BY 1)
          |SELECT event_type, n_a, n_b,
          |  CASE WHEN n_a + n_b > 0 THEN
          |    floor(CAST(n_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS frac_b,
          |  CASE WHEN n_a + n_b > 0 THEN floor((
          |    (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * 0.5)
          |      * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * 0.5)
          |      / (CAST(n_a + n_b AS DOUBLE) * 0.5)
          |    + (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * (1.0 - 0.5))
          |      * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) * (1.0 - 0.5))
          |      / (CAST(n_a + n_b AS DOUBLE) * (1.0 - 0.5))
          |  ) * 1000000 + 0.5) / 1000000 END AS chi2
          |FROM m""".stripMargin)),

    // distributional A/B: quantile shift of value between event halves
    QueryDef("q_qte",
      (s, dir) =>
        Stats.quantileShift(ev(s, dir), Seq("event_type"), "value",
            armB = col("event_id") % 2 === 0, ps = QuantilePs)
          .select(col("event_type"), col("p"),
            graft.functions.Portable.r6(col("q_a")).as("q_a"),
            graft.functions.Portable.r6(col("q_b")).as("q_b"),
            graft.functions.Portable.r6(col("shift")).as("shift")),
      Some {
        val ps = QuantilePs.map(p => s"CAST($p AS DOUBLE)").mkString("[", ", ", "]")
        s"""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x,
           |    coalesce(event_id % 2 = 0, false) AS b FROM events
           |  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
           |q AS (SELECT event_type,
           |    quantile_cont(x, $ps) FILTER (WHERE NOT b) AS qa,
           |    quantile_cont(x, $ps) FILTER (WHERE b) AS qb
           |  FROM v GROUP BY 1)
           |SELECT event_type, unnest($ps) AS p,
           |  floor(unnest(qa) * 1000000 + 0.5) / 1000000 AS q_a,
           |  floor(unnest(qb) * 1000000 + 0.5) / 1000000 AS q_b,
           |  floor((unnest(qb) - unnest(qa)) * 1000000 + 0.5) / 1000000 AS shift
           |FROM q""".stripMargin
      }),

    // strata-adjusted ATE across event types (Simpson-proof A/B)
    QueryDef("q_strat_ate",
      (s, dir) =>
        Stats.stratifiedAte(ev(s, dir), Seq("event_type"), "value",
            col("event_id") % 2 === 0)
          .select(col("n"), col("n_strata"), col("n_strata_incomplete"),
            graft.functions.Portable.r6(col("ate")).as("ate"),
            graft.functions.Portable.r6(col("se")).as("se"),
            graft.functions.Portable.r6(col("z")).as("z")),
      Some("""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x,
          |    coalesce(event_id % 2 = 0, false) AS b FROM events),
          |m AS (SELECT event_type,
          |    count(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b THEN 1 END) AS na,
          |    count(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b THEN 1 END) AS nb,
          |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b
          |      THEN CAST(floor(x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa,
          |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b
          |      THEN CAST(floor(x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb,
          |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND NOT b
          |      THEN CAST(floor(x * x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa2,
          |    CAST(coalesce(sum(CASE WHEN x IS NOT NULL AND NOT isnan(x) AND b
          |      THEN CAST(floor(x * x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb2
          |  FROM v GROUP BY 1),
          |ps AS (SELECT na + nb AS ns,
          |    CASE WHEN na >= 1 AND nb >= 1 THEN sb / nb - sa / na END AS eff,
          |    CASE WHEN na >= 2 AND nb >= 2 THEN
          |      greatest(sa2 / na - (sa / na) * (sa / na), 0.0) * na / (na - 1.0) / na
          |      + greatest(sb2 / nb - (sb / nb) * (sb / nb), 0.0) * nb / (nb - 1.0) / nb END AS vs
          |  FROM m),
          |g AS (SELECT CAST(sum(ns) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS n_strata,
          |    CAST(count(CASE WHEN eff IS NULL THEN 1 END) AS BIGINT) AS n_strata_incomplete,
          |    count(CASE WHEN eff IS NOT NULL AND vs IS NULL THEN 1 END) AS novar,
          |    CAST(coalesce(sum(CASE WHEN eff IS NOT NULL THEN ns END), 0) AS BIGINT) AS nc,
          |    CAST(coalesce(sum(CAST(floor(CAST(ns AS DOUBLE) * eff * 1000000 + 0.5) / 1000000
          |      AS DECIMAL(38,6))), 0) AS DOUBLE) AS we,
          |    CAST(coalesce(sum(CAST(floor(CAST(ns AS DOUBLE) * ns * vs * 1000000 + 0.5) / 1000000
          |      AS DECIMAL(38,6))), 0) AS DOUBLE) AS wv
          |  FROM ps)
          |SELECT n, n_strata, n_strata_incomplete,
          |  CASE WHEN nc > 0 THEN floor(we / CAST(nc AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS ate,
          |  CASE WHEN novar = 0 AND nc > 0 THEN
          |    floor(sqrt(wv) / CAST(nc AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS se,
          |  CASE WHEN novar = 0 AND nc > 0 AND sqrt(wv) / CAST(nc AS DOUBLE) > 0.0 THEN
          |    floor((we / CAST(nc AS DOUBLE)) / (sqrt(wv) / CAST(nc AS DOUBLE)) * 1000000 + 0.5) / 1000000
          |  END AS z
          |FROM g""".stripMargin)),

    // pre-launch A/B power: arm size needed to detect a 5% shift of
    // value per event stream at alpha=.05 / power=.8
    QueryDef("q_power",
      (s, dir) =>
        Stats.powerAnalysis(ev(s, dir), Seq("event_type"), "value", relEffect = 0.05)
          .select(col("event_type"), col("n"),
            graft.functions.Portable.r6(col("mean")).as("mean"),
            graft.functions.Portable.r6(col("sd")).as("sd"),
            graft.functions.Portable.r6(col("delta")).as("delta"),
            col("n_required")),
      Some {
        val coef = 2.0 * (1.959963984540054 + 0.8416212335729143) *
          (1.959963984540054 + 0.8416212335729143)
        s"""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x FROM events
           |  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
           |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |    CAST(coalesce(sum(CAST(floor(x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))), 0) AS DOUBLE) AS sx,
           |    CAST(coalesce(sum(CAST(floor(x * x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))), 0) AS DOUBLE) AS sxx
           |  FROM v GROUP BY 1),
           |f AS (SELECT event_type, n, sx / CAST(n AS DOUBLE) AS mean,
           |    greatest(sxx / CAST(n AS DOUBLE) - (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)), 0.0)
           |      * CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0) AS v,
           |    0.05 * (sx / CAST(n AS DOUBLE)) AS delta
           |  FROM m)
           |SELECT event_type, n,
           |  floor(mean * 1000000 + 0.5) / 1000000 AS mean,
           |  CASE WHEN n >= 2 THEN floor(sqrt(v) * 1000000 + 0.5) / 1000000 END AS sd,
           |  floor(delta * 1000000 + 0.5) / 1000000 AS delta,
           |  CASE WHEN n >= 2 AND delta <> 0.0 THEN
           |    CAST(ceil($coef * v / (delta * delta)) AS BIGINT) END AS n_required
           |FROM f""".stripMargin
      }),

    // covariate balance (SMD table) between the event-id halves
    QueryDef("q_balance",
      (s, dir) =>
        Stats.covariateBalance(
            ev(s, dir).withColumn("hr", hour(col("ts")).cast("double")),
            Seq("value", "hr"), col("event_id") % 2 === 0)
          .select(col("covariate"), col("n_a"), col("n_b"),
            graft.functions.Portable.r6(col("mean_a")).as("mean_a"),
            graft.functions.Portable.r6(col("mean_b")).as("mean_b"),
            graft.functions.Portable.r6(col("smd")).as("smd"),
            graft.functions.Portable.r6(col("variance_ratio")).as("variance_ratio")),
      Some {
        def cov(name: String, vExpr: String): String =
          s"""SELECT '$name' AS covariate, na AS n_a, nb AS n_b,
             |  floor(mean_a * 1000000 + 0.5) / 1000000 AS mean_a,
             |  floor(mean_b * 1000000 + 0.5) / 1000000 AS mean_b,
             |  floor(CASE WHEN (va + vb) / 2.0 > 0.0 THEN (mean_b - mean_a) / sqrt((va + vb) / 2.0)
             |        WHEN (va + vb) / 2.0 = 0.0 AND mean_b = mean_a THEN 0.0 END
             |    * 1000000 + 0.5) / 1000000 AS smd,
             |  floor(CASE WHEN va > 0.0 THEN vb / va END * 1000000 + 0.5) / 1000000 AS variance_ratio
             |FROM (SELECT na, nb, mean_a, mean_b,
             |    CASE WHEN na >= 2 THEN (greatest(sa2 / CAST(na AS DOUBLE) - mean_a * mean_a, 0.0)
             |      * CAST(na AS DOUBLE)) / (CAST(na AS DOUBLE) - 1.0) END AS va,
             |    CASE WHEN nb >= 2 THEN (greatest(sb2 / CAST(nb AS DOUBLE) - mean_b * mean_b, 0.0)
             |      * CAST(nb AS DOUBLE)) / (CAST(nb AS DOUBLE) - 1.0) END AS vb
             |  FROM (SELECT na, nb, sa2, sb2,
             |      CASE WHEN na >= 1 THEN sa / CAST(na AS DOUBLE) END AS mean_a,
             |      CASE WHEN nb >= 1 THEN sb / CAST(nb AS DOUBLE) END AS mean_b
             |    FROM (SELECT
             |        CAST(count(CASE WHEN p AND NOT b THEN 1 END) AS BIGINT) AS na,
             |        CAST(count(CASE WHEN p AND b THEN 1 END) AS BIGINT) AS nb,
             |        CAST(coalesce(sum(CASE WHEN p AND NOT b THEN CAST(floor(v * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa,
             |        CAST(coalesce(sum(CASE WHEN p AND b THEN CAST(floor(v * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb,
             |        CAST(coalesce(sum(CASE WHEN p AND NOT b THEN CAST(floor(v * v * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa2,
             |        CAST(coalesce(sum(CASE WHEN p AND b THEN CAST(floor(v * v * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sb2
             |      FROM (SELECT $vExpr AS v,
             |          $vExpr IS NOT NULL AND NOT isnan($vExpr) AS p,
             |          coalesce(event_id % 2 = 0, FALSE) AS b FROM events) t0) t1) t2) t3""".stripMargin
        cov("value", "CAST(value AS DOUBLE)") + "\nUNION ALL\n" +
          cov("hr", "CAST(hour(ts) AS DOUBLE)")
      }),

    // empirical-Bayes beta-binomial shrinkage of per-customer urgent-
    // order rates (method-of-moments prior from the data)
    QueryDef("q_eb_shrink",
      (s, dir) =>
        Shrinkage.ebBetaBinomial(
          Tables.orders(s, dir), "o_custkey",
          col("o_orderpriority") === "1-URGENT")
          .withColumnRenamed("group", "o_custkey"),
      Some(s"""WITH grp AS (SELECT o_custkey, count(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS x,
           |    count(*) AS n FROM orders GROUP BY 1),
           |gr AS (SELECT o_custkey, x, n, ${r6("CAST(x AS DOUBLE) / CAST(n AS DOUBLE)")} AS raw_rate FROM grp),
           |mo AS (SELECT ${dsum("raw_rate")} / CAST(count(*) AS DOUBLE) AS m,
           |    CASE WHEN count(*) > 1 THEN (${dsum(r6("raw_rate * raw_rate"))} -
           |      ${dsum("raw_rate")} * ${dsum("raw_rate")} / CAST(count(*) AS DOUBLE)) / (CAST(count(*) AS DOUBLE) - 1.0)
           |    END AS v FROM gr),
           |pr AS (SELECT CASE WHEN v > 0 AND m * (1.0 - m) > v THEN ${r6("m * (1.0 - m) / v - 1.0")} END AS k,
           |    m FROM mo),
           |sh AS (SELECT gr.*, CASE WHEN pr.k > 0 THEN ${r6("pr.m * pr.k")} END AS eb_alpha,
           |    CASE WHEN pr.k > 0 THEN ${r6("(1.0 - pr.m) * pr.k")} END AS eb_beta FROM gr, pr)
           |SELECT o_custkey, x, n, raw_rate,
           |  CASE WHEN eb_alpha IS NOT NULL THEN
           |    ${r6("(CAST(x AS DOUBLE) + eb_alpha) / (CAST(n AS DOUBLE) + eb_alpha + eb_beta)")}
           |  ELSE raw_rate END AS shrunk_rate, eb_alpha, eb_beta FROM sh""".stripMargin)),

    // Cochran-Mantel-Haenszel: arm x high-value association controlled
    // for event_type strata + the MH pooled odds ratio
    QueryDef("q_cmh",
      (s, dir) => {
        val arm = TextFunctions.md5Hash32(
          concat(lit("cmh:"), col("user_id").cast("string"))) % 2 === 1
        Hypothesis.cmh(ev(s, dir), Seq("event_type"), col("value") >= 10.0, arm)
      },
      Some {
        // the SAME A&S 26.2.16 tail as Hypothesis.pFromZ (the q_bh form)
        s"""WITH e AS (SELECT event_type,
           |    ${h32("concat('cmh:', CAST(user_id AS VARCHAR))")} % 2 = 1 AS a,
           |    value >= 10.0 AS hit FROM events),
           |cells AS (SELECT event_type,
           |    count(CASE WHEN a AND hit THEN 1 END) AS ca,
           |    count(CASE WHEN a AND NOT hit THEN 1 END) AS cb,
           |    count(CASE WHEN NOT a AND hit THEN 1 END) AS cc,
           |    count(CASE WHEN NOT a AND NOT hit THEN 1 END) AS cd
           |  FROM e GROUP BY 1),
           |w AS (SELECT *, ca + cb + cc + cd AS n, ca + cb + cc + cd >= 2 AS info FROM cells),
           |s AS (SELECT
           |    count(CASE WHEN info THEN 1 END) AS k_strata,
           |    count(CASE WHEN NOT info THEN 1 END) AS k_dropped,
           |    CAST(coalesce(sum(CASE WHEN info THEN n END), 0) AS BIGINT) AS n,
           |    coalesce(${dsum(s"CASE WHEN info THEN ${r6("CAST(ca AS DOUBLE) - CAST(ca + cb AS DOUBLE) * CAST(ca + cc AS DOUBLE) / CAST(n AS DOUBLE)")} END")}, 0.0) AS dev,
           |    coalesce(${dsum(s"CASE WHEN info THEN ${r6("CAST(ca + cb AS DOUBLE) * CAST(cc + cd AS DOUBLE) * CAST(ca + cc AS DOUBLE) * CAST(cb + cd AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))")} END")}, 0.0) AS v,
           |    coalesce(${dsum(s"CASE WHEN info THEN ${r6("CAST(ca AS DOUBLE) * CAST(cd AS DOUBLE) / CAST(n AS DOUBLE)")} END")}, 0.0) AS rn,
           |    coalesce(${dsum(s"CASE WHEN info THEN ${r6("CAST(cb AS DOUBLE) * CAST(cc AS DOUBLE) / CAST(n AS DOUBLE)")} END")}, 0.0) AS rd
           |  FROM w),
           |c2 AS (SELECT *, CASE WHEN v > 0 THEN ${r6("dev * dev / v")} END AS chi2 FROM s),
           |pz AS (SELECT *, sqrt(chi2) AS az, 1.0 / (1.0 + 0.33267 * sqrt(chi2)) AS tt FROM c2)
           |SELECT k_strata, k_dropped, n, chi2,
           |  CASE WHEN chi2 IS NOT NULL THEN ${r6(pSql)} END AS p_value,
           |  CASE WHEN rd > 0 THEN ${r6("rn / rd")} END AS or_mh
           |FROM pz""".stripMargin
      }),

    // delete-one-bucket jackknife CI for value-per-click, bucketed by
    // user (the unit of randomization)
    QueryDef("q_jackknife",
      (s, dir) =>
        Jackknife.ratioCi(ev(s, dir), "user_id", col("value"),
          when(col("event_type") === "click", lit(1.0)).otherwise(lit(0.0)),
          buckets = 20, seed = "jk42"),
      Some(s"""WITH rws AS (SELECT
           |    ${h32("concat('jk42', '|', CAST(user_id AS VARCHAR))")} % 20 AS b,
           |    value AS num, CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END AS den
           |  FROM events),
           |pb AS (SELECT b, count(*) AS nrows,
           |    coalesce(${dsum(r6("num"))}, 0.0) AS n, coalesce(${dsum(r6("den"))}, 0.0) AS d
           |  FROM rws GROUP BY 1),
           |tot AS (SELECT CAST(sum(nrows) AS BIGINT) AS n_rows, count(*) AS n_buckets,
           |    coalesce(${dsum("n")}, 0.0) AS tn, coalesce(${dsum("d")}, 0.0) AS td FROM pb),
           |reps AS (SELECT pb.*, CASE WHEN t.td - pb.d > 0 THEN ${r6("(t.tn - pb.n) / (t.td - pb.d)")} END AS rep
           |  FROM pb, tot t),
           |st AS (SELECT count(CASE WHEN rep IS NULL THEN 1 END) AS b_degenerate,
           |    CAST(count(*) AS DOUBLE) AS bd,
           |    coalesce(${dsum("rep")}, 0.0) AS sr, coalesce(${dsum(r6("rep * rep"))}, 0.0) AS sr2 FROM reps),
           |fin AS (SELECT t.n_rows, t.n_buckets, st.b_degenerate,
           |    CASE WHEN t.td > 0 THEN ${r6("t.tn / t.td")} END AS ratio,
           |    CASE WHEN st.b_degenerate = 0 AND t.td > 0 THEN
           |      ${r6("sqrt(greatest(0.0, (st.bd - 1.0) / st.bd * (st.sr2 - st.sr * st.sr / st.bd)))")}
           |    END AS se_jack
           |  FROM tot t, st)
           |SELECT n_rows, n_buckets, b_degenerate, ratio, se_jack,
           |  CASE WHEN se_jack IS NOT NULL THEN ${r6("ratio - 1.959964 * se_jack")} END AS ci_lo,
           |  CASE WHEN se_jack IS NOT NULL THEN ${r6("ratio + 1.959964 * se_jack")} END AS ci_hi
           |FROM fin""".stripMargin)),

    // Simpson's-paradox audit: pooled vs MH-stratified rate difference
    // across event-type strata for the md5 A/B arms
    QueryDef("q_simpson",
      (s, dir) => {
        val arm = TextFunctions.md5Hash32(
          concat(lit("cmh:"), col("user_id").cast("string"))) % 2 === 1
        Hypothesis.simpsonCheck(ev(s, dir), Seq("event_type"), col("value") >= 10.0, arm)
      },
      Some(s"""WITH e AS (SELECT event_type,
           |    ${h32("concat('cmh:', CAST(user_id AS VARCHAR))")} % 2 = 1 AS a,
           |    value >= 10.0 AS hit FROM events),
           |cells AS (SELECT event_type,
           |    count(CASE WHEN a THEN 1 END) AS na,
           |    count(CASE WHEN NOT a THEN 1 END) AS nb,
           |    count(CASE WHEN a AND hit THEN 1 END) AS ka,
           |    count(CASE WHEN NOT a AND hit THEN 1 END) AS kb
           |  FROM e GROUP BY 1),
           |d AS (SELECT *,
           |    CAST(ka AS DOUBLE) / CAST(na AS DOUBLE) - CAST(kb AS DOUBLE) / CAST(nb AS DOUBLE) AS dd,
           |    CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)) AS wgt,
           |    na > 0 AND nb > 0 AS wtd FROM cells),
           |su AS (SELECT count(*) AS k_strata,
           |    CAST(sum(na + nb) AS BIGINT) AS n,
           |    CAST(sum(na) AS BIGINT) AS sna, CAST(sum(nb) AS BIGINT) AS snb,
           |    CAST(sum(ka) AS BIGINT) AS ska, CAST(sum(kb) AS BIGINT) AS skb,
           |    coalesce(${dsum(s"CASE WHEN wtd THEN ${r6("wgt * dd")} END")}, 0.0) AS wd,
           |    coalesce(${dsum(s"CASE WHEN wtd THEN ${r6("wgt")} END")}, 0.0) AS w
           |  FROM d),
           |pp AS (SELECT *,
           |    CASE WHEN sna > 0 AND snb > 0 THEN
           |      ${r6("CAST(ska AS DOUBLE) / CAST(sna AS DOUBLE) - CAST(skb AS DOUBLE) / CAST(snb AS DOUBLE)")}
           |    END AS pooled,
           |    CASE WHEN w > 0 THEN ${r6("wd / w")} END AS strat FROM su),
           |tl AS (SELECT coalesce(sum(CASE WHEN d.wtd AND pp.pooled IS NOT NULL
           |      AND sign(d.dd) <> 0 AND sign(d.dd) <> sign(pp.pooled) THEN 1 END), 0) AS n_reversed
           |  FROM d, pp)
           |SELECT pp.k_strata, pp.n, pp.pooled AS pooled_diff, pp.strat AS stratified_diff,
           |  CAST(tl.n_reversed AS BIGINT) AS n_reversed,
           |  CASE WHEN pp.pooled IS NOT NULL AND pp.strat IS NOT NULL THEN
           |    sign(pp.pooled) <> sign(pp.strat) AND sign(pp.pooled) <> 0
           |  END AS simpson_flag
           |FROM pp, tl""".stripMargin)),

    // Fleiss' kappa across three deterministic heuristic "raters" —
    // the annotator-agreement gate on a preference/label corpus
    QueryDef("q_fleiss",
      (s, dir) => {
        val d = docs(s, dir)
        def vote(c: org.apache.spark.sql.Column) =
          when(c, lit("long")).otherwise(lit("short"))
        val votes = d.select(col("doc_id"), vote(col("n_chars") >= 250).as("vote"))
          .unionByName(d.select(col("doc_id"), vote(col("n_chars") >= 300).as("vote")))
          .unionByName(d.select(col("doc_id"),
            vote(size(TextFunctions.wordTokens(col("text"))) >= 55).as("vote")))
        Evaluation.fleissKappa(votes, "doc_id", "vote")
      },
      Some(s"""WITH lw AS (SELECT doc_id, n_chars,
           |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS nw
           |  FROM documents),
           |votes AS (
           |  SELECT doc_id, CASE WHEN n_chars >= 250 THEN 'long' ELSE 'short' END AS vote FROM lw
           |  UNION ALL SELECT doc_id, CASE WHEN n_chars >= 300 THEN 'long' ELSE 'short' END FROM lw
           |  UNION ALL SELECT doc_id, CASE WHEN nw >= 55 THEN 'long' ELSE 'short' END FROM lw),
           |cells AS (SELECT doc_id, vote, count(*) AS nij FROM votes GROUP BY 1, 2),
           |items AS (SELECT doc_id, CAST(sum(nij) AS BIGINT) AS m,
           |    CAST(sum(nij * nij) AS BIGINT) AS sq FROM cells GROUP BY 1),
           |chk AS (SELECT count(*) AS ni, CAST(min(m) AS BIGINT) AS m FROM items),
           |pb AS (SELECT c.ni AS n_items, c.m AS m_raters,
           |    ${r6(s"coalesce(${dsum(r6("CAST(sq - i.m AS DOUBLE) / (CAST(c.m AS DOUBLE) * (CAST(c.m AS DOUBLE) - 1.0))"))}, 0.0) / CAST(count(*) AS DOUBLE)")} AS p_bar
           |  FROM items i, chk c GROUP BY 1, 2),
           |mg AS (SELECT vote, CAST(sum(nij) AS BIGINT) AS cn FROM cells GROUP BY 1),
           |pe AS (SELECT count(*) AS n_categories,
           |    ${r6(s"coalesce(${dsum(r6(s"${r6("CAST(cn AS DOUBLE) / CAST(c.ni * c.m AS DOUBLE)")} * ${r6("CAST(cn AS DOUBLE) / CAST(c.ni * c.m AS DOUBLE)")}"))}, 0.0)")} AS p_e
           |  FROM mg, chk c)
           |SELECT pb.n_items, pb.m_raters, pe.n_categories, pb.p_bar, pe.p_e,
           |  CASE WHEN pe.p_e < 1.0 THEN ${r6("(pb.p_bar - pe.p_e) / (1.0 - pe.p_e)")} END AS kappa
           |FROM pb, pe""".stripMargin)),

    // split-half reliability of the per-source mean-length metric:
    // is the source league table signal or re-rolled dice
    QueryDef("q_split_half",
      (s, dir) =>
        Reliability.splitHalf(docs(s, dir), "source", "doc_id",
          col("n_chars"), seed = "sh42"),
      Some(s"""WITH rws AS (SELECT source AS g,
           |    ${h32("concat('sh42', '|', CAST(doc_id AS VARCHAR))")} % 2 AS h,
           |    CAST(n_chars AS DOUBLE) AS m FROM documents WHERE n_chars IS NOT NULL),
           |cells AS (SELECT g, h, ${r6(s"${dsum(r6("m"))} / CAST(count(*) AS DOUBLE)")} AS mm
           |  FROM rws GROUP BY 1, 2),
           |wide AS (SELECT g, max(CASE WHEN h = 0 THEN mm END) AS m0,
           |    max(CASE WHEN h = 1 THEN mm END) AS m1 FROM cells GROUP BY 1),
           |st AS (SELECT
           |    count(CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN 1 END) AS n_groups,
           |    count(CASE WHEN m0 IS NULL OR m1 IS NULL THEN 1 END) AS n_dropped,
           |    coalesce(${dsum("CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN m0 END")}, 0.0) AS s0,
           |    coalesce(${dsum("CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN m1 END")}, 0.0) AS s1,
           |    coalesce(${dsum(s"CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN ${r6("m0 * m1")} END")}, 0.0) AS s01,
           |    coalesce(${dsum(s"CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN ${r6("m0 * m0")} END")}, 0.0) AS s00,
           |    coalesce(${dsum(s"CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN ${r6("m1 * m1")} END")}, 0.0) AS s11,
           |    CAST(count(CASE WHEN m0 IS NOT NULL AND m1 IS NOT NULL THEN 1 END) AS DOUBLE) AS nd
           |  FROM wide),
           |rr AS (SELECT *, CASE WHEN n_groups >= 3
           |      AND s00 - s0 * s0 / nd > 0 AND s11 - s1 * s1 / nd > 0 THEN
           |    ${r6("(s01 - s0 * s1 / nd) / sqrt((s00 - s0 * s0 / nd) * (s11 - s1 * s1 / nd))")}
           |  END AS r_half FROM st)
           |SELECT n_groups, n_dropped, r_half,
           |  CASE WHEN r_half IS NOT NULL AND r_half > -1.0 THEN
           |    ${r6("2.0 * r_half / (1.0 + r_half)")} END AS reliability
           |FROM rr""".stripMargin)),

    // whole-table drift report: KS + PSI per derived numeric feature,
    // src0 as the reference slice
    QueryDef("q_drift_report",
      { (s, dir) =>
        val feats = docs(s, dir).select(
          col("source"),
          col("n_chars").cast("double").as("n_chars"),
          size(TextFunctions.wordTokens(col("text"))).cast("double").as("n_words"),
          size(split(col("text"), "\n")).cast("double").as("n_lines"))
        Drift.driftReport(feats, Seq("n_chars", "n_words", "n_lines"),
            col("source") === "src0")
          .select(col("feature"), col("n_ref"), col("n_cur"),
            graft.functions.Portable.r6(col("d")).as("d"),
            graft.functions.Portable.r6(col("ks")).as("ks"),
            graft.functions.Portable.r6(col("psi")).as("psi"))
      },
      Some(s"""WITH m AS (
           |  SELECT source = 'src0' AS ref, 'n_chars' AS feature, CAST(n_chars AS DOUBLE) AS v FROM documents
           |  UNION ALL
           |  SELECT source = 'src0', 'n_words', CAST(len(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'')) AS DOUBLE) FROM documents
           |  UNION ALL
           |  SELECT source = 'src0', 'n_lines', CAST(len(string_split(text, chr(10))) AS DOUBLE) FROM documents),
           |vv AS (SELECT feature, CASE WHEN ref THEN 1 ELSE 0 END AS a, v AS x FROM m
           |  WHERE v IS NOT NULL AND NOT isnan(v)),
           |c AS (SELECT feature, x, CAST(sum(a) AS BIGINT) AS ca, CAST(sum(1 - a) AS BIGINT) AS cb
           |      FROM vv GROUP BY 1, 2),
           |w AS (SELECT feature,
           |        CAST(sum(ca) OVER (PARTITION BY feature ORDER BY x) AS BIGINT) AS fa,
           |        CAST(sum(cb) OVER (PARTITION BY feature ORDER BY x) AS BIGINT) AS fb,
           |        CAST(sum(ca) OVER (PARTITION BY feature) AS BIGINT) AS na,
           |        CAST(sum(cb) OVER (PARTITION BY feature) AS BIGINT) AS nb
           |      FROM c),
           |ksm AS (SELECT feature, max(na) AS n_ref, max(nb) AS n_cur,
           |        max(CASE WHEN na > 0 AND nb > 0 THEN
           |          abs(CAST(fa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(fb AS DOUBLE) / CAST(nb AS DOUBLE)) END) AS d0
           |      FROM w GROUP BY 1),
           |r2 AS (SELECT feature, min(x) AS lo, max(x) AS hi FROM vv GROUP BY 1),
           |b2 AS (SELECT vv.feature, a = 1 AS ref,
           |    CASE WHEN r2.hi = r2.lo THEN 0
           |         ELSE CAST(least(floor((x - r2.lo) / ((r2.hi - r2.lo)/10.0)), 9.0) AS INT) END AS bin
           |  FROM vv JOIN r2 ON vv.feature = r2.feature),
           |c2 AS (SELECT feature, ref, bin, count(*) AS n FROM b2 GROUP BY 1,2,3),
           |tt AS (SELECT feature, ref, sum(n) AS tot FROM c2 GROUP BY 1,2),
           |grid AS (SELECT feature, CAST(range AS INT) AS bin
           |  FROM (SELECT DISTINCT feature FROM c2) CROSS JOIN range(10)),
           |j2 AS (SELECT grid.feature,
           |    (CAST(COALESCE(cr.n,0) AS DOUBLE)+0.5)/(CAST(COALESCE(tr.tot,0) AS DOUBLE)+5.0) AS p,
           |    (CAST(COALESCE(cc.n,0) AS DOUBLE)+0.5)/(CAST(COALESCE(tc.tot,0) AS DOUBLE)+5.0) AS q
           |  FROM grid
           |  LEFT JOIN c2 cr ON cr.feature = grid.feature AND cr.bin = grid.bin AND cr.ref
           |  LEFT JOIN c2 cc ON cc.feature = grid.feature AND cc.bin = grid.bin AND NOT cc.ref
           |  LEFT JOIN tt tr ON tr.feature = grid.feature AND tr.ref
           |  LEFT JOIN tt tc ON tc.feature = grid.feature AND NOT tc.ref),
           |ps AS (SELECT feature,
           |    CAST(sum(CAST((p - q) * ln(p / q) AS DECIMAL(38,12))) AS DOUBLE) AS psi0
           |  FROM j2 GROUP BY 1)
           |SELECT ksm.feature, n_ref, n_cur,
           |  ${r6("d0")} AS d,
           |  ${r6("sqrt(CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE) / CAST(n_ref + n_cur AS DOUBLE)) * d0")} AS ks,
           |  ${r6("psi0")} AS psi
           |FROM ksm LEFT JOIN ps ON ksm.feature = ps.feature""".stripMargin)),

    // leakage screen: single-feature AUC of each doc feature against
    // the ' the ' label (n_words ~ doc length: the expected "proxy")
    QueryDef("q_feature_auc",
      { (s, dir) =>
        val feats = docs(s, dir).select(
          col("text"),
          col("n_chars").cast("double").as("n_chars"),
          size(TextFunctions.wordTokens(col("text"))).cast("double").as("n_words"),
          size(split(col("text"), "\n")).cast("double").as("n_lines"))
        Drift.featureAucScreen(feats, Seq("n_chars", "n_words", "n_lines"),
          col("text").contains(" the "))
      },
      Some(s"""WITH m0 AS (
           |  SELECT CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS p,
           |    'n_chars' AS feature, CAST(n_chars AS DOUBLE) AS x FROM documents
           |  UNION ALL
           |  SELECT CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END, 'n_words',
           |    CAST(len(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'')) AS DOUBLE) FROM documents
           |  UNION ALL
           |  SELECT CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END, 'n_lines',
           |    CAST(len(string_split(text, chr(10))) AS DOUBLE) FROM documents),
           |v AS (SELECT feature, x, p FROM m0 WHERE x IS NOT NULL AND NOT isnan(x)),
           |r AS (SELECT feature, p,
           |        CAST(rank() OVER (PARTITION BY feature ORDER BY x) AS DOUBLE)
           |          + CAST(count(*) OVER (PARTITION BY feature, x) - 1 AS DOUBLE) / 2.0 AS rk
           |      FROM v),
           |m AS (SELECT feature, CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(1 - p) AS BIGINT) AS n_neg,
           |        CAST(coalesce(sum(CASE WHEN p = 1 THEN CAST(rk AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS rp
           |      FROM r GROUP BY 1),
           |a AS (SELECT feature, n_pos, n_neg,
           |    CASE WHEN n_pos > 0 AND n_neg > 0 THEN
           |      (rp - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
           |        / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END AS auc0
           |  FROM m)
           |SELECT feature, n_pos, n_neg, ${r6("auc0")} AS auc,
           |  CASE WHEN auc0 IS NOT NULL THEN ${r6("abs(auc0 - 0.5) * 2.0")} END AS separation
           |FROM a""".stripMargin)),

    // qq drift: WHERE src0's length distribution sits vs the rest,
    // probe by probe
    QueryDef("q_qq_drift",
      (s, dir) =>
        Drift.qqDrift(docs(s, dir), "n_chars", col("source") === "src0", QuantilePs),
      Some {
        val ps = QuantilePs.map(p => s"CAST($p AS DOUBLE)").mkString("[", ", ", "]")
        s"""WITH v AS (SELECT (source = 'src0') AS slice, CAST(n_chars AS DOUBLE) AS x
           |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
           |q AS (SELECT slice, quantile_cont(x, $ps) AS qs FROM v GROUP BY 1),
           |u AS (SELECT slice, unnest($ps) AS p, unnest(qs) AS q FROM q),
           |r AS (SELECT p, q FROM u WHERE slice),
           |c AS (SELECT p, q FROM u WHERE NOT slice)
           |SELECT coalesce(r.p, c.p) AS p, ${r6("r.q")} AS q_ref, ${r6("c.q")} AS q_cur,
           |  CASE WHEN r.q IS NOT NULL AND c.q IS NOT NULL THEN ${r6("c.q - r.q")} END AS gap
           |FROM r FULL JOIN c ON r.p = c.p""".stripMargin
      }),

    // full Pearson matrix over the doc features in ONE scan
    QueryDef("q_corr_matrix",
      { (s, dir) =>
        val feats = docs(s, dir).select(
          col("n_chars").cast("double").as("n_chars"),
          size(TextFunctions.wordTokens(col("text"))).cast("double").as("n_words"),
          size(split(col("text"), "\n")).cast("double").as("n_lines"))
        Stats.correlationMatrix(feats, Seq("n_chars", "n_words", "n_lines"))
      },
      Some {
        def cellSqlRow(fa: String, fb: String, a: String, b: String) = {
          val (sa, sb, qa, qb, p) = (s"s$a", s"s$b", s"q$a", s"q$b", s"p$a$b")
          val va = s"(CAST(n AS DOUBLE) * $qa - $sa * $sa)"
          val vb = s"(CAST(n AS DOUBLE) * $qb - $sb * $sb)"
          s"""SELECT '$fa' AS feature_a, '$fb' AS feature_b, CAST(n AS BIGINT) AS n,
             |  CASE WHEN n > 1 AND $va > 0 AND $vb > 0 THEN
             |    ${r6(s"(CAST(n AS DOUBLE) * $p - $sa * $sb) / (sqrt($va) * sqrt($vb))")}
             |  END AS corr FROM m""".stripMargin
        }
        s"""WITH b0 AS (SELECT CAST(n_chars AS DOUBLE) AS a,
           |    CAST(len(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'')) AS DOUBLE) AS b,
           |    CAST(len(string_split(text, chr(10))) AS DOUBLE) AS c
           |  FROM documents),
           |bb AS (SELECT * FROM b0 WHERE a IS NOT NULL AND b IS NOT NULL AND c IS NOT NULL),
           |m AS (SELECT count(*) AS n,
           |    ${dsum(r6("a"))} AS sa, ${dsum(r6("a * a"))} AS qa,
           |    ${dsum(r6("b"))} AS sb, ${dsum(r6("b * b"))} AS qb,
           |    ${dsum(r6("c"))} AS sc, ${dsum(r6("c * c"))} AS qc,
           |    ${dsum(r6("a * b"))} AS pab, ${dsum(r6("a * c"))} AS pac,
           |    ${dsum(r6("b * c"))} AS pbc
           |  FROM bb)
           |${cellSqlRow("n_chars", "n_words", "a", "b")}
           |UNION ALL
           |${cellSqlRow("n_chars", "n_lines", "a", "c")}
           |UNION ALL
           |${cellSqlRow("n_words", "n_lines", "b", "c")}""".stripMargin
      }),

    // Lorenz/concentration table: which length-decile of docs holds the
    // characters — the curve behind q_gini's single number
    QueryDef("q_lorenz",
      (s, dir) =>
        Stats.concentrationCurve(docs(s, dir), "n_chars", nBins = 10),
      Some {
        val ps = (1 until 10).map(p => s"CAST(0.${p} AS DOUBLE)").mkString("[", ", ", "]")
        s"""WITH v AS (SELECT CAST(n_chars AS DOUBLE) AS x FROM documents
           |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
           |e AS (SELECT quantile_cont(x, $ps) AS qs FROM v),
           |bn AS (SELECT CAST(len(list_filter(e.qs, q -> q < v.x)) AS BIGINT) AS bin, v.x
           |  FROM v, e),
           |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n, ${dsum(r6("x"))} AS s
           |  FROM bn GROUP BY 1),
           |t AS (SELECT ${dsum(r6("s"))} AS tot FROM g),
           |cm AS (SELECT a.bin, ${dsum(r6("b.s"))} AS cs
           |  FROM g a JOIN g b ON b.bin <= a.bin GROUP BY 1)
           |SELECT g.bin, g.n,
           |  CASE WHEN tot > 0 THEN ${r6("g.s / tot")} END AS value_share,
           |  CASE WHEN tot > 0 THEN ${r6("cm.cs / tot")} END AS cum_share
           |FROM g JOIN cm ON g.bin = cm.bin, t""".stripMargin
      }),

    // Fisher's exact 2x2 per source: rare exposure (1-in-3 by id)
    // vs containing "join" — the small-cell regime chi2 gets wrong
    QueryDef("q_fisher",
      (s, dir) =>
        Hypothesis.fisherExact(docs(s, dir), Seq("source"),
          pmod(col("doc_id"), lit(3)) === 0, col("text").contains("join")),
      Some {
        def lf(e: String) = graft.functions.SpecialMath.lfactSql(e)
        def lp(k: String) =
          s"${lf("r1")} + ${lf("n - r1")} + ${lf("c1")} + ${lf("n - c1")} - ${lf("n")}" +
            s" - ${lf(k)} - ${lf(s"r1 - ($k)")} - ${lf(s"c1 - ($k)")} - ${lf(s"n - r1 - c1 + ($k)")}"
        s"""WITH cells AS (SELECT source,
           |    CAST(count(CASE WHEN doc_id % 3 = 0 AND contains(text, 'join') THEN 1 END) AS BIGINT) AS a,
           |    CAST(count(CASE WHEN doc_id % 3 = 0 AND NOT contains(text, 'join') THEN 1 END) AS BIGINT) AS b,
           |    CAST(count(CASE WHEN doc_id % 3 <> 0 AND contains(text, 'join') THEN 1 END) AS BIGINT) AS c,
           |    CAST(count(CASE WHEN doc_id % 3 <> 0 AND NOT contains(text, 'join') THEN 1 END) AS BIGINT) AS d
           |  FROM documents GROUP BY 1),
           |m AS (SELECT source, a, b, c, d, a + b + c + d AS n, a + b AS r1, a + c AS c1 FROM cells),
           |t AS (SELECT *, unnest(range(greatest(0, r1 + c1 - n), least(r1, c1) + 1)) AS k FROM m),
           |l AS (SELECT source, a, b, c, d, (${lp("k")}) AS lpk, (${lp("a")}) AS lpobs FROM t)
           |SELECT source, a, b, c, d,
           |  ${r6("least(1.0, CAST(coalesce(sum(CASE WHEN lpk <= lpobs + 1e-7 THEN CAST(" + r6("exp(lpk)") + " AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE))")} AS p_value
           |FROM l GROUP BY 1, 2, 3, 4, 5""".stripMargin
      }),

    // McNemar paired flip test per lang: do the "join" and "merge"
    // detectors disagree asymmetrically on the same docs
    QueryDef("q_mcnemar",
      (s, dir) =>
        Hypothesis.mcnemar(docs(s, dir), Seq("lang"),
          col("text").contains("join"), col("text").contains("merge")),
      Some(s"""WITH g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
           |    CAST(count(CASE WHEN contains(text, 'join') AND NOT contains(text, 'merge') THEN 1 END) AS BIGINT) AS b,
           |    CAST(count(CASE WHEN NOT contains(text, 'join') AND contains(text, 'merge') THEN 1 END) AS BIGINT) AS c
           |  FROM documents GROUP BY 1),
           |x AS (SELECT lang, n, b, c,
           |    CASE WHEN b + c > 0 THEN (CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) * (CAST(b AS DOUBLE) - CAST(c AS DOUBLE)) / (CAST(b AS DOUBLE) + CAST(c AS DOUBLE)) END AS chi2
           |  FROM g),
           |z AS (SELECT lang, n, b, c, chi2, sqrt(chi2) AS az,
           |    1.0 / (1.0 + 0.33267 * sqrt(chi2)) AS tt FROM x)
           |SELECT lang, n, b, c, ${r6("chi2")} AS chi2,
           |  CASE WHEN chi2 IS NOT NULL THEN ${r6(pSql)} END AS p_value
           |FROM z""".stripMargin)),

    // Holm step-down over the same per-slice tests frame as q_bh —
    // FWER where q_bh is FDR
    QueryDef("q_holm",
      { (s, dir) =>
        val tests = Hypothesis.twoProportionZ(docs(s, dir), Seq("lang", "source"),
            col("n_chars") > 300,
            pmod(TextFunctions.md5Hash32(concat(lit("bh|"), col("doc_id").cast("string"))),
              lit(2)) === 0)
          .select(col("lang"), col("source"),
            graft.functions.Portable.r6(col("z")).as("z"),
            graft.functions.Portable.r6(Hypothesis.pFromZ(col("z"))).as("p"))
        Hypothesis.holm(tests, "p", Seq("lang", "source"), alpha = 0.1)
          .select(col("lang"), col("source"), col("z"), col("p"), col("m"),
            col("rank"), graft.functions.Portable.r6(col("p_adj")).as("p_adj"),
            col("reject"))
      },
      Some(s"""WITH v AS (SELECT lang, source,
           |    CASE WHEN ${h32("concat('bh|', CAST(doc_id AS VARCHAR))")} % 2 = 0 THEN 1 ELSE 0 END AS a,
           |    CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS hit
           |  FROM documents),
           |g AS (SELECT lang, source,
           |        CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(1 - a) AS BIGINT) AS n_b,
           |        CAST(coalesce(sum(CASE WHEN a = 1 THEN hit END), 0) AS BIGINT) AS k_a,
           |        CAST(coalesce(sum(CASE WHEN a = 0 THEN hit END), 0) AS BIGINT) AS k_b
           |      FROM v GROUP BY 1, 2),
           |e AS (SELECT lang, source, n_a, n_b, k_a, k_b,
           |        CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
           |        CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
           |        CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
           |      FROM g),
           |z0 AS (SELECT lang, source,
           |        CASE WHEN n_a > 0 AND n_b > 0 AND pp > 0 AND pp < 1 THEN
           |          (pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
           |        END AS z FROM e),
           |pz AS (SELECT lang, source, z, abs(z) AS az,
           |        1.0 / (1.0 + 0.33267 * abs(z)) AS tt FROM z0),
           |pv AS (SELECT lang, source,
           |        floor(z * 1000000 + 0.5) / 1000000 AS z,
           |        floor($pSql * 1000000 + 0.5) / 1000000 AS p
           |      FROM pz WHERE z IS NOT NULL),
           |rk AS (SELECT lang, source, z, p,
           |        CAST(count(*) OVER () AS BIGINT) AS m,
           |        CAST(row_number() OVER (ORDER BY p, lang, source) AS BIGINT) AS "rank"
           |      FROM pv),
           |adj AS (SELECT lang, source, z, p, m, "rank",
           |        least(1.0, max(p * CAST(m - "rank" + 1 AS DOUBLE))
           |          OVER (ORDER BY p, lang, source
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS a_raw
           |      FROM rk),
           |nullz AS (SELECT lang, source, CAST(NULL AS DOUBLE) AS z, CAST(NULL AS DOUBLE) AS p,
           |        CAST(NULL AS BIGINT) AS m, CAST(NULL AS BIGINT) AS "rank",
           |        CAST(NULL AS DOUBLE) AS p_adj, CAST(NULL AS BOOLEAN) AS reject
           |      FROM z0 WHERE z IS NULL)
           |SELECT lang, source, z, p, m, "rank",
           |  floor(a_raw * 1000000 + 0.5) / 1000000 AS p_adj, a_raw <= 0.1 AS reject
           |FROM adj
           |UNION ALL SELECT * FROM nullz""".stripMargin)),

    // randomization test: 19 deterministic md5 relabelings of the
    // en-vs-rest mean n_chars difference
    QueryDef("q_rand_test",
      (s, dir) =>
        Hypothesis.randomizationTest(docs(s, dir), "n_chars",
          col("lang") === "en", "doc_id", k = 19, seed = "rt"),
      Some(s"""WITH b AS (SELECT CAST(n_chars AS DOUBLE) AS v, lang = 'en' AS a,
           |    CAST(doc_id AS VARCHAR) AS id FROM documents
           |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
           |obs AS (SELECT CAST(count(CASE WHEN a THEN 1 END) AS BIGINT) AS n_a,
           |    CAST(count(CASE WHEN NOT a THEN 1 END) AS BIGINT) AS n_b,
           |    CAST(coalesce(sum(CASE WHEN a THEN CAST(${r6("v")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sa,
           |    CAST(coalesce(sum(CAST(${r6("v")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS st
           |  FROM b),
           |reps AS (SELECT i,
           |    CAST(count(CASE WHEN f THEN 1 END) AS BIGINT) AS ka,
           |    CAST(count(CASE WHEN NOT f THEN 1 END) AS BIGINT) AS kb,
           |    CAST(coalesce(sum(CASE WHEN f THEN CAST(${r6("v")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS ksa,
           |    CAST(coalesce(sum(CAST(${r6("v")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS ks
           |  FROM (SELECT v, i.i AS i, ${h32("concat('rt:', CAST(i.i AS VARCHAR), ':', id)")} % 2 = 0 AS f
           |        FROM b, range(1, 20) i(i))
           |  GROUP BY 1),
           |ds AS (SELECT
           |    (SELECT ${r6("CASE WHEN n_a > 0 AND n_b > 0 THEN sa / CAST(n_a AS DOUBLE) - (st - sa) / CAST(n_b AS DOUBLE) END")} FROM obs) AS d_obs,
           |    ${r6("CASE WHEN ka > 0 AND kb > 0 THEN ksa / CAST(ka AS DOUBLE) - (ks - ksa) / CAST(kb AS DOUBLE) END")} AS d_rep
           |  FROM reps)
           |SELECT (SELECT n_a FROM obs) AS n_a, (SELECT n_b FROM obs) AS n_b,
           |  d_obs, CAST(count(*) AS BIGINT) AS k,
           |  CAST(count(CASE WHEN abs(d_rep) >= abs(d_obs) THEN 1 END) AS BIGINT) AS n_ge,
           |  ${r6("(CAST(count(CASE WHEN abs(d_rep) >= abs(d_obs) THEN 1 END) AS DOUBLE) + 1.0) / (CAST(count(*) AS DOUBLE) + 1.0)")} AS p_value
           |FROM ds GROUP BY d_obs""".stripMargin)),

    // mutual-information screen: which categorical doc columns know
    // the " the " label
    QueryDef("q_mi",
      (s, dir) =>
        Stats.miScreen(docs(s, dir), Seq("lang", "source"),
          col("text").contains(" the ")),
      Some(s"""WITH m AS (SELECT f.feature,
           |    CASE f.feature WHEN 'lang' THEN coalesce(lang, '<null>') ELSE coalesce(source, '<null>') END AS x,
           |    CAST(contains(text, ' the ') AS VARCHAR) AS y
           |  FROM documents, (VALUES ('lang'), ('source')) f(feature)),
           |cells AS (SELECT feature, x, y, CAST(count(*) AS BIGINT) AS nxy FROM m GROUP BY 1, 2, 3),
           |xm AS (SELECT feature, x, CAST(sum(nxy) AS BIGINT) AS nx FROM cells GROUP BY 1, 2),
           |ym AS (SELECT feature, y, CAST(sum(nxy) AS BIGINT) AS ny FROM cells GROUP BY 1, 2),
           |tot AS (SELECT feature, CAST(sum(nxy) AS BIGINT) AS n FROM cells GROUP BY 1),
           |j AS (SELECT cells.feature, cells.x, cells.y, nxy, nx, ny, n, CAST(n AS DOUBLE) AS nd
           |  FROM cells JOIN xm USING (feature, x) JOIN ym USING (feature, y) JOIN tot USING (feature)),
           |agg AS (SELECT feature, n,
           |    CAST(coalesce(sum(CAST(${r6("CAST(nx AS DOUBLE) / nd * ln(nd / CAST(nx AS DOUBLE)) * CAST(nxy AS DOUBLE) / CAST(nx AS DOUBLE)")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS hx,
           |    CAST(coalesce(sum(CAST(${r6("CAST(ny AS DOUBLE) / nd * ln(nd / CAST(ny AS DOUBLE)) * CAST(nxy AS DOUBLE) / CAST(ny AS DOUBLE)")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS hy,
           |    CAST(coalesce(sum(CAST(${r6("CAST(nxy AS DOUBLE) / nd * ln(nd * CAST(nxy AS DOUBLE) / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS mi
           |  FROM j GROUP BY 1, 2)
           |SELECT feature, n, ${r6("hx")} AS h_x, ${r6("hy")} AS h_y, ${r6("mi")} AS mi,
           |  CASE WHEN least(hx, hy) > 0 THEN ${r6("mi / least(hx, hy)")} END AS nmi
           |FROM agg""".stripMargin)),

    // Kendall's W: do the 5 event types agree on the user-decile
    // ranking by total value
    QueryDef("q_kendall_w",
      { (s, dir) =>
        val cells = ev(s, dir).filter(col("value").isNotNull && !isnan(col("value")))
          .groupBy(col("event_type"), pmod(col("user_id"), lit(10)).as("bucket"))
          .agg(graft.functions.Portable.r6(
            sum(col("value").cast("decimal(38,6)")).cast("double")).as("total"))
        Stats.kendallW(cells, "event_type", "bucket", "total")
      },
      Some(s"""WITH cells AS (SELECT event_type AS r, user_id % 10 AS it,
           |    ${r6("CAST(coalesce(sum(CAST(value AS DECIMAL(38,6))), 0) AS DOUBLE)")} AS v
           |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
           |  GROUP BY 1, 2),
           |rk AS (SELECT r, it, v,
           |    CAST(rank() OVER (PARTITION BY r ORDER BY v) AS DOUBLE) +
           |      (CAST(count(*) OVER (PARTITION BY r, v) AS DOUBLE) - 1.0) / 2.0 AS ark,
           |    CAST(count(*) OVER (PARTITION BY r, v) AS BIGINT) AS t
           |  FROM cells),
           |shape AS (SELECT CAST(count(DISTINCT r) AS BIGINT) AS m, CAST(count(DISTINCT it) AS BIGINT) AS ni FROM rk),
           |ties AS (SELECT CAST(coalesce(sum(CAST(CAST(t * t - 1 AS DOUBLE) AS DECIMAL(38,6))), 0) AS DOUBLE) AS tsum FROM rk),
           |isum AS (SELECT it, CAST(coalesce(sum(CAST(ark AS DECIMAL(38,6))), 0) AS DOUBLE) AS ri FROM rk GROUP BY 1),
           |dev AS (SELECT it, ri, (SELECT m FROM shape) AS m, (SELECT ni FROM shape) AS ni, (SELECT tsum FROM ties) AS tsum FROM isum),
           |sagg AS (SELECT m, ni, tsum,
           |    CAST(coalesce(sum(CAST(${r6("(ri - CAST(m AS DOUBLE) * (CAST(ni AS DOUBLE) + 1.0) / 2.0) * (ri - CAST(m AS DOUBLE) * (CAST(ni AS DOUBLE) + 1.0) / 2.0)")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS s
           |  FROM dev GROUP BY 1, 2, 3)
           |SELECT ni AS n_items, m AS n_raters, ${r6("s")} AS s,
           |  CASE WHEN CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * (CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE) - CAST(ni AS DOUBLE)) - CAST(m AS DOUBLE) * tsum > 0
           |    THEN ${r6("12.0 * s / (CAST(m AS DOUBLE) * CAST(m AS DOUBLE) * (CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE) * CAST(ni AS DOUBLE) - CAST(ni AS DOUBLE)) - CAST(m AS DOUBLE) * tsum)")} END AS w
           |FROM sagg""".stripMargin)),

    // Cramer-von Mises: integrated squared ECDF gap of n_chars,
    // en vs rest, per source — next to the same slice's KS
    QueryDef("q_cvm",
      (s, dir) =>
        Hypothesis.cvmTest(docs(s, dir), Seq("source"), "n_chars",
          col("lang") === "en"),
      Some(s"""WITH v AS (SELECT source, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS a,
           |    CAST(n_chars AS DOUBLE) AS x
           |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
           |c AS (SELECT source, x, CAST(sum(a) AS BIGINT) AS ca, CAST(sum(1 - a) AS BIGINT) AS cb
           |      FROM v GROUP BY 1, 2),
           |w AS (SELECT source, ca, cb,
           |        CAST(sum(ca) OVER (PARTITION BY source ORDER BY x) AS BIGINT) AS fa,
           |        CAST(sum(cb) OVER (PARTITION BY source ORDER BY x) AS BIGINT) AS fb,
           |        CAST(sum(ca) OVER (PARTITION BY source) AS BIGINT) AS na,
           |        CAST(sum(cb) OVER (PARTITION BY source) AS BIGINT) AS nb
           |      FROM c),
           |t AS (SELECT source, na, nb,
           |        CAST(ca + cb AS DOUBLE) *
           |          (CAST(fa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(fb AS DOUBLE) / CAST(nb AS DOUBLE)) *
           |          (CAST(fa AS DOUBLE) / CAST(na AS DOUBLE) - CAST(fb AS DOUBLE) / CAST(nb AS DOUBLE)) AS term
           |      FROM w WHERE na > 0 AND nb > 0),
           |m AS (SELECT source, first(na) AS n_a, first(nb) AS n_b,
           |        CAST(coalesce(sum(CAST(${r6("term")} AS DECIMAL(38,6))), 0) AS DOUBLE) *
           |          CAST(first(na) AS DOUBLE) * CAST(first(nb) AS DOUBLE) /
           |          (CAST(first(na) + first(nb) AS DOUBLE) * CAST(first(na) + first(nb) AS DOUBLE)) AS t0
           |      FROM t GROUP BY 1)
           |SELECT source, n_a, n_b, ${r6("t0")} AS t FROM m""".stripMargin)),

    // token-weighted doc-length quantiles per lang: where the TOKENS
    // live, not where the docs are
    QueryDef("q_wquantile",
      (s, dir) =>
        graft.operators.Quantiles.weightedQuantiles(
          docs(s, dir).withColumn("n_words",
            size(TextFunctions.wordTokens(col("text"))).cast("double")),
          Seq("lang"), "n_chars", "n_words", Seq(0.5, 0.9, 0.99)),
      Some(s"""WITH b AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v,
           |    CAST(len(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '')) AS DOUBLE) AS w
           |  FROM documents WHERE n_chars IS NOT NULL),
           |pv AS (SELECT lang, v, sum(CAST(w AS DECIMAL(38,6))) AS wd FROM b GROUP BY 1, 2),
           |cum AS (SELECT lang, v,
           |    CAST(sum(wd) OVER (PARTITION BY lang ORDER BY v) AS DOUBLE) AS cw,
           |    CAST(sum(wd) OVER (PARTITION BY lang) AS DOUBLE) AS tw
           |  FROM pv),
           |pr AS (SELECT lang, p.p AS p,
           |    min(CASE WHEN cw >= p.p * tw THEN v END) AS q, max(tw) AS twx
           |  FROM cum, (VALUES (0.5), (0.9), (0.99)) p(p) GROUP BY 1, 2)
           |SELECT lang, CAST(p AS DOUBLE) AS p, q, ${r6("twx")} AS w_total FROM pr""".stripMargin)),

    // Krippendorff's alpha over an incomplete rating design: unit =
    // user decile, category = an event's value tercile, every event a
    // "rating" (raters anonymous/unequal by construction)
    QueryDef("q_kripp",
      (s, dir) =>
        Evaluation.krippendorffAlpha(
          ev(s, dir).filter(col("value").isNotNull && !isnan(col("value")))
            .withColumn("unit", pmod(col("user_id"), lit(10)))
            .withColumn("cat",
              when(col("value") < 40.0, "lo")
                .when(col("value") < 70.0, "mid").otherwise("hi")),
          Seq("event_type"), "unit", "cat"),
      Some(s"""WITH r AS (SELECT event_type AS g, user_id % 10 AS u,
           |    CASE WHEN CAST(value AS DOUBLE) < 40.0 THEN 'lo'
           |         WHEN CAST(value AS DOUBLE) < 70.0 THEN 'mid' ELSE 'hi' END AS c
           |  FROM events WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
           |ouc AS (SELECT g, u, c, CAST(count(*) AS BIGINT) AS o FROM r GROUP BY 1, 2, 3),
           |mu AS (SELECT g, u, CAST(sum(o) AS BIGINT) AS m FROM ouc GROUP BY 1, 2),
           |cells AS (SELECT ouc.g, ouc.u, ouc.c, ouc.o, mu.m FROM ouc JOIN mu USING (g, u) WHERE mu.m >= 2),
           |nc AS (SELECT g, c, CAST(sum(o) AS BIGINT) AS nc FROM cells GROUP BY 1, 2),
           |ds AS (SELECT g, CAST(count(DISTINCT u) AS BIGINT) AS n_units,
           |    CAST(sum(o) AS BIGINT) AS n_pairable,
           |    CAST(coalesce(sum(CAST(${r6("CAST(o AS DOUBLE) * CAST(m - o AS DOUBLE) / (CAST(m AS DOUBLE) - 1.0)")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS dnum
           |  FROM cells GROUP BY 1),
           |de AS (SELECT nc.g, CAST(coalesce(sum(CAST(CAST(nc.nc * (ds.n_pairable - nc.nc) AS DOUBLE) AS DECIMAL(38,6))), 0) AS DOUBLE) AS enum
           |  FROM nc JOIN ds USING (g) GROUP BY 1),
           |f AS (SELECT ds.g AS event_type, n_units, n_pairable,
           |    CASE WHEN n_pairable > 0 THEN dnum / CAST(n_pairable AS DOUBLE) END AS d_o0,
           |    CASE WHEN n_pairable > 1 THEN enum / (CAST(n_pairable AS DOUBLE) * (CAST(n_pairable AS DOUBLE) - 1.0)) END AS d_e0
           |  FROM ds JOIN de USING (g))
           |SELECT event_type, n_units, n_pairable, ${r6("d_o0")} AS d_o, ${r6("d_e0")} AS d_e,
           |  CASE WHEN d_e0 > 0 THEN ${r6("1.0 - d_o0 / d_e0")} END AS alpha
           |FROM f""".stripMargin)),

    // negative-binomial overdispersion fit of per-user event counts
    QueryDef("q_negbin",
      (s, dir) => {
        val counts = ev(s, dir).groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).cast("double").as("k"))
        Stats.negativeBinomialFit(counts, Seq("event_type"), "k")
      },
      Some(s"""WITH k AS (SELECT user_id, event_type, CAST(count(*) AS DOUBLE) AS k FROM events GROUP BY 1, 2),
           |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           |    CAST(coalesce(sum(CAST(${r6("k")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS s,
           |    CAST(coalesce(sum(CAST(${r6("k * k")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS s2
           |  FROM k GROUP BY 1),
           |m AS (SELECT event_type, n, s / CAST(n AS DOUBLE) AS mn,
           |    greatest(s2 / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)), 0.0) AS vr
           |  FROM g),
           |x AS (SELECT *, CASE WHEN vr > mn AND mn > 0 THEN mn * mn / (vr - mn) END AS r0 FROM m)
           |SELECT event_type, n, ${r6("mn")} AS mean, ${r6("vr")} AS variance,
           |  ${r6("r0")} AS r,
           |  CASE WHEN r0 IS NOT NULL THEN ${r6("r0 / (r0 + mn)")} END AS p
           |FROM x""".stripMargin)),

    // log-normal fit of doc lengths per lang with implied median/p95
    QueryDef("q_lognormal",
      (s, dir) =>
        Stats.logNormalFit(docs(s, dir), Seq("lang"), "n_chars"),
      Some(s"""WITH b AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM documents
           |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
           |g AS (SELECT lang, CAST(count(CASE WHEN v > 0 THEN 1 END) AS BIGINT) AS n,
           |    CAST(count(CASE WHEN v <= 0 THEN 1 END) AS BIGINT) AS n_dropped,
           |    CAST(coalesce(sum(CASE WHEN v > 0 THEN CAST(${r6("ln(v)")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS s,
           |    CAST(coalesce(sum(CASE WHEN v > 0 THEN CAST(${r6("ln(v) * ln(v)")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS s2
           |  FROM b GROUP BY 1),
           |m AS (SELECT lang, n, n_dropped, s / CAST(n AS DOUBLE) AS mu,
           |    sqrt(greatest(s2 / CAST(n AS DOUBLE) - (s / CAST(n AS DOUBLE)) * (s / CAST(n AS DOUBLE)), 0.0)) AS sd
           |  FROM g)
           |SELECT lang, n, n_dropped,
           |  CASE WHEN n > 0 THEN ${r6("mu")} END AS mu,
           |  CASE WHEN n > 0 THEN ${r6("sd")} END AS sigma,
           |  CASE WHEN n > 0 THEN ${r6("exp(mu)")} END AS median_fit,
           |  CASE WHEN n > 0 THEN ${r6("exp(mu + 1.6449 * sd)")} END AS p95_fit
           |FROM m""".stripMargin)),

    // Poisson-bootstrap band for the per-lang median doc length
    QueryDef("q_boot_median",
      (s, dir) =>
        Bootstrap.bootstrapMedianCI(docs(s, dir), Seq("lang"), "n_chars",
          "doc_id", replicas = 16, seed = "bm"),
      Some(s"""WITH base AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v, CAST(doc_id AS VARCHAR) AS id
           |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
           |ov AS (SELECT lang, v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY 1, 2),
           |oc AS (SELECT lang, v,
           |        CAST(sum(c) OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS cw,
           |        CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS nn
           |      FROM ov),
           |obs AS (SELECT lang, first(nn) AS n, min(CASE WHEN cw * 2 >= nn THEN v END) AS median_obs
           |      FROM oc GROUP BY 1),
           |x AS (SELECT lang, v, id, r.b FROM base, (SELECT unnest(range(0, 16)) AS b) r),
           |u AS (SELECT lang, v, b,
           |        ((${h32("concat('bm', '|', id, '|', CAST(b AS VARCHAR))")} % 1000000)
           |          + CAST(0.5 AS DOUBLE)) / CAST(1000000 AS DOUBLE) AS u
           |      FROM x),
           |w AS (SELECT lang, v, b,
           |        CASE WHEN u < CAST(0.36787944117144233 AS DOUBLE) THEN 0
           |             WHEN u < CAST(0.7357588823428847 AS DOUBLE) THEN 1
           |             WHEN u < CAST(0.9196986029286058 AS DOUBLE) THEN 2
           |             WHEN u < CAST(0.9810118431238462 AS DOUBLE) THEN 3
           |             WHEN u < CAST(0.9963401531726563 AS DOUBLE) THEN 4
           |             WHEN u < CAST(0.9994058151824183 AS DOUBLE) THEN 5
           |             WHEN u < CAST(0.9999167588507119 AS DOUBLE) THEN 6
           |             ELSE 7 END AS w
           |      FROM u),
           |pv AS (SELECT lang, b, v, CAST(sum(w) AS BIGINT) AS wd FROM w GROUP BY 1, 2, 3),
           |cum AS (SELECT lang, b, v,
           |        CAST(sum(wd) OVER (PARTITION BY lang, b ORDER BY v) AS BIGINT) AS cw,
           |        CAST(sum(wd) OVER (PARTITION BY lang, b) AS BIGINT) AS tw
           |      FROM pv),
           |med AS (SELECT lang, b, min(CASE WHEN cw * 2 >= tw THEN v END) AS med
           |      FROM cum WHERE tw > 0 GROUP BY 1, 2),
           |band AS (SELECT lang, list_sort(list(med)) AS ms, CAST(count(med) AS BIGINT) AS k
           |      FROM med GROUP BY 1)
           |SELECT obs.lang, obs.n, obs.median_obs,
           |  ms[CASE WHEN k >= 3 THEN 2 ELSE 1 END] AS boot_lo,
           |  ms[CAST(CASE WHEN k >= 3 THEN k - 1 ELSE k END AS INT)] AS boot_hi,
           |  k AS k_effective
           |FROM obs JOIN band USING (lang)""".stripMargin)),

    // SRM sweep: per-source split-health chi2 -> p -> BH over sources
    QueryDef("q_srm_sweep",
      { (s, dir) =>
        val tests = Stats.sampleRatioMismatch(docs(s, dir), Seq("source"),
            pmod(TextFunctions.md5Hash32(
              concat(lit("srm|"), col("doc_id").cast("string"))), lit(2)) === 0,
            expectedB = 0.5)
          .select(col("source"), col("n_a"), col("n_b"),
            graft.functions.Portable.r6(col("chi2")).as("chi2"),
            graft.functions.Portable.r6(
              Hypothesis.pFromZ(sqrt(col("chi2")))).as("p"))
        Hypothesis.benjaminiHochberg(tests, "p", Seq("source"), alpha = 0.05)
          .select(col("source"), col("n_a"), col("n_b"), col("chi2"), col("p"),
            col("m"), col("rank"),
            graft.functions.Portable.r6(col("q")).as("q"), col("reject"))
      },
      Some(s"""WITH v AS (SELECT source,
           |    CASE WHEN ${h32("concat('srm|', CAST(doc_id AS VARCHAR))")} % 2 = 0 THEN 1 ELSE 0 END AS b
           |  FROM documents),
           |g AS (SELECT source, CAST(count(CASE WHEN b = 0 THEN 1 END) AS BIGINT) AS n_a,
           |        CAST(count(CASE WHEN b = 1 THEN 1 END) AS BIGINT) AS n_b
           |      FROM v GROUP BY 1),
           |c AS (SELECT source, n_a, n_b,
           |        CAST(n_a + n_b AS DOUBLE) AS nd FROM g),
           |x AS (SELECT source, n_a, n_b,
           |        CASE WHEN nd > 0 THEN
           |          (CAST(n_b AS DOUBLE) - nd * 0.5) * (CAST(n_b AS DOUBLE) - nd * 0.5) / (nd * 0.5) +
           |          (CAST(n_a AS DOUBLE) - nd * 0.5) * (CAST(n_a AS DOUBLE) - nd * 0.5) / (nd * 0.5)
           |        END AS chi2 FROM c),
           |pz AS (SELECT source, n_a, n_b, floor(chi2 * 1000000 + 0.5) / 1000000 AS chi2,
           |        sqrt(chi2) AS az, 1.0 / (1.0 + 0.33267 * sqrt(chi2)) AS tt FROM x),
           |pv AS (SELECT source, n_a, n_b, chi2,
           |        floor($pSql * 1000000 + 0.5) / 1000000 AS p
           |      FROM pz WHERE chi2 IS NOT NULL),
           |rk AS (SELECT source, n_a, n_b, chi2, p,
           |        CAST(count(*) OVER () AS BIGINT) AS m,
           |        CAST(row_number() OVER (ORDER BY p, source) AS BIGINT) AS "rank"
           |      FROM pv),
           |adj AS (SELECT source, n_a, n_b, chi2, p, m, "rank",
           |        least(1.0, min(p * CAST(m AS DOUBLE) / CAST("rank" AS DOUBLE))
           |          OVER (ORDER BY p, source
           |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS q_raw
           |      FROM rk)
           |SELECT source, n_a, n_b, chi2, p, m, "rank",
           |  floor(q_raw * 1000000 + 0.5) / 1000000 AS q, q_raw <= 0.05 AS reject
           |FROM adj""".stripMargin)),

    // Gumbel fit over daily value maxima per event type + fitted p99
    QueryDef("q_gumbel",
      (s, dir) =>
        Stats.gumbelFit(ev(s, dir), Seq("event_type"), "ts", "value",
          blockUs = 86400000000L, returnQ = 0.99),
      Some(s"""WITH b AS (SELECT event_type, epoch_us(ts) - epoch_us(ts) % 86400000000 AS blk,
           |    max(CAST(value AS DOUBLE)) AS mx
           |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))
           |  GROUP BY 1, 2),
           |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_blocks,
           |    CAST(coalesce(sum(CAST(${r6("mx")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS s,
           |    CAST(coalesce(sum(CAST(${r6("mx * mx")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS s2
           |  FROM b GROUP BY 1),
           |m AS (SELECT event_type, n_blocks, s / CAST(n_blocks AS DOUBLE) AS mn,
           |    sqrt(greatest(s2 / CAST(n_blocks AS DOUBLE) - (s / CAST(n_blocks AS DOUBLE)) * (s / CAST(n_blocks AS DOUBLE)), 0.0)) AS sd
           |  FROM g),
           |f AS (SELECT event_type, n_blocks, mn, sd * 0.7796968012336793 AS beta,
           |    mn - 0.5772156649015329 * (sd * 0.7796968012336793) AS mu
           |  FROM m)
           |SELECT event_type, n_blocks, ${r6("mn")} AS block_max_mean,
           |  CASE WHEN n_blocks >= 2 THEN ${r6("mu")} END AS mu,
           |  CASE WHEN n_blocks >= 2 THEN ${r6("beta")} END AS beta,
           |  CASE WHEN n_blocks >= 2 THEN ${r6("mu - beta * ln(-ln(0.99))")} END AS q_fit
           |FROM f""".stripMargin)),

    // L-moments of doc length per lang: robust scale/shape ratios
    QueryDef("q_lmoments",
      (s, dir) =>
        Stats.lMoments(docs(s, dir), Seq("lang"), "n_chars"),
      Some(s"""WITH b AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM documents
           |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
           |rk AS (SELECT lang, v, CAST(row_number() OVER (PARTITION BY lang ORDER BY v) AS BIGINT) AS r FROM b),
           |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
           |    CAST(coalesce(sum(CAST(${r6("v")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS b0s,
           |    CAST(coalesce(sum(CAST(${r6("CAST(r - 1 AS DOUBLE) * v")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS b1s,
           |    CAST(coalesce(sum(CAST(${r6("CAST((r - 1) * (r - 2) AS DOUBLE) * v")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS b2s
           |  FROM rk GROUP BY 1),
           |m AS (SELECT lang, n, b0s / CAST(n AS DOUBLE) AS b0,
           |    CASE WHEN n >= 2 THEN b1s / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) END AS b1,
           |    CASE WHEN n >= 3 THEN b2s / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) * (CAST(n AS DOUBLE) - 2.0)) END AS b2
           |  FROM g),
           |l AS (SELECT lang, n, b0 AS l1, 2.0 * b1 - b0 AS l2,
           |    6.0 * b2 - 6.0 * b1 + b0 AS l3 FROM m)
           |SELECT lang, n, ${r6("l1")} AS l1, ${r6("l2")} AS l2,
           |  CASE WHEN l1 <> 0.0 THEN ${r6("l2 / l1")} END AS l_cv,
           |  CASE WHEN l2 <> 0.0 THEN ${r6("l3 / l2")} END AS l_skew
           |FROM l""".stripMargin)),

    // Theil inequality of characters across docs, decomposed
    // between/within sources
    QueryDef("q_theil",
      (s, dir) =>
        Stats.theilDecomposition(docs(s, dir), "source", "n_chars"),
      Some(s"""WITH base AS (SELECT source AS g, CAST(n_chars AS DOUBLE) AS v FROM documents
           |  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
           |tot AS (SELECT CAST(count(CASE WHEN v > 0 THEN 1 END) AS BIGINT) AS n,
           |    CAST(count(CASE WHEN v <= 0 THEN 1 END) AS BIGINT) AS nd,
           |    CAST(coalesce(sum(CASE WHEN v > 0 THEN CAST(${r6("v")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS s
           |  FROM base),
           |rows0 AS (SELECT g, CAST(count(*) AS BIGINT) AS ng,
           |    CAST(coalesce(sum(CAST(${r6("v")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS sg,
           |    CAST(coalesce(sum(CAST(${r6("v / (tot.s / CAST(tot.n AS DOUBLE)) * ln(v / (tot.s / CAST(tot.n AS DOUBLE)))")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS tsum,
           |    first(tot.n) AS n, first(tot.nd) AS nd, first(tot.s) AS s
           |  FROM base, tot WHERE v > 0 GROUP BY 1),
           |terms AS (SELECT n, nd,
           |    tsum / CAST(n AS DOUBLE) AS tg,
           |    (sg / s) * ln((sg / CAST(ng AS DOUBLE)) / (s / CAST(n AS DOUBLE))) AS btw
           |  FROM rows0)
           |SELECT first(n) AS n, first(nd) AS n_dropped, CAST(count(*) AS BIGINT) AS k_groups,
           |  ${r6("CAST(coalesce(sum(CAST(" + r6("tg") + " AS DECIMAL(38,6))), 0) AS DOUBLE)")} AS theil_total,
           |  ${r6("CAST(coalesce(sum(CAST(" + r6("btw") + " AS DECIMAL(38,6))), 0) AS DOUBLE)")} AS theil_between,
           |  ${r6("CAST(coalesce(sum(CAST(" + r6("tg") + " AS DECIMAL(38,6))), 0) AS DOUBLE) - CAST(coalesce(sum(CAST(" + r6("btw") + " AS DECIMAL(38,6))), 0) AS DOUBLE)")} AS theil_within
           |FROM terms GROUP BY n, nd""".stripMargin)),

    // Cochran-Armitage: does the " the " rate climb with the doc-length
    // decile, per lang
    QueryDef("q_trend_test",
      (s, dir) =>
        Hypothesis.cochranArmitage(
          docs(s, dir).withColumn("dose",
            least(lit(9L), floor(col("n_chars") / 150L)).cast("double")),
          Seq("lang"), "dose", col("text").contains(" the ")),
      Some(s"""WITH d AS (SELECT lang, CAST(least(9, n_chars // 150) AS DOUBLE) AS s,
           |    contains(text, ' the ') AS hit
           |  FROM documents WHERE n_chars IS NOT NULL),
           |lv AS (SELECT lang, s, CAST(count(*) AS BIGINT) AS n, CAST(count(CASE WHEN hit THEN 1 END) AS BIGINT) AS k
           |  FROM d GROUP BY 1, 2),
           |g AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k_levels,
           |    CAST(sum(k) AS BIGINT) AS ktot,
           |    CAST(coalesce(sum(CAST(${r6("s * CAST(n AS DOUBLE)")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS sn,
           |    CAST(coalesce(sum(CAST(${r6("s * s * CAST(n AS DOUBLE)")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS s2n,
           |    CAST(coalesce(sum(CAST(${r6("s * CAST(k AS DOUBLE)")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS sk
           |  FROM lv GROUP BY 1),
           |x AS (SELECT lang, n, k_levels,
           |    CAST(ktot AS DOUBLE) / CAST(n AS DOUBLE) AS pbar,
           |    sk, sn, s2n - sn * sn / CAST(n AS DOUBLE) AS spread
           |  FROM g),
           |z0 AS (SELECT lang, n, k_levels,
           |    CASE WHEN pbar > 0 AND pbar < 1 AND spread > 0
           |      THEN (sk - pbar * sn) / sqrt(pbar * (1.0 - pbar) * spread) END AS z
           |  FROM x),
           |pz AS (SELECT lang, n, k_levels, z, abs(z) AS az,
           |    1.0 / (1.0 + 0.33267 * abs(z)) AS tt FROM z0)
           |SELECT lang, n, k_levels, ${r6("z")} AS z,
           |  CASE WHEN z IS NOT NULL THEN ${r6(pSql)} END AS p_value
           |FROM pz""".stripMargin)),

    // Storey pi0 + q-values over the q_bh tests frame
    QueryDef("q_storey",
      { (s, dir) =>
        val tests = Hypothesis.twoProportionZ(docs(s, dir), Seq("lang", "source"),
            col("n_chars") > 300,
            pmod(TextFunctions.md5Hash32(concat(lit("bh|"), col("doc_id").cast("string"))),
              lit(2)) === 0)
          .select(col("lang"), col("source"),
            graft.functions.Portable.r6(col("z")).as("z"),
            graft.functions.Portable.r6(Hypothesis.pFromZ(col("z"))).as("p"))
        Hypothesis.storeyQValues(tests, "p", Seq("lang", "source"), lambda = 0.5, alpha = 0.1)
          .select(col("lang"), col("source"), col("z"), col("p"), col("m"),
            col("rank"), col("pi0"),
            graft.functions.Portable.r6(col("q_storey")).as("q_storey"), col("reject"))
      },
      Some(s"""WITH v AS (SELECT lang, source,
           |    CASE WHEN ${h32("concat('bh|', CAST(doc_id AS VARCHAR))")} % 2 = 0 THEN 1 ELSE 0 END AS a,
           |    CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS hit
           |  FROM documents),
           |g AS (SELECT lang, source,
           |        CAST(sum(a) AS BIGINT) AS n_a, CAST(sum(1 - a) AS BIGINT) AS n_b,
           |        CAST(coalesce(sum(CASE WHEN a = 1 THEN hit END), 0) AS BIGINT) AS k_a,
           |        CAST(coalesce(sum(CASE WHEN a = 0 THEN hit END), 0) AS BIGINT) AS k_b
           |      FROM v GROUP BY 1, 2),
           |e AS (SELECT lang, source, n_a, n_b, k_a, k_b,
           |        CAST(k_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
           |        CAST(k_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb,
           |        CAST(k_a + k_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE) AS pp
           |      FROM g),
           |z0 AS (SELECT lang, source,
           |        CASE WHEN n_a > 0 AND n_b > 0 AND pp > 0 AND pp < 1 THEN
           |          (pa - pb) / sqrt(pp * (1.0 - pp) * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
           |        END AS z FROM e),
           |pz AS (SELECT lang, source, z, abs(z) AS az,
           |        1.0 / (1.0 + 0.33267 * abs(z)) AS tt FROM z0),
           |pv AS (SELECT lang, source,
           |        floor(z * 1000000 + 0.5) / 1000000 AS z,
           |        floor($pSql * 1000000 + 0.5) / 1000000 AS p
           |      FROM pz WHERE z IS NOT NULL),
           |rk AS (SELECT lang, source, z, p,
           |        CAST(count(*) OVER () AS BIGINT) AS m,
           |        least(1.0, CAST(count(CASE WHEN p > 0.5 THEN 1 END) OVER () AS DOUBLE) /
           |          (0.5 * CAST(count(*) OVER () AS DOUBLE))) AS pi0_raw,
           |        CAST(row_number() OVER (ORDER BY p, lang, source) AS BIGINT) AS "rank"
           |      FROM pv),
           |adj AS (SELECT lang, source, z, p, m, "rank", pi0_raw,
           |        least(1.0, pi0_raw * min(p * CAST(m AS DOUBLE) / CAST("rank" AS DOUBLE))
           |          OVER (ORDER BY p, lang, source
           |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS q_raw
           |      FROM rk),
           |nullz AS (SELECT lang, source, CAST(NULL AS DOUBLE) AS z, CAST(NULL AS DOUBLE) AS p,
           |        CAST(NULL AS BIGINT) AS m, CAST(NULL AS BIGINT) AS "rank",
           |        CAST(NULL AS DOUBLE) AS pi0, CAST(NULL AS DOUBLE) AS q_storey,
           |        CAST(NULL AS BOOLEAN) AS reject
           |      FROM z0 WHERE z IS NULL)
           |SELECT lang, source, z, p, m, "rank",
           |  floor(pi0_raw * 1000000 + 0.5) / 1000000 AS pi0,
           |  floor(q_raw * 1000000 + 0.5) / 1000000 AS q_storey, q_raw <= 0.1 AS reject
           |FROM adj
           |UNION ALL SELECT * FROM nullz""".stripMargin)),

    // does length still track word count once line count is held fixed
    QueryDef("q_partial_corr",
      { (s, dir) =>
        val feats = docs(s, dir).select(
          col("n_chars").cast("double").as("n_chars"),
          size(TextFunctions.wordTokens(col("text"))).cast("double").as("n_words"),
          size(split(col("text"), "\n")).cast("double").as("n_lines"))
        Stats.partialCorrelation(feats, "n_chars", "n_words", "n_lines")
      },
      Some(s"""WITH f AS (SELECT CAST(n_chars AS DOUBLE) AS x,
           |    CAST(len(list_filter(string_split_regex(lower(text),'[^a-z]+'), t -> t <> '')) AS DOUBLE) AS y,
           |    CAST(len(string_split(text, chr(10))) AS DOUBLE) AS z
           |  FROM documents),
           |g AS (SELECT * FROM f WHERE x IS NOT NULL AND NOT isnan(x)
           |  AND y IS NOT NULL AND NOT isnan(y) AND z IS NOT NULL AND NOT isnan(z)),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    ${ds("x")} AS sx, ${ds("y")} AS sy, ${ds("z")} AS sz,
           |    ${ds("x * x")} AS qx, ${ds("y * y")} AS qy, ${ds("z * z")} AS qz,
           |    ${ds("x * y")} AS pxy, ${ds("x * z")} AS pxz, ${ds("y * z")} AS pyz
           |  FROM g),
           |r AS (SELECT n,
           |    CASE WHEN n > 1 AND CAST(n AS DOUBLE) * qx - sx * sx > 0 AND CAST(n AS DOUBLE) * qy - sy * sy > 0
           |      THEN (CAST(n AS DOUBLE) * pxy - sx * sy) / (sqrt(CAST(n AS DOUBLE) * qx - sx * sx) * sqrt(CAST(n AS DOUBLE) * qy - sy * sy)) END AS rxy,
           |    CASE WHEN n > 1 AND CAST(n AS DOUBLE) * qx - sx * sx > 0 AND CAST(n AS DOUBLE) * qz - sz * sz > 0
           |      THEN (CAST(n AS DOUBLE) * pxz - sx * sz) / (sqrt(CAST(n AS DOUBLE) * qx - sx * sx) * sqrt(CAST(n AS DOUBLE) * qz - sz * sz)) END AS rxz,
           |    CASE WHEN n > 1 AND CAST(n AS DOUBLE) * qy - sy * sy > 0 AND CAST(n AS DOUBLE) * qz - sz * sz > 0
           |      THEN (CAST(n AS DOUBLE) * pyz - sy * sz) / (sqrt(CAST(n AS DOUBLE) * qy - sy * sy) * sqrt(CAST(n AS DOUBLE) * qz - sz * sz)) END AS ryz
           |  FROM m)
           |SELECT n, ${r6("rxy")} AS r_xy, ${r6("rxz")} AS r_xz, ${r6("ryz")} AS r_yz,
           |  CASE WHEN (1.0 - rxz * rxz) * (1.0 - ryz * ryz) > 0
           |    THEN ${r6("(rxy - rxz * ryz) / sqrt((1.0 - rxz * rxz) * (1.0 - ryz * ryz))")} END AS r_xy_given_z
           |FROM r""".stripMargin)),

    // Wald-Wolfowitz runs test: do per-type value sequences streak
    QueryDef("q_runs",
      (s, dir) =>
        Hypothesis.runsTest(ev(s, dir), Seq("event_type"), "ts", "event_id", "value"),
      Some(s"""WITH b AS (SELECT event_type AS g, ts, event_id, CAST(value AS DOUBLE) AS v
           |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
           |pv AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
           |cm AS (SELECT g, v,
           |    CAST(sum(c) OVER (PARTITION BY g ORDER BY v) AS BIGINT) AS cw,
           |    CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS nn
           |  FROM pv),
           |med AS (SELECT g, min(CASE WHEN cw * 2 >= nn THEN v END) AS md FROM cm GROUP BY 1),
           |sg AS (SELECT b.g, b.ts, b.event_id, b.v > med.md AS s
           |  FROM b JOIN med ON b.g = med.g WHERE b.v <> med.md),
           |ch AS (SELECT g, s,
           |    CASE WHEN lag(s) OVER (PARTITION BY g ORDER BY ts, event_id) IS NULL
           |           OR lag(s) OVER (PARTITION BY g ORDER BY ts, event_id) <> s
           |         THEN 1 ELSE 0 END AS chg
           |  FROM sg),
           |t AS (SELECT b.g, CAST(count(CASE WHEN b.v = med.md THEN 1 END) AS BIGINT) AS n_ties
           |  FROM b JOIN med ON b.g = med.g GROUP BY 1),
           |gg AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
           |    CAST(count(CASE WHEN s THEN 1 END) AS BIGINT) AS n_above,
           |    CAST(count(CASE WHEN NOT s THEN 1 END) AS BIGINT) AS n_below,
           |    CAST(sum(chg) AS BIGINT) AS runs
           |  FROM ch GROUP BY 1),
           |zc AS (SELECT gg.g, n, n_above, n_below, t.n_ties, runs,
           |    CASE WHEN n_above > 0 AND n_below > 0 AND
           |      2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) - CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) > 0
           |      THEN (CAST(runs AS DOUBLE) - (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) / CAST(n AS DOUBLE) + 1.0)) /
           |        sqrt(2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE) - CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))
           |    END AS z
           |  FROM gg JOIN t ON gg.g = t.g),
           |pz AS (SELECT g, n, n_above, n_below, n_ties, runs, z, abs(z) AS az,
           |    1.0 / (1.0 + 0.33267 * abs(z)) AS tt FROM zc)
           |SELECT g AS event_type, n, n_above, n_below, n_ties AS n_ties_dropped, runs,
           |  ${r6("z")} AS z,
           |  CASE WHEN z IS NOT NULL THEN ${r6(pSql)} END AS p_value
           |FROM pz""".stripMargin)),

    // Friedman: do the event types rank differently across user-decile
    // blocks (the q_kendall_w cells, tested instead of agreed)
    QueryDef("q_friedman",
      { (s, dir) =>
        val cells = ev(s, dir).filter(col("value").isNotNull && !isnan(col("value")))
          .groupBy(col("event_type"), pmod(col("user_id"), lit(10)).as("bucket"))
          .agg(graft.functions.Portable.r6(
            sum(col("value").cast("decimal(38,6)")).cast("double")).as("total"))
          .withColumn("g", lit("all"))
        Hypothesis.friedman(cells, Seq("g"), "bucket", "event_type", "total")
      },
      Some(s"""WITH cells AS (SELECT event_type AS tr, user_id % 10 AS blk,
           |    ${r6("CAST(coalesce(sum(CAST(value AS DECIMAL(38,6))), 0) AS DOUBLE)")} AS v
           |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
           |  GROUP BY 1, 2),
           |rk AS (SELECT tr, blk, v,
           |    CAST(rank() OVER (PARTITION BY blk ORDER BY v) AS DOUBLE) +
           |      (CAST(count(*) OVER (PARTITION BY blk, v) AS DOUBLE) - 1.0) / 2.0 AS ark
           |  FROM cells),
           |rj AS (SELECT tr, CAST(coalesce(sum(CAST(ark AS DECIMAL(38,6))), 0) AS DOUBLE) AS rjs FROM rk GROUP BY 1),
           |shape AS (SELECT CAST(count(DISTINCT blk) AS BIGINT) AS nb, CAST(count(DISTINCT tr) AS BIGINT) AS k FROM cells),
           |agg AS (SELECT ${ds("rjs * rjs")} AS sr2 FROM rj)
           |SELECT 'all' AS g, nb AS n_blocks, k AS k_treatments,
           |  CASE WHEN k >= 2 AND nb >= 2 THEN ${r6("12.0 / (CAST(nb AS DOUBLE) * CAST(k AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)) * sr2 - 3.0 * CAST(nb AS DOUBLE) * (CAST(k AS DOUBLE) + 1.0)")} END AS q,
           |  k - 1 AS df
           |FROM shape, agg""".stripMargin)),

    // Cochran's Q: do the event types "flag" the same user deciles
    // (hit = cell mean value above 50)
    QueryDef("q_cochran_q",
      { (s, dir) =>
        val cells = ev(s, dir).filter(col("value").isNotNull && !isnan(col("value")))
          .groupBy(col("event_type"), pmod(col("user_id"), lit(10)).as("bucket"))
          .agg((graft.functions.Portable.r6(
            sum(col("value").cast("decimal(38,6)")).cast("double")) /
            count(lit(1)).cast("double")).as("mv"))
          .withColumn("g", lit("all"))
        Hypothesis.cochranQ(cells, Seq("g"), "bucket", "event_type", col("mv") > 50.0)
      },
      Some(s"""WITH cells AS (SELECT event_type AS tr, user_id % 10 AS s,
           |    CASE WHEN ${r6("CAST(coalesce(sum(CAST(value AS DECIMAL(38,6))), 0) AS DOUBLE)")} / CAST(count(*) AS DOUBLE) > 50.0 THEN 1 ELSE 0 END AS h
           |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
           |  GROUP BY 1, 2),
           |cj AS (SELECT tr, CAST(sum(h) AS BIGINT) AS cj FROM cells GROUP BY 1),
           |ri AS (SELECT s, CAST(sum(h) AS BIGINT) AS ri FROM cells GROUP BY 1),
           |cs AS (SELECT CAST(sum(cj) AS BIGINT) AS t, ${ds("CAST(cj AS DOUBLE) * CAST(cj AS DOUBLE)")} AS sc2 FROM cj),
           |rr AS (SELECT ${ds("CAST(ri AS DOUBLE) * CAST(ri AS DOUBLE)")} AS sr2 FROM ri),
           |shape AS (SELECT CAST(count(DISTINCT s) AS BIGINT) AS ns, CAST(count(DISTINCT tr) AS BIGINT) AS k FROM cells)
           |SELECT 'all' AS g, ns AS n_subjects, k AS k_treatments,
           |  CASE WHEN CAST(k AS DOUBLE) * CAST(t AS DOUBLE) - sr2 > 0
           |    THEN ${r6("(CAST(k AS DOUBLE) - 1.0) * (CAST(k AS DOUBLE) * sc2 - CAST(t AS DOUBLE) * CAST(t AS DOUBLE)) / (CAST(k AS DOUBLE) * CAST(t AS DOUBLE) - sr2)")} END AS q,
           |  k - 1 AS df
           |FROM shape, cs, rr""".stripMargin))
  )
}
