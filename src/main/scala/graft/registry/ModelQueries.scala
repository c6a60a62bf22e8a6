package graft
package registry

import graft.operators._
import graft.sources.Tables
import graft.text.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fitted models and their evaluation: classifier metrics, calibration,
  * survival, causal estimators, attribution and encodings.
  */
object ModelQueries {
  import Shared._

  /** Cox oracle: KM-style spans + per-day event stats + `iters` staged
    * Newton CTEs — mirrors [[graft.operators.Survival.coxPh]] on the
    * [[coxSubjects]] frame. Emits CTEs ending in `ui$iters` (u, i, ll
    * evaluated AT the final beta) and `b$iters` (the final beta).
    */
  private def coxCtes(iters: Int): String = {
    val head =
      s"""sp AS (SELECT user_id, min(epoch_us(ts)) AS t0,
         |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS te,
         |    max(epoch_us(ts)) AS tl,
         |    ${r6(s"${dsum("value")} / CAST(count(*) AS DOUBLE)")} AS x
         |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
         |subj AS (SELECT CAST(floor(CAST(coalesce(te, tl) - t0 AS DOUBLE) / 86400000000.0) AS BIGINT) AS t_day,
         |    te IS NOT NULL AS obs, x FROM sp),
         |evd AS (SELECT t_day, count(CASE WHEN obs THEN 1 END) AS d,
         |    coalesce(${dsum("CASE WHEN obs THEN x END")}, 0.0) AS sx FROM subj GROUP BY 1),
         |b0 AS (SELECT CAST(0.0 AS DOUBLE) AS beta)""".stripMargin
    // step k: day totals at b{k} -> reverse-cumulative risk sums ->
    // one-row (u, i, ll); the Newton update to b{k+1} is emitted
    // separately so the LAST step can evaluate AT the final beta
    def eval(k: Int): String = {
      val rev = "ORDER BY t_day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING"
      s"""w$k AS (SELECT s.t_day, ${r6("exp(b.beta * s.x)")} AS w, s.x AS x FROM subj s, b$k b),
         |day$k AS (SELECT t_day, ${dsum("w")} AS w0, ${dsum(r6("w * x"))} AS w1,
         |    ${dsum(r6("w * x * x"))} AS w2 FROM w$k GROUP BY 1),
         |rs$k AS (SELECT dy.t_day, e.d, e.sx,
         |    CAST(sum(CAST(dy.w0 AS DECIMAL(38,6))) OVER ($rev) AS DOUBLE) AS s0,
         |    CAST(sum(CAST(dy.w1 AS DECIMAL(38,6))) OVER ($rev) AS DOUBLE) AS s1,
         |    CAST(sum(CAST(dy.w2 AS DECIMAL(38,6))) OVER ($rev) AS DOUBLE) AS s2
         |  FROM day$k dy JOIN evd e USING (t_day)),
         |ui$k AS (SELECT
         |    coalesce(${dsum(r6("sx - CAST(d AS DOUBLE) * s1 / s0"))}, 0.0) AS u,
         |    coalesce(${dsum(r6("CAST(d AS DOUBLE) * (s2 / s0 - (s1 / s0) * (s1 / s0))"))}, 0.0) AS i,
         |    coalesce(${dsum(r6("b.beta * sx - CAST(d AS DOUBLE) * ln(s0)"))}, 0.0) AS ll
         |  FROM rs$k CROSS JOIN b$k b WHERE d > 0)""".stripMargin
    }
    def update(k: Int): String =
      s"""b${k + 1} AS (SELECT CASE WHEN ui.i > 0 THEN ${r6("b.beta + ui.u / ui.i")}
         |    ELSE b.beta END AS beta FROM ui$k ui, b$k b)""".stripMargin
    val steps = (0 until iters).flatMap(k => Seq(eval(k), update(k)))
    (head +: steps :+ eval(iters)).mkString(",\n")
  }

  /** [[logitDocs]] as oracle CTEs ending in `ld(id, source, n_chars,
    * y, x1, x2)` — shared by the logistic-GD oracles and q_stump.
    */
  private def logitDocsCtes(yExpr: String): String = {
    s"""lw AS (SELECT *, len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS nw
       |  FROM documents),
       |ld AS (SELECT doc_id AS id, source, n_chars, CAST(($yExpr) AS INT) AS y,
       |    ${r6("CAST(nw AS DOUBLE) / 100.0")} AS x1,
       |    CASE WHEN nw > 0 THEN ${r6("CAST(n_chars AS DOUBLE) / (CAST(nw AS DOUBLE) * 10.0)")}
       |      ELSE 0.0 END AS x2
       |  FROM lw)""".stripMargin
  }

  /** Logistic-GD oracle: [[logitDocs]] features + `iters` staged
    * gradient steps (lr 0.5) on label `yExpr` — mirrors
    * [[graft.operators.Logistic.fitGd]]. Emits CTEs ending in
    * `cb$iters` (c0/c1/c2) and the scoring pass `p$iters`
    * (id, source, n_chars, y, x1, x2, p).
    */
  private def logitCtes(yExpr: String, iters: Int): String = {
    val head =
      s"""${logitDocsCtes(yExpr)},
         |cb0 AS (SELECT CAST(0.0 AS DOUBLE) AS c0, CAST(0.0 AS DOUBLE) AS c1, CAST(0.0 AS DOUBLE) AS c2)""".stripMargin
    def score(k: Int): String =
      s"""p$k AS (SELECT id, source, n_chars, y, x1, x2,
         |    ${r6("1.0 / (1.0 + exp(-(b.c0 * 1.0 + b.c1 * x1 + b.c2 * x2)))")} AS p
         |  FROM ld, cb$k b)""".stripMargin
    def step(k: Int): String =
      s"""${score(k)},
         |g$k AS (SELECT count(*) AS n, ${dsum(r6("(p - CAST(y AS DOUBLE)) * 1.0"))} AS g0,
         |    ${dsum(r6("(p - CAST(y AS DOUBLE)) * x1"))} AS g1,
         |    ${dsum(r6("(p - CAST(y AS DOUBLE)) * x2"))} AS g2 FROM p$k),
         |cb${k + 1} AS (SELECT ${r6("b.c0 - 0.5 * g.g0 / CAST(g.n AS DOUBLE)")} AS c0,
         |    ${r6("b.c1 - 0.5 * g.g1 / CAST(g.n AS DOUBLE)")} AS c1,
         |    ${r6("b.c2 - 0.5 * g.g2 / CAST(g.n AS DOUBLE)")} AS c2
         |  FROM g$k g, cb$k b)""".stripMargin
    (head +: (0 until iters).map(step) :+ score(iters)).mkString(",\n")
  }

  /** Per-user Cox subjects shared by the q_cox Spark call and oracle:
    * KM-style spans (first event → first purchase else last event, day
    * granularity) plus the r6-pinned mean event value as covariate.
    */
  private def coxSubjects(s: SparkSession, dir: String): DataFrame = {
    val t = unix_micros(col("ts"))
    ev(s, dir).filter(col("ts").isNotNull)
      .groupBy(col("user_id"))
      .agg(
        min(t).as("__t0"),
        min(when(col("event_type") === "purchase", t)).as("__te"),
        max(t).as("__tl"),
        graft.functions.Portable.r6(
          sum(col("value").cast("decimal(38,6)")).cast("double") /
            count(lit(1)).cast("double")).as("x"))
      .select(
        floor((coalesce(col("__te"), col("__tl")) - col("__t0")).cast("double") / 86400000000.0)
          .cast("long").as("t_day"),
        col("__te").isNotNull.as("obs"),
        col("x"))
  }

  /** Docs with the length-bucket label and two r6-pinned O(1)-scaled
    * features (word count / 100, mean word length / 10) shared by the
    * q_logreg and q_ipw Spark calls and oracles.
    */
  private def logitDocs(s: SparkSession, dir: String): DataFrame = {
    val nw = size(TextFunctions.wordTokens(col("text")))
    docs(s, dir).select(
      col("doc_id"), col("source"), col("n_chars"),
      (col("n_chars") >= 300).as("y"),
      graft.functions.Portable.r6(nw.cast("double") / lit(100.0)).as("x1"),
      when(nw > 0, graft.functions.Portable.r6(
        col("n_chars").cast("double") / (nw.cast("double") * lit(10.0))))
        .otherwise(lit(0.0)).as("x2"))
  }

  val all: Seq[QueryDef] = Seq(
    // first/last-touch attribution for purchase conversions; both
    // windows share one (user, time, tie) exchange + sort
    QueryDef("q_attribution",
      (s, dir) =>
        Attribution
          .touchAttribution(ev(s, dir), "user_id", "ts", "event_type", "event_id", "purchase")
          .select(col("event_id"), col("user_id"),
            col("first_touch"), col("last_touch"), col("n_prior")),
      Some("""WITH w AS (SELECT event_id, user_id, event_type,
          |    first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch,
          |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS last_touch,
          |    CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT) AS n_prior
          |  FROM events WHERE ts IS NOT NULL)
          |SELECT event_id, user_id, first_touch, last_touch, n_prior
          |FROM w WHERE event_type = 'purchase'""".stripMargin)),

    // Kaplan–Meier time-to-purchase curve (day granularity; log-survival)
    QueryDef("q_km_survival",
      (s, dir) =>
        Survival
          .kaplanMeier(ev(s, dir), "user_id", "ts", "event_type", "purchase")
          .select(col("t_day"), col("n_risk"), col("d_events"), col("c_censored"),
            graft.functions.Portable.r6(col("log_s")).as("log_s")),
      Some(s"""WITH sp AS (SELECT user_id, min(epoch_us(ts)) AS t0,
           |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS te,
           |    max(epoch_us(ts)) AS tl
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
           |dur AS (SELECT CAST(floor(CAST(coalesce(te, tl) - t0 AS DOUBLE) / 86400000000.0) AS BIGINT) AS t_day,
           |    te IS NOT NULL AS obs FROM sp),
           |cv AS (SELECT t_day, count(CASE WHEN obs THEN 1 END) AS d_events,
           |    count(CASE WHEN NOT obs THEN 1 END) AS c_censored FROM dur GROUP BY 1),
           |tot AS (SELECT sum(d_events + c_censored) AS total FROM cv),
           |r AS (SELECT t_day, d_events, c_censored,
           |    total - coalesce(sum(d_events + c_censored) OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
           |  FROM cv, tot),
           |h AS (SELECT t_day, d_events, c_censored, n_risk,
           |    CASE WHEN d_events > 0 AND d_events < n_risk THEN
           |      ${graft.functions.Portable.r6Sql("ln(1 - CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE))")}
           |    ELSE 0.0 END AS term
           |  FROM r)
           |SELECT t_day, CAST(n_risk AS BIGINT) AS n_risk, CAST(d_events AS BIGINT) AS d_events,
           |  CAST(c_censored AS BIGINT) AS c_censored,
           |  CASE WHEN d_events = n_risk THEN NULL ELSE
           |    ${graft.functions.Portable.r6Sql("CAST(sum(CAST(term AS DECIMAL(38,6))) OVER (ORDER BY t_day) AS DOUBLE)")}
           |  END AS log_s
           |FROM h""".stripMargin)),

    // difference-in-differences: md5 A/B arms x mid-stream cutover
    QueryDef("q_did",
      { (s, dir) =>
        val arm = TextFunctions.md5Hash32(
          concat(lit("ab:"), col("user_id").cast("string"))) % 2 === 1
        val post = col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp")
        Stats
          .didTest(ev(s, dir).withColumn("__b", arm).withColumn("__p", post),
            Seq("event_type"), "value", col("__b"), col("__p"))
          .select(col("event_type"),
            col("n_a_pre"), col("n_a_post"), col("n_b_pre"), col("n_b_post"),
            graft.functions.Portable.r6(col("did")).as("did"),
            graft.functions.Portable.r6(col("se")).as("se"),
            graft.functions.Portable.r6(col("z")).as("z"))
      },
      Some(s"""WITH e AS (SELECT event_type, value,
           |    coalesce(${h32("'ab:' || CAST(user_id AS VARCHAR)")} % 2 = 1, false) AS b,
           |    coalesce(ts >= TIMESTAMP '2024-01-16 00:00:00', false) AS p
           |  FROM events),
           |m AS (SELECT event_type,
           |    count(CASE WHEN $P AND NOT b AND NOT p THEN 1 END) AS n_a_pre,
           |    count(CASE WHEN $P AND NOT b AND p THEN 1 END) AS n_a_post,
           |    count(CASE WHEN $P AND b AND NOT p THEN 1 END) AS n_b_pre,
           |    count(CASE WHEN $P AND b AND p THEN 1 END) AS n_b_post,
           |    CAST(coalesce(sum(CASE WHEN $P AND NOT b AND NOT p THEN CAST(value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s_ape,
           |    CAST(coalesce(sum(CASE WHEN $P AND NOT b AND p THEN CAST(value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s_apo,
           |    CAST(coalesce(sum(CASE WHEN $P AND b AND NOT p THEN CAST(value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s_bpe,
           |    CAST(coalesce(sum(CASE WHEN $P AND b AND p THEN CAST(value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s_bpo,
           |    CAST(coalesce(sum(CASE WHEN $P AND NOT b AND NOT p THEN CAST(value*value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s2_ape,
           |    CAST(coalesce(sum(CASE WHEN $P AND NOT b AND p THEN CAST(value*value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s2_apo,
           |    CAST(coalesce(sum(CASE WHEN $P AND b AND NOT p THEN CAST(value*value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s2_bpe,
           |    CAST(coalesce(sum(CASE WHEN $P AND b AND p THEN CAST(value*value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s2_bpo
           |  FROM e GROUP BY 1),
           |d AS (SELECT event_type, n_a_pre, n_a_post, n_b_pre, n_b_post,
           |    (s_bpo / CAST(n_b_post AS DOUBLE) - s_bpe / CAST(n_b_pre AS DOUBLE))
           |      - (s_apo / CAST(n_a_post AS DOUBLE) - s_ape / CAST(n_a_pre AS DOUBLE)) AS did0,
           |    CASE WHEN n_a_pre >= 2 AND n_a_post >= 2 AND n_b_pre >= 2 AND n_b_post >= 2 THEN
           |      sqrt(greatest(s2_ape / CAST(n_a_pre AS DOUBLE) - (s_ape / CAST(n_a_pre AS DOUBLE)) * (s_ape / CAST(n_a_pre AS DOUBLE)), 0.0) * CAST(n_a_pre AS DOUBLE) / (CAST(n_a_pre AS DOUBLE) - 1.0) / CAST(n_a_pre AS DOUBLE)
           |         + greatest(s2_apo / CAST(n_a_post AS DOUBLE) - (s_apo / CAST(n_a_post AS DOUBLE)) * (s_apo / CAST(n_a_post AS DOUBLE)), 0.0) * CAST(n_a_post AS DOUBLE) / (CAST(n_a_post AS DOUBLE) - 1.0) / CAST(n_a_post AS DOUBLE)
           |         + greatest(s2_bpe / CAST(n_b_pre AS DOUBLE) - (s_bpe / CAST(n_b_pre AS DOUBLE)) * (s_bpe / CAST(n_b_pre AS DOUBLE)), 0.0) * CAST(n_b_pre AS DOUBLE) / (CAST(n_b_pre AS DOUBLE) - 1.0) / CAST(n_b_pre AS DOUBLE)
           |         + greatest(s2_bpo / CAST(n_b_post AS DOUBLE) - (s_bpo / CAST(n_b_post AS DOUBLE)) * (s_bpo / CAST(n_b_post AS DOUBLE)), 0.0) * CAST(n_b_post AS DOUBLE) / (CAST(n_b_post AS DOUBLE) - 1.0) / CAST(n_b_post AS DOUBLE))
           |    END AS se0
           |  FROM m)
           |SELECT event_type, n_a_pre, n_a_post, n_b_pre, n_b_post,
           |  CASE WHEN n_a_pre >= 2 AND n_a_post >= 2 AND n_b_pre >= 2 AND n_b_post >= 2
           |    THEN ${graft.functions.Portable.r6Sql("did0")} END AS did,
           |  CASE WHEN se0 IS NOT NULL THEN ${graft.functions.Portable.r6Sql("se0")} END AS se,
           |  CASE WHEN se0 > 0 THEN ${graft.functions.Portable.r6Sql("did0 / se0")} END AS z
           |FROM d""".stripMargin)),

    // ROC AUC per lang: does doc length rank ' the '-bearing docs first?
    // (the quality-classifier separation readout; NULL for one-arm slices)
    QueryDef("q_auc",
      (s, dir) =>
        Evaluation.rocAuc(docs(s, dir), Seq("lang"), "n_chars",
            col("text").contains(" the "))
          .select(col("lang"), col("n_pos"), col("n_neg"),
            graft.functions.Portable.r6(col("auc")).as("auc")),
      Some("""WITH v AS (SELECT lang, CAST(n_chars AS DOUBLE) AS x,
          |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS p
          |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
          |r AS (SELECT lang, p,
          |        CAST(rank() OVER (PARTITION BY lang ORDER BY x) AS DOUBLE)
          |          + CAST(count(*) OVER (PARTITION BY lang, x) - 1 AS DOUBLE) / 2.0 AS rk
          |      FROM v),
          |m AS (SELECT lang, CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(1 - p) AS BIGINT) AS n_neg,
          |        CAST(coalesce(sum(CASE WHEN p = 1 THEN CAST(rk AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS rp
          |      FROM r GROUP BY 1)
          |SELECT lang, n_pos, n_neg,
          |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
          |    floor((rp - CAST(n_pos AS DOUBLE) * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
          |      / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) * 1000000 + 0.5) / 1000000 END AS auc
          |FROM m""".stripMargin)),

    // calibration of the length-derived [0,1] score against the same
    // label: decile reliability bins + per-lang expected calibration error
    QueryDef("q_calibration",
      (s, dir) =>
        Evaluation.calibration(
            docs(s, dir).withColumn("score",
              least(lit(1.0), col("n_chars").cast("double") / 1000.0)),
            Seq("lang"), "score", col("text").contains(" the "), nBins = 10)
          .select(col("lang"), col("bin"), col("n"),
            graft.functions.Portable.r6(col("conf")).as("conf"),
            graft.functions.Portable.r6(col("acc")).as("acc"),
            graft.functions.Portable.r6(col("ece")).as("ece")),
      Some("""WITH v AS (SELECT lang, least(1.0, CAST(n_chars AS DOUBLE) / 1000.0) AS x,
          |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS p FROM documents),
          |g AS (SELECT lang, least(9, greatest(0, CAST(floor(x * 10) AS BIGINT))) AS bin,
          |        CAST(count(*) AS BIGINT) AS n,
          |        CAST(sum(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
          |        CAST(sum(p) AS BIGINT) AS k
          |      FROM v GROUP BY 1, 2),
          |b AS (SELECT lang, bin, n, sx / CAST(n AS DOUBLE) AS conf0,
          |        CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS acc0 FROM g),
          |e AS (SELECT lang, bin, n, conf0, acc0,
          |        CAST(sum(CAST(floor(CAST(n AS DOUBLE) * abs(acc0 - conf0) * 1000000 + 0.5) / 1000000
          |          AS DECIMAL(38,6))) OVER (PARTITION BY lang) AS DOUBLE)
          |          / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE) AS ece0
          |      FROM b)
          |SELECT lang, bin, n,
          |  floor(conf0 * 1000000 + 0.5) / 1000000 AS conf,
          |  floor(acc0 * 1000000 + 0.5) / 1000000 AS acc,
          |  floor(ece0 * 1000000 + 0.5) / 1000000 AS ece
          |FROM e""".stripMargin)),

    // average precision per lang (PR-curve area; contrast q_auc which
    // saturates under class skew), ranking by length, tie-break doc_id
    QueryDef("q_ap",
      (s, dir) =>
        Evaluation.averagePrecision(docs(s, dir), Seq("lang"), "n_chars", "doc_id",
            col("text").contains(" the "))
          .select(col("lang"), col("n"), col("n_pos"),
            graft.functions.Portable.r6(col("ap")).as("ap")),
      Some("""WITH v AS (SELECT lang, doc_id, CAST(n_chars AS DOUBLE) AS x,
          |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS p
          |  FROM documents WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE))),
          |r AS (SELECT lang, p,
          |        row_number() OVER (PARTITION BY lang ORDER BY x DESC, doc_id) AS rk,
          |        sum(p) OVER (PARTITION BY lang ORDER BY x DESC, doc_id
          |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
          |      FROM v),
          |m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS n_pos,
          |        CAST(coalesce(sum(CASE WHEN p = 1 THEN
          |          CAST(floor(CAST(cp AS DOUBLE) / CAST(rk AS DOUBLE) * 1000000 + 0.5) / 1000000
          |            AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sap
          |      FROM r GROUP BY 1)
          |SELECT lang, n, n_pos,
          |  CASE WHEN n_pos > 0 THEN
          |    floor(sap / CAST(n_pos AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS ap
          |FROM m""".stripMargin)),

    // two-group log-rank test on time-to-purchase, arms by md5 coin
    // over users (the whole-curve companion to q_km_survival)
    QueryDef("q_logrank",
      (s, dir) =>
        Survival.logRank(ev(s, dir), "user_id", "ts", "event_type", "purchase",
            inA = pmod(TextFunctions.md5Hash32(
              concat(lit("lr|"), col("user_id").cast("string"))), lit(2)) === 0)
          .select(col("n_a"), col("n_b"), col("o_a"),
            graft.functions.Portable.r6(col("e_a")).as("e_a"),
            graft.functions.Portable.r6(col("v")).as("v"),
            graft.functions.Portable.r6(col("chi2")).as("chi2")),
      Some(s"""WITH sp AS (SELECT user_id, min(epoch_us(ts)) AS t0,
           |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS te,
           |    max(epoch_us(ts)) AS tl,
           |    max(CASE WHEN ${h32("concat('lr|', CAST(user_id AS VARCHAR))")} % 2 = 0 THEN 1 ELSE 0 END) AS a
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
           |dur AS (SELECT CAST(floor(CAST(coalesce(te, tl) - t0 AS DOUBLE) / 86400000000.0) AS BIGINT) AS t_day,
           |    te IS NOT NULL AS obs, a = 1 AS ina FROM sp),
           |cv AS (SELECT t_day,
           |    count(CASE WHEN obs AND ina THEN 1 END) AS d_a,
           |    count(CASE WHEN obs AND NOT ina THEN 1 END) AS d_b,
           |    count(CASE WHEN NOT obs AND ina THEN 1 END) AS c_a,
           |    count(CASE WHEN NOT obs AND NOT ina THEN 1 END) AS c_b
           |  FROM dur GROUP BY 1),
           |tot AS (SELECT sum(d_a + c_a) AS ta, sum(d_b + c_b) AS tb FROM cv),
           |r AS (SELECT t_day, d_a, d_b, ta, tb,
           |    ta - coalesce(sum(d_a + c_a) OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nar,
           |    tb - coalesce(sum(d_b + c_b) OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nbr
           |  FROM cv, tot),
           |h AS (SELECT d_a, ta, tb,
           |    CAST(d_a + d_b AS DOUBLE) AS d,
           |    CAST(nar AS DOUBLE) AS na,
           |    CAST(nar + nbr AS DOUBLE) AS nn
           |  FROM r),
           |t2 AS (SELECT d_a, ta, tb,
           |    CASE WHEN d > 0 THEN floor(d * (na / nn) * 1000000 + 0.5) / 1000000 ELSE 0.0 END AS et,
           |    CASE WHEN d > 0 AND nn > 1 THEN
           |      floor(d * (na / nn) * (1.0 - na / nn) * (nn - d) / (nn - 1.0) * 1000000 + 0.5) / 1000000
           |    ELSE 0.0 END AS vt
           |  FROM h),
           |agg AS (SELECT CAST(max(ta) AS BIGINT) AS n_a, CAST(max(tb) AS BIGINT) AS n_b,
           |    CAST(sum(d_a) AS BIGINT) AS o_a,
           |    CAST(coalesce(sum(CAST(et AS DECIMAL(38,6))), 0) AS DOUBLE) AS ea,
           |    CAST(coalesce(sum(CAST(vt AS DECIMAL(38,6))), 0) AS DOUBLE) AS vv
           |  FROM t2)
           |SELECT n_a, n_b, o_a,
           |  floor(ea * 1000000 + 0.5) / 1000000 AS e_a,
           |  floor(vv * 1000000 + 0.5) / 1000000 AS v,
           |  CASE WHEN n_a > 0 AND n_b > 0 AND vv > 0 THEN
           |    floor((CAST(o_a AS DOUBLE) - ea) * (CAST(o_a AS DOUBLE) - ea) / vv * 1000000 + 0.5) / 1000000
           |  END AS chi2
           |FROM agg""".stripMargin)),

    // RFM segmentation of customers within market segments
    QueryDef("q_rfm",
      { (s, dir) =>
        val o = Tables.orders(s, dir)
        val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment"))
        graft.operators.Rfm.rfm(o.join(c, col("o_custkey") === col("c_custkey")),
            "c_mktsegment", "o_custkey", "o_orderdate", "o_totalprice", nBins = 5)
          .select(col("seg"), col("entity"),
            unix_micros(col("recency").cast("timestamp")).as("recency_us"),
            col("frequency"), col("monetary"), col("r"), col("f"), col("m"), col("rfm"))
      },
      Some("""WITH b AS (SELECT c_mktsegment AS seg, o_custkey AS entity,
          |    max(o_orderdate) AS recency, CAST(count(*) AS BIGINT) AS frequency,
          |    CAST(sum(CAST(floor(CAST(o_totalprice AS DOUBLE) * 1000000 + 0.5) / 1000000
          |      AS DECIMAL(38,6))) AS DOUBLE) AS monetary
          |  FROM orders JOIN customer ON o_custkey = c_custkey
          |  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
          |  GROUP BY 1, 2)
          |SELECT seg, entity, epoch_us(recency) AS recency_us, frequency, monetary,
          |  CAST(ntile(5) OVER (PARTITION BY seg ORDER BY recency, entity) AS BIGINT) AS r,
          |  CAST(ntile(5) OVER (PARTITION BY seg ORDER BY frequency, entity) AS BIGINT) AS f,
          |  CAST(ntile(5) OVER (PARTITION BY seg ORDER BY monetary, entity) AS BIGINT) AS m,
          |  CAST(ntile(5) OVER (PARTITION BY seg ORDER BY recency, entity) * 100
          |    + ntile(5) OVER (PARTITION BY seg ORDER BY frequency, entity) * 10
          |    + ntile(5) OVER (PARTITION BY seg ORDER BY monetary, entity) AS BIGINT) AS rfm
          |FROM b""".stripMargin)),

    // isotonic (PAVA) recalibration of a length-based quality score
    // against the ' the ' label, per language — q_ece's companion FIX
    QueryDef("q_isotonic",
      (s, dir) =>
        Evaluation.isotonicCalibration(
            docs(s, dir).withColumn("score",
              least(lit(1.0), col("n_chars").cast("double") / 2000.0)),
            Seq("lang"), "score", col("text").contains(" the "), nBins = 20)
          .select(col("lang"), col("bin"), col("n"),
            graft.functions.Portable.r6(col("conf")).as("conf"),
            graft.functions.Portable.r6(col("acc")).as("acc"),
            graft.functions.Portable.r6(col("iso")).as("iso")),
      Some("""WITH v AS (SELECT lang, least(1.0, CAST(n_chars AS DOUBLE) / 2000.0) AS x,
          |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS p
          |  FROM documents WHERE n_chars IS NOT NULL),
          |b AS (SELECT lang, least(19, greatest(0, CAST(floor(x * 20) AS BIGINT))) AS bin,
          |    CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS kk,
          |    CAST(sum(CAST(floor(x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS sx
          |  FROM v GROUP BY 1, 2),
          |c AS (SELECT lang, bin, n, kk, sx,
          |      CAST(sum(n) OVER w AS BIGINT) AS cn, CAST(sum(kk) OVER w AS BIGINT) AS ck,
          |      CAST(sum(n) OVER w - n AS BIGINT) AS pn, CAST(sum(kk) OVER w - kk AS BIGINT) AS pk
          |    FROM b WINDOW w AS (PARTITION BY lang ORDER BY bin
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
          |mn AS (SELECT i.lang, i.bin, j.bin AS jb, i.n, i.kk, i.sx,
          |      min(CAST(r.ck - j.pk AS DOUBLE) / CAST(r.cn - j.pn AS DOUBLE)) AS m
          |    FROM c i JOIN c j ON i.lang = j.lang AND j.bin <= i.bin
          |      JOIN c r ON i.lang = r.lang AND r.bin >= i.bin
          |    GROUP BY 1, 2, 3, 4, 5, 6),
          |f AS (SELECT lang, bin, n, kk, sx, max(m) AS iso FROM mn GROUP BY 1, 2, 3, 4, 5)
          |SELECT lang, bin, n,
          |  floor(sx / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS conf,
          |  floor(CAST(kk AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS acc,
          |  floor(iso * 1000000 + 0.5) / 1000000 AS iso
          |FROM f""".stripMargin)),

    // leakage-safe LOO target encoding of source against doc length
    QueryDef("q_target_encode",
      (s, dir) =>
        graft.operators.TargetEncode.leaveOneOut(docs(s, dir), "source", "n_chars",
            smoothing = 10.0)
          .select(col("doc_id"), col("source"),
            graft.functions.Portable.r6(col("enc")).as("enc")),
      Some("""WITH v AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS y FROM documents),
          |ok AS (SELECT * FROM v WHERE source IS NOT NULL AND y IS NOT NULL AND NOT isnan(y)),
          |cat AS (SELECT source,
          |    CAST(sum(CAST(floor(y * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS s,
          |    CAST(count(*) AS BIGINT) AS n
          |  FROM ok GROUP BY 1),
          |g AS (SELECT CAST(sum(CAST(floor(y * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE)
          |    / CAST(count(*) AS DOUBLE) AS gm FROM ok)
          |SELECT doc_id, v.source,
          |  CASE WHEN v.source IS NOT NULL AND y IS NOT NULL AND NOT isnan(y)
          |      AND CAST(n AS DOUBLE) - 1.0 + 10.0 > 0.0 THEN
          |    floor((s - floor(y * 1000000 + 0.5) / 1000000 + 10.0 * gm)
          |      / (CAST(n AS DOUBLE) - 1.0 + 10.0) * 1000000 + 0.5) / 1000000 END AS enc
          |FROM v LEFT JOIN cat ON v.source = cat.source, g""".stripMargin)),

    // Nelson-Aalen cumulative hazard on the q_km_survival spans
    QueryDef("q_nelson_aalen",
      (s, dir) =>
        Survival
          .nelsonAalen(ev(s, dir), "user_id", "ts", "event_type", "purchase")
          .select(col("t_day"), col("n_risk"), col("d_events"), col("c_censored"),
            graft.functions.Portable.r6(col("hazard")).as("hazard"),
            graft.functions.Portable.r6(col("cum_hazard")).as("cum_hazard")),
      Some(s"""WITH sp AS (SELECT user_id, min(epoch_us(ts)) AS t0,
           |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS te,
           |    max(epoch_us(ts)) AS tl
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
           |dur AS (SELECT CAST(floor(CAST(coalesce(te, tl) - t0 AS DOUBLE) / 86400000000.0) AS BIGINT) AS t_day,
           |    te IS NOT NULL AS obs FROM sp),
           |cv AS (SELECT t_day, count(CASE WHEN obs THEN 1 END) AS d_events,
           |    count(CASE WHEN NOT obs THEN 1 END) AS c_censored FROM dur GROUP BY 1),
           |tot AS (SELECT sum(d_events + c_censored) AS total FROM cv),
           |r AS (SELECT t_day, d_events, c_censored,
           |    total - coalesce(sum(d_events + c_censored) OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
           |  FROM cv, tot),
           |h AS (SELECT t_day, d_events, c_censored, n_risk,
           |    ${graft.functions.Portable.r6Sql("CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE)")} AS inc
           |  FROM r)
           |SELECT t_day, CAST(n_risk AS BIGINT) AS n_risk, CAST(d_events AS BIGINT) AS d_events,
           |  CAST(c_censored AS BIGINT) AS c_censored,
           |  ${graft.functions.Portable.r6Sql("inc")} AS hazard,
           |  ${graft.functions.Portable.r6Sql("CAST(sum(CAST(inc AS DECIMAL(38,6))) OVER (ORDER BY t_day) AS DOUBLE)")} AS cum_hazard
           |FROM h""".stripMargin)),

    // threshold operating table for the q_isotonic score/label pair
    QueryDef("q_pr_curve",
      (s, dir) =>
        Evaluation.prCurve(
            docs(s, dir).withColumn("score",
              least(lit(1.0), col("n_chars").cast("double") / 2000.0)),
            Seq("lang"), "score", col("text").contains(" the "), nBins = 20)
          .select(col("lang"),
            graft.functions.Portable.r6(col("cutoff")).as("cutoff"),
            col("n_ge"), col("tp"), col("fp"), col("fn"),
            graft.functions.Portable.r6(col("precision")).as("precision"),
            graft.functions.Portable.r6(col("recall")).as("recall"),
            graft.functions.Portable.r6(col("f1")).as("f1")),
      Some("""WITH v AS (SELECT lang, least(1.0, CAST(n_chars AS DOUBLE) / 2000.0) AS x,
          |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS p
          |  FROM documents WHERE n_chars IS NOT NULL),
          |b AS (SELECT lang, least(19, greatest(0, CAST(floor(x * 20) AS BIGINT))) AS bin,
          |    CAST(count(*) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS kk FROM v GROUP BY 1, 2),
          |c AS (SELECT lang, bin, n, kk,
          |    CAST(sum(kk) OVER wd AS BIGINT) AS tp,
          |    CAST(sum(n) OVER wd AS BIGINT) AS nge,
          |    CAST(sum(kk) OVER (PARTITION BY lang) AS BIGINT) AS tot
          |  FROM b WINDOW wd AS (PARTITION BY lang ORDER BY bin DESC
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
          |SELECT lang, floor(CAST(bin AS DOUBLE) / 20.0 * 1000000 + 0.5) / 1000000 AS cutoff,
          |  nge AS n_ge, tp, nge - tp AS fp, tot - tp AS fn,
          |  floor(CAST(tp AS DOUBLE) / CAST(nge AS DOUBLE) * 1000000 + 0.5) / 1000000 AS "precision",
          |  CASE WHEN tot > 0 THEN
          |    floor(CAST(tp AS DOUBLE) / CAST(tot AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS recall,
          |  CASE WHEN tot > 0 AND CAST(tp AS DOUBLE) / CAST(nge AS DOUBLE)
          |      + CAST(tp AS DOUBLE) / CAST(tot AS DOUBLE) > 0.0 THEN
          |    floor(2.0 * (CAST(tp AS DOUBLE) / CAST(nge AS DOUBLE))
          |      * (CAST(tp AS DOUBLE) / CAST(tot AS DOUBLE))
          |      / ((CAST(tp AS DOUBLE) / CAST(nge AS DOUBLE))
          |        + (CAST(tp AS DOUBLE) / CAST(tot AS DOUBLE))) * 1000000 + 0.5) / 1000000 END AS f1
          |FROM c""".stripMargin)),

    // WOE/IV feature screen: does source/lang separate long docs
    // (n_chars > 500) from short ones — the pre-classifier leakage check
    QueryDef("q_woe",
      (s, dir) =>
        graft.operators.Woe.weightOfEvidence(docs(s, dir), Seq("source", "lang"),
          col("n_chars") > 500),
      Some {
        def melt(f: String) =
          s"SELECT '$f' AS feature, coalesce(CAST($f AS VARCHAR),'(null)') AS bin, coalesce(n_chars > 500, false) AS pos FROM documents"
        s"""WITH m AS (${melt("source")} UNION ALL ${melt("lang")}),
           |cells AS (SELECT feature, bin,
           |    count(CASE WHEN pos THEN 1 END) AS n_good,
           |    count(CASE WHEN NOT pos THEN 1 END) AS n_bad
           |  FROM m GROUP BY 1, 2),
           |d AS (SELECT feature, bin, n_good, n_bad,
           |    (CAST(n_good AS DOUBLE) + 0.5) / sum(CAST(n_good AS DOUBLE) + 0.5) OVER (PARTITION BY feature) AS pg,
           |    (CAST(n_bad AS DOUBLE) + 0.5) / sum(CAST(n_bad AS DOUBLE) + 0.5) OVER (PARTITION BY feature) AS pb
           |  FROM cells),
           |t AS (SELECT feature, bin, n_good, n_bad,
           |    floor(ln(pg / pb) * 1000000 + 0.5) / 1000000 AS woe,
           |    floor((pg - pb) * ln(pg / pb) * 1000000 + 0.5) / 1000000 AS iv_term
           |  FROM d)
           |SELECT feature, bin, n_good, n_bad, woe, iv_term,
           |  CAST(sum(CAST(iv_term AS DECIMAL(38,6))) OVER (PARTITION BY feature) AS DOUBLE) AS iv
           |FROM t""".stripMargin
      }),

    // Cox proportional hazards on the q_km_survival spans: does a
    // user's mean event value shift the time-to-purchase hazard
    // (fixed 4-step Newton, Breslow ties)
    QueryDef("q_cox",
      (s, dir) => Survival.coxPh(coxSubjects(s, dir), "t_day", "obs", "x"),
      Some(s"""WITH ${coxCtes(4)}
           |SELECT (SELECT count(*) FROM subj) AS n,
           |  (SELECT count(*) FROM subj WHERE obs) AS n_events,
           |  b4.beta AS beta, ${r6("exp(b4.beta)")} AS hr,
           |  CASE WHEN ui4.i > 0 THEN ${r6("1.0 / sqrt(ui4.i)")} END AS se,
           |  ui4.ll AS loglik
           |FROM b4, ui4""".stripMargin)),

    // logistic regression by fixed-step GD on the length-bucket label —
    // the linear-classifier counterpart to q_nb's generative model
    QueryDef("q_logreg",
      (s, dir) => {
        val d = logitDocs(s, dir)
        Logistic.coefficients(
          d, Logistic.fitGd(d, "y", Seq("x1", "x2"), iters = 5, lr = 0.5),
          "y", Seq("x1", "x2"))
      },
      Some(s"""WITH ${logitCtes("n_chars >= 300", 5)},
           |lc AS (SELECT CAST(y AS DOUBLE) AS yd,
           |    least(greatest(p, 1e-6), CAST(1.0 AS DOUBLE) - 1e-6) AS pc FROM p5),
           |lossq AS (SELECT count(*) AS n,
           |    ${r6(s"coalesce(${dsum(r6("-(yd * ln(pc) + (1.0 - yd) * ln(1.0 - pc))"))}, 0.0) / CAST(count(*) AS DOUBLE)")} AS log_loss
           |  FROM lc)
           |SELECT '__intercept' AS feature, cb5.c0 AS beta, lossq.n AS n, lossq.log_loss FROM cb5, lossq
           |UNION ALL SELECT 'x1', cb5.c1, lossq.n, lossq.log_loss FROM cb5, lossq
           |UNION ALL SELECT 'x2', cb5.c2, lossq.n, lossq.log_loss FROM cb5, lossq""".stripMargin)),

    // IPW average treatment effect: LR propensity (treatment = src0)
    // -> clipped Hajek weighting of n_chars — the composed
    // observational-causal shape (propensity model feeds the estimator)
    QueryDef("q_ipw",
      (s, dir) => {
        val d = logitDocs(s, dir).withColumn("treat", col("source") === "src0")
        val fit = Logistic.fitGd(d, "treat", Seq("x1", "x2"), iters = 5, lr = 0.5)
        Logistic.ipwAte(Logistic.score(d, fit, Seq("x1", "x2"), "p_hat"),
          "n_chars", "treat", "p_hat", clip = 0.05)
      },
      Some(s"""WITH ${logitCtes("source = 'src0'", 5)},
           |cl AS (SELECT n_chars, y = 1 AS t,
           |    ${r6("least(greatest(p, CAST(0.05 AS DOUBLE)), CAST(0.95 AS DOUBLE))")} AS pcl FROM p5),
           |wts AS (SELECT CAST(n_chars AS DOUBLE) AS yo, t,
           |    CASE WHEN t THEN ${r6("1.0 / pcl")} END AS wt,
           |    CASE WHEN NOT t THEN ${r6("1.0 / (1.0 - pcl)")} END AS wc FROM cl),
           |ag AS (SELECT count(CASE WHEN t THEN 1 END) AS n_treated,
           |    count(CASE WHEN NOT t THEN 1 END) AS n_control,
           |    ${dsum(r6("wt * yo"))} / ${dsum("wt")} AS mt,
           |    ${dsum(r6("wc * yo"))} / ${dsum("wc")} AS mc FROM wts)
           |SELECT n_treated, n_control, ${r6("mt")} AS mean_treated,
           |  ${r6("mc")} AS mean_control, ${r6("mt - mc")} AS ate FROM ag""".stripMargin)),

    // Mondrian split-conformal calibration of the per-source n_chars
    // predictor: finite-sample +/- bands per group, coverage audited
    // on the held-out test band
    QueryDef("q_conformal",
      (s, dir) =>
        Conformal.splitConformal(docs(s, dir), "doc_id", "source", "n_chars",
          alpha = 0.2, seed = "c42"),
      Some(s"""WITH rws AS (SELECT doc_id AS id, source AS grp, CAST(n_chars AS DOUBLE) AS y,
           |    CASE WHEN h < 50 THEN 'train' WHEN h < 75 THEN 'cal' ELSE 'test' END AS split
           |  FROM (SELECT *, ${h32("concat('c42', '|', CAST(doc_id AS VARCHAR))")} % 100 AS h FROM documents)),
           |tm AS (SELECT grp, count(*) AS n_train,
           |    ${r6(s"${dsum("y")} / CAST(count(*) AS DOUBLE)")} AS y_hat
           |  FROM rws WHERE split = 'train' GROUP BY 1),
           |sc AS (SELECT r.id, r.grp, r.split, r.y, t.y_hat, ${r6("abs(r.y - t.y_hat)")} AS s
           |  FROM rws r JOIN tm t ON r.grp = t.grp WHERE r.split <> 'train'),
           |cal AS (SELECT *, row_number() OVER (PARTITION BY grp ORDER BY s, id) AS rn,
           |    count(*) OVER (PARTITION BY grp) AS ncal FROM sc WHERE split = 'cal'),
           |qh AS (SELECT grp, max(ncal) AS n_cal,
           |    max(CASE WHEN rn = CAST(ceil(CAST(ncal + 1 AS DOUBLE) * CAST(0.8 AS DOUBLE)) AS BIGINT)
           |      THEN s END) AS q_hat FROM cal GROUP BY 1),
           |tst AS (SELECT s.grp, count(*) AS n_test,
           |    CASE WHEN max(q.q_hat) IS NOT NULL THEN
           |      ${r6("CAST(count(CASE WHEN s.s <= q.q_hat THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
           |    END AS coverage
           |  FROM sc s JOIN qh q ON s.grp = q.grp WHERE s.split = 'test' GROUP BY 1)
           |SELECT t.grp AS "group", t.n_train, coalesce(q.n_cal, 0) AS n_cal,
           |  coalesce(ts.n_test, 0) AS n_test, t.y_hat, q.q_hat, ts.coverage,
           |  CAST(0.8 AS DOUBLE) AS target
           |FROM tm t LEFT JOIN qh q ON t.grp = q.grp LEFT JOIN tst ts ON t.grp = ts.grp""".stripMargin)),

    // decision-stump 1R screen: best Gini split per logitDocs feature
    QueryDef("q_stump",
      (s, dir) =>
        Stump.bestSplits(logitDocs(s, dir), col("y"),
          Seq("x1" -> col("x1"), "x2" -> col("x2")), bins = 16),
      Some {
        def gini(p: String, n: String) =
          s"(1.0 - (CAST($p AS DOUBLE) / CAST($n AS DOUBLE)) * (CAST($p AS DOUBLE) / CAST($n AS DOUBLE)) - (1.0 - CAST($p AS DOUBLE) / CAST($n AS DOUBLE)) * (1.0 - CAST($p AS DOUBLE) / CAST($n AS DOUBLE)))"
        s"""WITH ${logitDocsCtes("n_chars >= 300")},
           |m AS (SELECT y, 'x1' AS f, x1 AS x FROM ld WHERE x1 IS NOT NULL
           |  UNION ALL SELECT y, 'x2', x2 FROM ld WHERE x2 IS NOT NULL),
           |bd AS (SELECT f, min(x) AS lo, max(x) AS hi, count(*) AS n, sum(y) AS npos
           |  FROM m GROUP BY 1 HAVING max(x) > min(x)),
           |bw AS (SELECT *, (hi - lo) / 16.0 AS w FROM bd),
           |cl AS (SELECT m.f, least(CAST(floor((m.x - b.lo) / b.w) AS INT), 15) AS bin,
           |    count(*) AS cn, sum(m.y) AS cpos FROM m JOIN bw b USING (f) GROUP BY 1, 2),
           |cum AS (SELECT f, bin,
           |    sum(cn) OVER (PARTITION BY f ORDER BY bin) AS nl,
           |    sum(cpos) OVER (PARTITION BY f ORDER BY bin) AS posl FROM cl),
           |sp AS (SELECT c.f, b.lo + b.w * CAST(c.bin + 1 AS DOUBLE) AS threshold,
           |    c.nl, b.n - c.nl AS nr,
           |    ${gini("b.npos", "b.n")} AS gp,
           |    (CAST(c.nl AS DOUBLE) * ${gini("c.posl", "c.nl")} +
           |     CAST(b.n - c.nl AS DOUBLE) * ${gini("b.npos - c.posl", "b.n - c.nl")}) / CAST(b.n AS DOUBLE) AS gs
           |  FROM cum c JOIN bw b USING (f) WHERE c.nl > 0 AND c.nl < b.n),
           |g AS (SELECT *, ${r6("gp - gs")} AS gain FROM sp),
           |best AS (SELECT *, row_number() OVER (PARTITION BY f ORDER BY gain DESC, threshold) AS rnk FROM g)
           |SELECT f AS feature, ${r6("threshold")} AS threshold,
           |  CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right,
           |  ${r6("gp")} AS gini_parent, ${r6("gs")} AS gini_split, gain
           |FROM best WHERE rnk = 1""".stripMargin
      }),

    // Bradley-Terry preference strengths over head-to-head doc-length
    // comparisons between sources (consecutive-doc tournament)
    QueryDef("q_bradley_terry",
      (s, dir) => {
        val d = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"))
        val p = d.as("a")
          .join(d.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
          .filter(col("a.doc_id") % 2 === 0 && col("a.n_chars") =!= col("b.n_chars"))
          .select(
            when(col("a.n_chars") > col("b.n_chars"), col("a.source"))
              .otherwise(col("b.source")).as("winner"),
            when(col("a.n_chars") > col("b.n_chars"), col("b.source"))
              .otherwise(col("a.source")).as("loser"))
        BradleyTerry.fit(p, "winner", "loser", iters = 3)
      },
      Some {
        def step(k: Int): String =
          s"""d$k AS (SELECT g.a AS item,
             |    ${dsum(r6("CAST(g.g AS DOUBLE) / (ta.theta + tb.theta)"))} AS den
             |  FROM gm g JOIN t$k ta ON g.a = ta.item JOIN t$k tb ON g.b = tb.item GROUP BY 1),
             |r$k AS (SELECT itw.item,
             |    CASE WHEN d.den > 0 THEN CAST(itw.n_wins AS DOUBLE) / d.den ELSE 0.0 END AS raw
             |  FROM itw JOIN d$k d USING (item)),
             |s$k AS (SELECT CAST(count(*) AS DOUBLE) / ${dsum(r6("raw"))} AS kk FROM r$k),
             |t${k + 1} AS (SELECT item, ${r6("raw * s.kk")} AS theta FROM r$k, s$k s)""".stripMargin
        s"""WITH p0 AS (SELECT
           |    CASE WHEN a.n_chars > b.n_chars THEN a.source ELSE b.source END AS w,
           |    CASE WHEN a.n_chars > b.n_chars THEN b.source ELSE a.source END AS l
           |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
           |  WHERE a.doc_id % 2 = 0 AND a.n_chars <> b.n_chars),
           |wc AS (SELECT w, l, count(*) AS n FROM p0 WHERE w <> l GROUP BY 1, 2),
           |gm AS (SELECT a, b, CAST(sum(n) AS BIGINT) AS g FROM (
           |    SELECT w AS a, l AS b, n FROM wc UNION ALL SELECT l AS a, w AS b, n FROM wc)
           |  GROUP BY 1, 2),
           |it AS (SELECT a AS item, CAST(sum(g) AS BIGINT) AS n_games FROM gm GROUP BY 1),
           |wi AS (SELECT w AS item, CAST(sum(n) AS BIGINT) AS n_wins FROM wc GROUP BY 1),
           |itw AS (SELECT it.item, coalesce(wi.n_wins, 0) AS n_wins, it.n_games
           |  FROM it LEFT JOIN wi USING (item)),
           |t0 AS (SELECT item, CAST(1.0 AS DOUBLE) AS theta FROM itw),
           |${(0 until 3).map(step).mkString(",\n")}
           |SELECT itw.item, itw.n_wins, itw.n_games, t3.theta
           |FROM itw JOIN t3 ON itw.item = t3.item""".stripMargin
      }),

    // Murphy decomposition of the Brier score on the q_calibration
    // score/label pair: miscalibrated vs uninformative, separated
    QueryDef("q_brier",
      (s, dir) =>
        Evaluation.brierDecomposition(
          docs(s, dir).withColumn("score",
            least(lit(1.0), col("n_chars").cast("double") / 1000.0)),
          Seq("lang"), "score", col("text").contains(" the "), nBins = 10),
      Some(s"""WITH v AS (SELECT lang, least(1.0, CAST(n_chars AS DOUBLE) / 1000.0) AS x,
           |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS y FROM documents),
           |g AS (SELECT lang, least(9, greatest(0, CAST(floor(x * 10) AS BIGINT))) AS bin,
           |    count(*) AS n, ${dsum(r6("x"))} AS sx, CAST(sum(y) AS BIGINT) AS k,
           |    ${dsum(r6("(x - CAST(y AS DOUBLE)) * (x - CAST(y AS DOUBLE))"))} AS sq
           |  FROM v GROUP BY 1, 2),
           |w AS (SELECT lang, n, sx, k, sq,
           |    sx / CAST(n AS DOUBLE) AS pbar, CAST(k AS DOUBLE) / CAST(n AS DOUBLE) AS ybar,
           |    CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE) AS nd,
           |    CAST(sum(k) OVER (PARTITION BY lang) AS DOUBLE) /
           |      CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE) AS yg,
           |    CAST(sum(CAST(sq AS DECIMAL(38,6))) OVER (PARTITION BY lang) AS DOUBLE) AS sqs
           |  FROM g),
           |z AS (SELECT lang, CAST(nd AS BIGINT) AS n,
           |    sqs / nd AS brier,
           |    CAST(sum(CAST(${r6("CAST(n AS DOUBLE) * (pbar - ybar) * (pbar - ybar)")} AS DECIMAL(38,6)))
           |      OVER (PARTITION BY lang) AS DOUBLE) / nd AS rel,
           |    CAST(sum(CAST(${r6("CAST(n AS DOUBLE) * (ybar - yg) * (ybar - yg)")} AS DECIMAL(38,6)))
           |      OVER (PARTITION BY lang) AS DOUBLE) / nd AS res,
           |    yg FROM w)
           |SELECT DISTINCT lang, n, ${r6("brier")} AS brier, ${r6("rel")} AS reliability,
           |  ${r6("res")} AS resolution, ${r6("yg * (1.0 - yg)")} AS uncertainty FROM z""".stripMargin)),

    // doubly-robust AIPW ATE: LR propensity + per-arm OLS outcome
    // models, composed in one plan (the q_ipw setting, upgraded)
    QueryDef("q_aipw",
      (s, dir) => {
        val d = logitDocs(s, dir).withColumn("treat", col("source") === "src0")
        val fit = Logistic.fitGd(d, "treat", Seq("x1", "x2"), iters = 5, lr = 0.5)
        Logistic.aipwAte(Logistic.score(d, fit, Seq("x1", "x2"), "p_hat"),
          "n_chars", "treat", "p_hat", "x1", clip = 0.05)
      },
      Some {
        def arm(cond: String, tag: String): String =
          s"""count(CASE WHEN $cond THEN 1 END) AS n$tag,
             |    coalesce(${dsum(s"CASE WHEN $cond THEN ${r6("x1")} END")}, 0.0) AS sx$tag,
             |    coalesce(${dsum(s"CASE WHEN $cond THEN ${r6("yo")} END")}, 0.0) AS sy$tag,
             |    coalesce(${dsum(s"CASE WHEN $cond THEN ${r6("x1 * yo")} END")}, 0.0) AS sxy$tag,
             |    coalesce(${dsum(s"CASE WHEN $cond THEN ${r6("x1 * x1")} END")}, 0.0) AS sxx$tag""".stripMargin
        def ab(tag: String): String =
          s"""CASE WHEN CAST(n$tag AS DOUBLE) > 1 AND CAST(n$tag AS DOUBLE) * sxx$tag - sx$tag * sx$tag > 0
             |      THEN ${r6(s"(CAST(n$tag AS DOUBLE) * sxy$tag - sx$tag * sy$tag) / (CAST(n$tag AS DOUBLE) * sxx$tag - sx$tag * sx$tag)")}
             |      ELSE 0.0 END AS b$tag""".stripMargin
        s"""WITH ${logitCtes("source = 'src0'", 5)},
           |cl AS (SELECT CAST(n_chars AS DOUBLE) AS yo, x1, y = 1 AS t,
           |    ${r6("least(greatest(p, CAST(0.05 AS DOUBLE)), CAST(0.95 AS DOUBLE))")} AS pcl FROM p5),
           |ms AS (SELECT ${arm("t", "1")},
           |    ${arm("NOT t", "0")} FROM cl),
           |mb AS (SELECT *, ${ab("1")}, ${ab("0")} FROM ms),
           |ma AS (SELECT *,
           |    CASE WHEN n1 > 0 THEN ${r6("(sy1 - b1 * sx1) / CAST(n1 AS DOUBLE)")} ELSE 0.0 END AS a1,
           |    CASE WHEN n0 > 0 THEN ${r6("(sy0 - b0 * sx0) / CAST(n0 AS DOUBLE)")} ELSE 0.0 END AS a0
           |  FROM mb),
           |co AS (SELECT cl.t,
           |    ${r6("(ma.a1 + ma.b1 * cl.x1) - (ma.a0 + ma.b0 * cl.x1) + CASE WHEN cl.t THEN (cl.yo - (ma.a1 + ma.b1 * cl.x1)) / cl.pcl ELSE 0.0 END - CASE WHEN NOT cl.t THEN (cl.yo - (ma.a0 + ma.b0 * cl.x1)) / (1.0 - cl.pcl) ELSE 0.0 END")} AS contrib
           |  FROM cl, ma)
           |SELECT (SELECT n1 FROM ma) AS n_treated, (SELECT n0 FROM ma) AS n_control,
           |  ${r6(s"coalesce(${dsum("contrib")}, 0.0) / CAST(count(*) AS DOUBLE)")} AS ate
           |FROM co""".stripMargin
      }),

    // Markov removal-effect attribution over user journeys: which
    // channel's knockout loses the most conversions
    QueryDef("q_markov_attr",
      (s, dir) =>
        Attribution.markovRemoval(ev(s, dir), "user_id", "ts", "event_type",
          "event_id", "purchase", iters = 12),
      Some {
        // channels fixed by the testdata event-type domain (sorted, as
        // markovRemoval derives them); K matches iters = 12
        val channels = Seq("click", "error", "signup", "view")
        val K = 12
        def chain(tag: String, removed: Option[String]): String = {
          val excl = removed.map(c => s" AND pr.t <> '$c'").getOrElse("")
          val steps = (1 to K).map { k =>
            s"""ab$tag$k AS MATERIALIZED (SELECT coalesce(${dsum(r6("v.p * pr.p"))}, 0.0) AS a
               |  FROM v$tag${k - 1} v JOIN pr ON v.s = pr.f WHERE pr.t = '__CONV__'),
               |v$tag$k AS MATERIALIZED (SELECT pr.t AS s, ${dsum(r6("v.p * pr.p"))} AS p
               |  FROM v$tag${k - 1} v JOIN pr ON v.s = pr.f
               |  WHERE pr.t <> '__CONV__' AND pr.t <> '__NULL__'$excl GROUP BY 1)""".stripMargin
          }
          val total = (1 to K).map(k => s"CAST((SELECT a FROM ab$tag$k) AS DECIMAL(38,6))")
            .mkString(" + ")
          (s"v${tag}0 AS (SELECT '__START__' AS s, CAST(1.0 AS DOUBLE) AS p)" +:
            steps :+ s"pc$tag AS (SELECT ${r6(s"CAST($total AS DOUBLE)")} AS p)").mkString(",\n")
        }
        val chains = chain("f", None) +: channels.zipWithIndex.map { case (c, i) =>
          chain(s"r$i", Some(c))
        }
        val finals = channels.zipWithIndex.map { case (c, i) =>
          s"""SELECT '$c' AS channel,
             |  (SELECT CAST(sum(n) AS BIGINT) FROM cnt WHERE f = '$c' OR t = '$c') AS n_transitions,
             |  (SELECT p FROM pcf) AS p_full, (SELECT p FROM pcr$i) AS p_removed,
             |  CASE WHEN (SELECT p FROM pcf) > 0
             |    THEN ${r6(s"1.0 - (SELECT p FROM pcr$i) / (SELECT p FROM pcf)")} END AS removal_effect""".stripMargin
        }.mkString("\nUNION ALL ")
        s"""WITH rws AS (SELECT user_id AS u,
           |    CASE WHEN event_type = 'purchase' THEN '__CONV__' ELSE event_type END AS st,
           |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           |  FROM events WHERE ts IS NOT NULL),
           |kp AS (SELECT *, min(CASE WHEN st = '__CONV__' THEN rn END)
           |    OVER (PARTITION BY u) AS cp FROM rws),
           |kept AS (SELECT * FROM kp WHERE cp IS NULL OR rn <= cp),
           |inr AS (SELECT coalesce(lag(st) OVER (PARTITION BY u ORDER BY rn), '__START__') AS f,
           |    st AS t FROM kept),
           |lst AS (SELECT st AS f, '__NULL__' AS t FROM (
           |    SELECT *, max(rn) OVER (PARTITION BY u) AS mx FROM kept)
           |  WHERE rn = mx AND cp IS NULL),
           |cnt AS MATERIALIZED (SELECT f, t, count(*) AS n FROM (
           |    SELECT * FROM inr UNION ALL SELECT * FROM lst) GROUP BY 1, 2),
           |pr AS MATERIALIZED (SELECT f, t, ${r6("CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY f) AS DOUBLE)")} AS p
           |  FROM cnt),
           |${chains.mkString(",\n")}
           |$finals""".stripMargin
      }),

    // restricted mean survival time: days-to-purchase area under the
    // KM curve within a 20-day horizon
    QueryDef("q_rmst",
      (s, dir) =>
        Survival.restrictedMeanSurvival(ev(s, dir), "user_id", "ts", "event_type",
          "purchase", horizonDays = 20L),
      Some(s"""WITH sp AS (SELECT user_id, min(epoch_us(ts)) AS t0,
           |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS te,
           |    max(epoch_us(ts)) AS tl
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
           |dur AS (SELECT CAST(floor(CAST(coalesce(te, tl) - t0 AS DOUBLE) / 86400000000.0) AS BIGINT) AS t_day,
           |    te IS NOT NULL AS obs FROM sp),
           |cv AS (SELECT t_day, count(CASE WHEN obs THEN 1 END) AS d_events,
           |    count(CASE WHEN NOT obs THEN 1 END) AS c_censored FROM dur GROUP BY 1),
           |tot AS (SELECT sum(d_events + c_censored) AS total FROM cv),
           |r AS (SELECT t_day, d_events, c_censored,
           |    total - coalesce(sum(d_events + c_censored) OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
           |  FROM cv, tot),
           |h AS (SELECT t_day, d_events, c_censored, n_risk,
           |    CASE WHEN d_events > 0 AND d_events < n_risk THEN
           |      ${r6("ln(1 - CAST(d_events AS DOUBLE) / CAST(n_risk AS DOUBLE))")}
           |    ELSE 0.0 END AS term FROM r),
           |km AS (SELECT t_day, d_events, c_censored,
           |    CASE WHEN d_events = n_risk THEN NULL ELSE
           |      CAST(sum(CAST(term AS DECIMAL(38,6))) OVER (ORDER BY t_day) AS DOUBLE)
           |    END AS log_s FROM h),
           |st AS (SELECT t_day, d_events, c_censored,
           |    CASE WHEN log_s IS NULL THEN 0.0 ELSE ${r6("exp(log_s)")} END AS s FROM km),
           |lg AS (SELECT *, coalesce(lag(s) OVER (ORDER BY t_day), 1.0) AS prevs,
           |    coalesce(lag(t_day) OVER (ORDER BY t_day), 0) AS prevt,
           |    max(t_day) OVER () AS mxt FROM st),
           |wd AS (SELECT *, greatest(0.0, least(CAST(t_day AS DOUBLE), 20.0) - least(CAST(prevt AS DOUBLE), 20.0)) AS w FROM lg)
           |SELECT CAST(20 AS BIGINT) AS horizon_days,
           |  ${r6(s"coalesce(${dsum(r6("prevs * w"))}, 0.0) + coalesce(${dsum(s"CASE WHEN t_day = mxt THEN ${r6("s * greatest(0.0, 20.0 - least(CAST(t_day AS DOUBLE), 20.0))")} END")}, 0.0)")} AS rmst,
           |  CAST(coalesce(sum(d_events + c_censored), 0) AS BIGINT) AS n,
           |  CAST(coalesce(sum(d_events), 0) AS BIGINT) AS n_events
           |FROM wd""".stripMargin)),

    // Hosmer-Lemeshow-style calibration chi-square on the
    // q_calibration score/label pair (fixed-width-bin variant)
    QueryDef("q_hosmer",
      (s, dir) =>
        Evaluation.hosmerLemeshow(
          docs(s, dir).withColumn("score",
            least(lit(1.0), col("n_chars").cast("double") / 1000.0)),
          Seq("lang"), "score", col("text").contains(" the "), nBins = 10),
      Some {
        val pz = "least(1.0, 2.0 * exp(-az * az / 2.0) / " +
          s"${math.sqrt(2.0 * math.Pi)} * " +
          "(0.4361836 * tt - 0.1201676 * tt * tt + 0.9372980 * tt * tt * tt))"
        s"""WITH v AS (SELECT lang, least(1.0, CAST(n_chars AS DOUBLE) / 1000.0) AS x,
           |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS y FROM documents),
           |g AS (SELECT lang, least(9, greatest(0, CAST(floor(x * 10) AS BIGINT))) AS bin,
           |    count(*) AS cn, ${dsum(r6("x"))} AS e, CAST(sum(y) AS BIGINT) AS o
           |  FROM v GROUP BY 1, 2),
           |t AS (SELECT lang, cn, e, o, e > 0 AND e < CAST(cn AS DOUBLE) AS testable,
           |    CASE WHEN e > 0 AND e < CAST(cn AS DOUBLE) THEN
           |      ${r6("(CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / (e * (1.0 - e / CAST(cn AS DOUBLE)))")}
           |    END AS term FROM g),
           |a AS (SELECT lang, CAST(sum(cn) AS BIGINT) AS n,
           |    count(CASE WHEN testable THEN 1 END) AS b_tested,
           |    count(CASE WHEN NOT testable THEN 1 END) AS b_skipped,
           |    coalesce(${dsum("term")}, 0.0) AS chi2raw FROM t GROUP BY 1),
           |b AS (SELECT *, greatest(0, b_tested - 2) AS df,
           |    CASE WHEN b_tested >= 3 THEN ${r6("chi2raw")} END AS chi2 FROM a),
           |c AS (SELECT *, sqrt(2.0 * chi2) - sqrt(2.0 * CAST(df AS DOUBLE) - 1.0) AS z FROM b),
           |d AS (SELECT *, abs(z) AS az, 1.0 / (1.0 + 0.33267 * abs(z)) AS tt FROM c)
           |SELECT lang, n, b_tested, b_skipped, chi2, df,
           |  CASE WHEN chi2 IS NOT NULL AND df >= 1 THEN
           |    CASE WHEN z >= 0 THEN ${r6(s"$pz / 2.0")} ELSE ${r6(s"1.0 - $pz / 2.0")} END
           |  END AS p_value
           |FROM d""".stripMargin
      }),

    // IPW weight diagnostics (Kish ESS + max-weight share) on the
    // q_ipw propensity weights — trust-the-estimate gate
    QueryDef("q_ess",
      (s, dir) => {
        val d = logitDocs(s, dir).withColumn("treat", col("source") === "src0")
        val fit = Logistic.fitGd(d, "treat", Seq("x1", "x2"), iters = 5, lr = 0.5)
        Logistic.weightDiagnostics(
          Logistic.score(d, fit, Seq("x1", "x2"), "p_hat"), "treat", "p_hat", clip = 0.05)
      },
      Some(s"""WITH ${logitCtes("source = 'src0'", 5)},
           |cl AS (SELECT y = 1 AS t,
           |    ${r6("least(greatest(p, CAST(0.05 AS DOUBLE)), CAST(0.95 AS DOUBLE))")} AS pcl FROM p5),
           |ws AS (SELECT CASE WHEN t THEN 'treated' ELSE 'control' END AS arm,
           |    CASE WHEN t THEN ${r6("1.0 / pcl")} ELSE ${r6("1.0 / (1.0 - pcl)")} END AS w FROM cl),
           |ag AS (SELECT arm, count(*) AS n, ${dsum("w")} AS sw,
           |    ${dsum(r6("w * w"))} AS sw2, max(w) AS mw FROM ws GROUP BY 1)
           |SELECT arm, n,
           |  CASE WHEN sw2 > 0 THEN ${r6("sw * sw / sw2")} END AS ess,
           |  CASE WHEN sw2 > 0 THEN ${r6("sw * sw / sw2 / CAST(n AS DOUBLE)")} END AS ess_ratio,
           |  CASE WHEN sw > 0 THEN ${r6("mw / sw")} END AS max_w_share
           |FROM ag""".stripMargin)),

    // placebo refutation: rerun the whole q_ipw pipeline on an md5
    // coin-flip pseudo-treatment — a real design should land near 0
    QueryDef("q_placebo",
      (s, dir) => {
        val d = logitDocs(s, dir).withColumn("treat",
          TextFunctions.md5Hash32(concat(lit("pb:"), col("doc_id").cast("string"))) % 2 === 1)
        val fit = Logistic.fitGd(d, "treat", Seq("x1", "x2"), iters = 5, lr = 0.5)
        Logistic.ipwAte(Logistic.score(d, fit, Seq("x1", "x2"), "p_hat"),
          "n_chars", "treat", "p_hat", clip = 0.05)
      },
      Some {
        val placebo = s"${h32("concat('pb:', CAST(doc_id AS VARCHAR))")} % 2 = 1"
        s"""WITH ${logitCtes(placebo, 5)},
           |cl AS (SELECT n_chars, y = 1 AS t,
           |    ${r6("least(greatest(p, CAST(0.05 AS DOUBLE)), CAST(0.95 AS DOUBLE))")} AS pcl FROM p5),
           |wts AS (SELECT CAST(n_chars AS DOUBLE) AS yo, t,
           |    CASE WHEN t THEN ${r6("1.0 / pcl")} END AS wt,
           |    CASE WHEN NOT t THEN ${r6("1.0 / (1.0 - pcl)")} END AS wc FROM cl),
           |ag AS (SELECT count(CASE WHEN t THEN 1 END) AS n_treated,
           |    count(CASE WHEN NOT t THEN 1 END) AS n_control,
           |    ${dsum(r6("wt * yo"))} / ${dsum("wt")} AS mt,
           |    ${dsum(r6("wc * yo"))} / ${dsum("wc")} AS mc FROM wts)
           |SELECT n_treated, n_control, ${r6("mt")} AS mean_treated,
           |  ${r6("mc")} AS mean_control, ${r6("mt - mc")} AS ate FROM ag""".stripMargin
      }),

    // Aalen-Johansen competing risks: purchase vs error as competing
    // terminal events per user, day-granularity CIFs
    QueryDef("q_cif",
      (s, dir) =>
        Survival.competingRisks(ev(s, dir), "user_id", "ts", "event_type",
          "purchase", "error"),
      Some(s"""WITH sp AS (SELECT user_id, min(epoch_us(ts)) AS t0,
           |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t1,
           |    min(CASE WHEN event_type = 'error' THEN epoch_us(ts) END) AS t2,
           |    max(epoch_us(ts)) AS tl
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
           |dur AS (SELECT
           |    CAST(floor(CAST(coalesce(
           |      CASE WHEN t1 IS NOT NULL AND (t2 IS NULL OR t1 <= t2) THEN t1 ELSE t2 END,
           |      tl) - t0 AS DOUBLE) / 86400000000.0) AS BIGINT) AS t_day,
           |    CASE WHEN t1 IS NOT NULL AND (t2 IS NULL OR t1 <= t2) THEN 1
           |      WHEN t2 IS NOT NULL THEN 2 END AS cause
           |  FROM sp),
           |cv AS (SELECT t_day,
           |    count(CASE WHEN cause = 1 THEN 1 END) AS d_cause1,
           |    count(CASE WHEN cause = 2 THEN 1 END) AS d_cause2,
           |    count(CASE WHEN cause IS NULL THEN 1 END) AS c_censored
           |  FROM dur GROUP BY 1),
           |tot AS (SELECT sum(d_cause1 + d_cause2 + c_censored) AS total FROM cv),
           |r AS (SELECT t_day, d_cause1, d_cause2, c_censored,
           |    CAST(total - coalesce(sum(d_cause1 + d_cause2 + c_censored)
           |      OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
           |  FROM cv, tot),
           |h AS (SELECT *, CAST(d_cause1 + d_cause2 AS DOUBLE) AS dall,
           |    CASE WHEN d_cause1 + d_cause2 > 0 AND CAST(d_cause1 + d_cause2 AS DOUBLE) < CAST(n_risk AS DOUBLE)
           |      THEN ${r6("ln(1.0 - CAST(d_cause1 + d_cause2 AS DOUBLE) / CAST(n_risk AS DOUBLE))")}
           |      ELSE 0.0 END AS term FROM r),
           |s AS (SELECT *,
           |    CASE WHEN coalesce(sum(CASE WHEN dall = CAST(n_risk AS DOUBLE) THEN 1 END)
           |        OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) > 0
           |      THEN 0.0
           |      ELSE ${r6("exp(CAST(coalesce(sum(CAST(term AS DECIMAL(38,6))) OVER (ORDER BY t_day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS DOUBLE))")}
           |    END AS sprev FROM h)
           |SELECT t_day, n_risk, d_cause1, d_cause2, c_censored,
           |  ${r6("CAST(sum(CAST(" + r6("sprev * CAST(d_cause1 AS DOUBLE) / CAST(n_risk AS DOUBLE)") + " AS DECIMAL(38,6))) OVER (ORDER BY t_day) AS DOUBLE)")} AS cif1,
           |  ${r6("CAST(sum(CAST(" + r6("sprev * CAST(d_cause2 AS DOUBLE) / CAST(n_risk AS DOUBLE)") + " AS DECIMAL(38,6))) OVER (ORDER BY t_day) AS DOUBLE)")} AS cif2
           |FROM s""".stripMargin)),

    // VanderWeele E-value: how much unmeasured confounding the observed
    // arm risk ratio could absorb before vanishing
    QueryDef("q_evalue",
      (s, dir) => {
        val arm = TextFunctions.md5Hash32(
          concat(lit("cmh:"), col("user_id").cast("string"))) % 2 === 1
        Hypothesis.eValue(ev(s, dir), col("value") >= 10.0, arm)
      },
      Some(s"""WITH e AS (SELECT ${h32("concat('cmh:', CAST(user_id AS VARCHAR))")} % 2 = 1 AS a,
           |    value >= 10.0 AS hit FROM events),
           |g AS (SELECT count(CASE WHEN a THEN 1 END) AS n_a,
           |    count(CASE WHEN NOT a THEN 1 END) AS n_b,
           |    count(CASE WHEN a AND hit THEN 1 END) AS ka,
           |    count(CASE WHEN NOT a AND hit THEN 1 END) AS kb FROM e),
           |p AS (SELECT *, CAST(ka AS DOUBLE) / CAST(n_a AS DOUBLE) AS pa,
           |    CAST(kb AS DOUBLE) / CAST(n_b AS DOUBLE) AS pb FROM g),
           |rr AS (SELECT *, CASE WHEN n_a > 0 AND n_b > 0 AND pb > 0 AND pa > 0 THEN pa / pb END AS r FROM p),
           |aw AS (SELECT *, CASE WHEN r >= 1 THEN r ELSE 1.0 / r END AS away FROM rr)
           |SELECT n_a, n_b,
           |  CASE WHEN n_a > 0 THEN ${r6("pa")} END AS p_a,
           |  CASE WHEN n_b > 0 THEN ${r6("pb")} END AS p_b,
           |  ${r6("r")} AS rr,
           |  CASE WHEN r IS NOT NULL THEN ${r6("away + sqrt(away * (away - 1.0))")} END AS e_value
           |FROM aw""".stripMargin)),

    // two-arm RMST contrast at a 20-day horizon (the PH-free effect
    // report; arm-partitioned KM curves, no global window)
    QueryDef("q_rmst_diff",
      (s, dir) => {
        val arm = TextFunctions.md5Hash32(
          concat(lit("ab:"), col("user_id").cast("string"))) % 2 === 1
        Survival.rmstDiff(ev(s, dir), "user_id", "ts", "event_type", "purchase",
          arm, horizonDays = 20L)
      },
      Some(s"""WITH sp AS (SELECT user_id,
           |    max(CASE WHEN ${h32("concat('ab:', CAST(user_id AS VARCHAR))")} % 2 = 1 THEN 1 ELSE 0 END) AS arm,
           |    min(epoch_us(ts)) AS t0,
           |    min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS te,
           |    max(epoch_us(ts)) AS tl
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
           |dur AS (SELECT arm,
           |    CAST(floor(CAST(coalesce(te, tl) - t0 AS DOUBLE) / 86400000000.0) AS BIGINT) AS t_day,
           |    te IS NOT NULL AS obs FROM sp),
           |cv AS (SELECT arm, t_day, count(CASE WHEN obs THEN 1 END) AS d,
           |    count(CASE WHEN NOT obs THEN 1 END) AS c FROM dur GROUP BY 1, 2),
           |r AS (SELECT *, sum(d + c) OVER (PARTITION BY arm) -
           |    coalesce(sum(d + c) OVER (PARTITION BY arm ORDER BY t_day
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nrisk FROM cv),
           |h AS (SELECT *, CASE WHEN d > 0 AND d < nrisk THEN
           |      ${r6("ln(1.0 - CAST(d AS DOUBLE) / CAST(nrisk AS DOUBLE))")}
           |    ELSE 0.0 END AS term FROM r),
           |z AS (SELECT *, coalesce(sum(CASE WHEN d = nrisk THEN 1 END)
           |      OVER (PARTITION BY arm ORDER BY t_day), 0) AS zeroed FROM h),
           |s AS (SELECT *, CASE WHEN zeroed > 0 THEN 0.0 ELSE
           |      ${r6("exp(CAST(sum(CAST(term AS DECIMAL(38,6))) OVER (PARTITION BY arm ORDER BY t_day) AS DOUBLE))")}
           |    END AS sv FROM z),
           |lg AS (SELECT *, coalesce(lag(sv) OVER (PARTITION BY arm ORDER BY t_day), 1.0) AS prevs,
           |    coalesce(lag(t_day) OVER (PARTITION BY arm ORDER BY t_day), 0) AS prevt,
           |    max(t_day) OVER (PARTITION BY arm) AS mxt FROM s),
           |wd AS (SELECT *, greatest(0.0, least(CAST(t_day AS DOUBLE), 20.0) -
           |    least(CAST(prevt AS DOUBLE), 20.0)) AS w FROM lg),
           |ag AS (SELECT
           |    CAST(coalesce(sum(CASE WHEN arm = 1 THEN d + c END), 0) AS BIGINT) AS n_a,
           |    CAST(coalesce(sum(CASE WHEN arm = 0 THEN d + c END), 0) AS BIGINT) AS n_b,
           |    ${r6(s"coalesce(${dsum(s"CASE WHEN arm = 1 THEN ${r6("prevs * w")} END")}, 0.0) + coalesce(${dsum(s"CASE WHEN t_day = mxt AND arm = 1 THEN ${r6("sv * greatest(0.0, 20.0 - least(CAST(t_day AS DOUBLE), 20.0))")} END")}, 0.0)")} AS ra,
           |    ${r6(s"coalesce(${dsum(s"CASE WHEN arm = 0 THEN ${r6("prevs * w")} END")}, 0.0) + coalesce(${dsum(s"CASE WHEN t_day = mxt AND arm = 0 THEN ${r6("sv * greatest(0.0, 20.0 - least(CAST(t_day AS DOUBLE), 20.0))")} END")}, 0.0)")} AS rb
           |  FROM wd)
           |SELECT CAST(20 AS BIGINT) AS horizon_days, n_a, n_b,
           |  CASE WHEN n_a > 0 THEN ra END AS rmst_a,
           |  CASE WHEN n_b > 0 THEN rb END AS rmst_b,
           |  CASE WHEN n_a > 0 AND n_b > 0 THEN ${r6("ra - rb")} END AS rmst_diff
           |FROM ag""".stripMargin)),

    // heterogeneous effect by propensity bin on the q_ipw setting —
    // the positivity/overlap picture behind the single ATE number
    QueryDef("q_hte",
      (s, dir) => {
        val d = logitDocs(s, dir).withColumn("treat", col("source") === "src0")
        val fit = Logistic.fitGd(d, "treat", Seq("x1", "x2"), iters = 5, lr = 0.5)
        Logistic.hteByPropensityBin(
          Logistic.score(d, fit, Seq("x1", "x2"), "p_hat"),
          "n_chars", "treat", "p_hat", nBins = 10)
      },
      Some(s"""WITH ${logitCtes("source = 'src0'", 5)},
           |cl AS (SELECT CAST(n_chars AS DOUBLE) AS yo, y = 1 AS t,
           |    least(9, greatest(0, CAST(floor(p * 10) AS BIGINT))) AS bin FROM p5
           |  WHERE p IS NOT NULL),
           |g AS (SELECT bin, count(CASE WHEN t THEN 1 END) AS n_treated,
           |    count(CASE WHEN NOT t THEN 1 END) AS n_control,
           |    ${dsum(s"CASE WHEN t THEN ${r6("yo")} END")} AS st,
           |    ${dsum(s"CASE WHEN NOT t THEN ${r6("yo")} END")} AS sc
           |  FROM cl GROUP BY 1)
           |SELECT bin, ${r6("CAST(bin AS DOUBLE) * 0.1")} AS p_lo,
           |  ${r6("CAST(bin + 1 AS DOUBLE) * 0.1")} AS p_hi,
           |  n_treated, n_control,
           |  CASE WHEN n_treated > 0 THEN ${r6("st / CAST(n_treated AS DOUBLE)")} END AS mean_treated,
           |  CASE WHEN n_control > 0 THEN ${r6("sc / CAST(n_control AS DOUBLE)")} END AS mean_control,
           |  CASE WHEN n_treated > 0 AND n_control > 0 THEN
           |    ${r6("st / CAST(n_treated AS DOUBLE) - sc / CAST(n_control AS DOUBLE)")}
           |  END AS diff
           |FROM g""".stripMargin)),

    // language-ID confusion matrix: the per-class eval of #28 against
    // the lang column (which labels leak where)
    QueryDef("q_confusion",
      (s, dir) =>
        Evaluation.confusionMatrix(
          docs(s, dir).select(col("lang"),
            TextFunctions.langId(col("text")).as("lang_pred")),
          "lang", "lang_pred"),
      Some(s"""WITH pred AS ($langIdSelectSql),
           |j AS (SELECT coalesce(CAST(d.lang AS VARCHAR), '(null)') AS true_label,
           |    coalesce(CAST(p.lang_pred AS VARCHAR), '(null)') AS pred_label
           |  FROM documents d JOIN pred p USING (doc_id)),
           |cells AS (SELECT true_label, pred_label, count(*) AS n FROM j GROUP BY 1, 2),
           |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t,
           |    CAST(coalesce(sum(CASE WHEN true_label = pred_label THEN n END), 0) AS BIGINT) AS ok
           |  FROM cells)
           |SELECT true_label, pred_label, n,
           |  ${r6("CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY true_label) AS DOUBLE)")} AS frac_of_true,
           |  ${r6("CAST(tot.ok AS DOUBLE) / CAST(tot.t AS DOUBLE)")} AS accuracy
           |FROM cells, tot""".stripMargin)),

    // cost-optimal quality-filter threshold on the q_calibration
    // score/label pair: keep-good pays 1, keep-bad costs 2
    QueryDef("q_threshold_opt",
      (s, dir) =>
        Evaluation.bestThreshold(
          docs(s, dir).withColumn("score",
            least(lit(1.0), col("n_chars").cast("double") / 1000.0)),
          Seq("lang"), "score", col("text").contains(" the "),
          benefitTp = 1.0, costFp = 2.0, nBins = 20),
      Some(s"""WITH v AS (SELECT lang, least(1.0, CAST(n_chars AS DOUBLE) / 1000.0) AS x,
           |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS y FROM documents),
           |g AS (SELECT lang, least(19, greatest(0, CAST(floor(x * 20) AS BIGINT))) AS bin,
           |    count(*) AS n, CAST(sum(y) AS BIGINT) AS pos FROM v GROUP BY 1, 2),
           |c AS (SELECT lang, bin, n, pos,
           |    CAST(sum(pos) OVER (PARTITION BY lang ORDER BY bin ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS tp,
           |    CAST(sum(n - pos) OVER (PARTITION BY lang ORDER BY bin ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS fp,
           |    CAST(sum(pos) OVER (PARTITION BY lang) AS BIGINT) AS allpos FROM g),
           |u AS (SELECT lang, ${r6("CAST(bin AS DOUBLE) / 20.0")} AS threshold, tp, fp,
           |    allpos - tp AS fn,
           |    ${r6("1.0 * CAST(tp AS DOUBLE) - 2.0 * CAST(fp AS DOUBLE)")} AS utility FROM c),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY lang
           |    ORDER BY utility DESC, threshold DESC) AS rn FROM u)
           |SELECT lang, threshold, tp, fp, CAST(fn AS BIGINT) AS fn, utility
           |FROM rk WHERE rn = 1""".stripMargin)),

    // deterministic propensity matching: rank-paired ATT within the
    // q_hte propensity bins (same GD fit)
    QueryDef("q_matched_att",
      { (s, dir) =>
        val d = logitDocs(s, dir).withColumn("treat", col("source") === "src0")
        val fit = Logistic.fitGd(d, "treat", Seq("x1", "x2"), iters = 5, lr = 0.5)
        Logistic.rankMatchedAtt(
          Logistic.score(d, fit, Seq("x1", "x2"), "p_hat"),
          "doc_id", "n_chars", "treat", "p_hat", nBins = 10)
      },
      Some(s"""WITH ${logitCtes("source = 'src0'", 5)},
           |cl AS (SELECT id, CAST(n_chars AS DOUBLE) AS yo, y = 1 AS t,
           |    least(9, greatest(0, CAST(floor(p * 10) AS BIGINT))) AS bin FROM p5
           |  WHERE p IS NOT NULL AND n_chars IS NOT NULL),
           |rk AS (SELECT *, row_number() OVER (PARTITION BY bin, t ORDER BY id) AS rk FROM cl),
           |arms AS (SELECT bin, CAST(count(CASE WHEN t THEN 1 END) AS BIGINT) AS n_treated,
           |    CAST(count(CASE WHEN NOT t THEN 1 END) AS BIGINT) AS n_control FROM cl GROUP BY 1),
           |pr AS (SELECT tt.bin, CAST(count(*) AS BIGINT) AS np, ${dsum(r6("tt.yo - cc.yo"))} AS sd
           |  FROM rk tt JOIN rk cc ON tt.bin = cc.bin AND tt.rk = cc.rk AND tt.t AND NOT cc.t
           |  GROUP BY 1)
           |SELECT arms.bin, ${r6("CAST(arms.bin AS DOUBLE) * 0.1")} AS p_lo,
           |  ${r6("CAST(arms.bin + 1 AS DOUBLE) * 0.1")} AS p_hi,
           |  n_treated, n_control, coalesce(np, 0) AS n_pairs,
           |  CASE WHEN np > 0 THEN ${r6("sd / CAST(np AS DOUBLE)")} END AS att
           |FROM arms LEFT JOIN pr ON arms.bin = pr.bin""".stripMargin)),

    // exact Shapley attribution over pre-conversion channel sets — the
    // order-free axiomatic twin of q_markov_attr; disagreement between
    // the two IS the finding
    QueryDef("q_shapley_attr",
      (s, dir) =>
        Attribution.shapleyAttribution(ev(s, dir), "user_id", "ts", "event_type",
          "event_id", "purchase"),
      Some {
        val weight = "CAST(factorial(CAST(bit_count(v1.S) AS INTEGER)) AS DOUBLE) " +
          "* CAST(factorial(CAST(k.k - 1 - bit_count(v1.S) AS INTEGER)) AS DOUBLE) " +
          "/ CAST(factorial(CAST(k.k AS INTEGER)) AS DOUBLE)"
        s"""WITH rows AS (SELECT user_id AS u, event_type AS t,
           |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           |  FROM events WHERE ts IS NOT NULL),
           |cp AS (SELECT u, min(CASE WHEN t = 'purchase' THEN rn END) AS cp FROM rows GROUP BY 1),
           |cu AS (SELECT u, cp FROM cp WHERE cp IS NOT NULL),
           |ch AS (SELECT DISTINCT r.u, r.t FROM rows r JOIN cu USING (u) WHERE r.rn < cu.cp),
           |chl AS (SELECT t, row_number() OVER (ORDER BY t) - 1 AS b FROM (SELECT DISTINCT t FROM ch)),
           |k AS (SELECT count(*) AS k FROM chl),
           |um AS (SELECT cu.u, coalesce(m.mask, 0) AS mask FROM cu
           |  LEFT JOIN (SELECT u, CAST(sum(CAST(1 AS BIGINT) << b) AS BIGINT) AS mask
           |             FROM ch JOIN chl USING (t) GROUP BY 1) m USING (u)),
           |sv AS (SELECT mask, count(*) AS conv FROM um GROUP BY 1),
           |ss AS (SELECT unnest(range(0, 1 << k.k)) AS S FROM k),
           |v AS (SELECT ss.S, coalesce(CAST(sum(sv.conv) AS BIGINT), 0) AS v
           |  FROM ss LEFT JOIN sv ON (sv.mask & ss.S) = sv.mask GROUP BY 1),
           |vf AS (SELECT v.v AS v_full FROM v, k WHERE v.S = (1 << k.k) - 1),
           |ve AS (SELECT v AS v_empty FROM v WHERE S = 0),
           |terms AS (SELECT chl.t AS channel,
           |    ${r6(s"($weight) * CAST(v2.v - v1.v AS DOUBLE)")} AS term
           |  FROM chl, k, v v1, v v2
           |  WHERE (v1.S >> chl.b) & 1 = 0 AND v2.S = v1.S | (1 << chl.b)),
           |shap AS (SELECT channel, ${dsum("term")} AS phi FROM terms GROUP BY 1)
           |SELECT channel, ${r6("phi")} AS shapley,
           |  CASE WHEN v_full > 0 THEN ${r6("phi / CAST(v_full AS DOUBLE)")} END AS share,
           |  CAST(v_full AS BIGINT) AS v_full, CAST(v_empty AS BIGINT) AS v_empty
           |FROM shap, vf, ve""".stripMargin
      }),

    // sharp regression discontinuity on the length threshold: does
    // crossing 1000 chars jump the ' the ' rate (it should not — a
    // placebo cutoff; effect ~ 0 is the honest read)
    QueryDef("q_rdd",
      (s, dir) =>
        Discontinuity.sharpRdd(
          docs(s, dir).select(col("n_chars"),
            col("text").contains(" the ").cast("int").as("y")),
          "n_chars", "y", cutoff = 1000.0, bandwidth = 800.0),
      Some {
        def side(cond: String, tag: String) = Seq(
          s"count(CASE WHEN $cond THEN 1 END) AS n_$tag",
          s"${dsum(s"CASE WHEN $cond THEN ${r6("u")} END")} AS su_$tag",
          s"${dsum(s"CASE WHEN $cond THEN ${r6("y")} END")} AS sy_$tag",
          s"${dsum(s"CASE WHEN $cond THEN ${r6("u * y")} END")} AS suy_$tag",
          s"${dsum(s"CASE WHEN $cond THEN ${r6("u * u")} END")} AS suu_$tag"
        ).mkString(",\n    ")
        def fit(tag: String) = {
          val n = s"CAST(n_$tag AS DOUBLE)"
          val (su, sy, suy, suu) =
            (s"coalesce(su_$tag, 0.0)", s"coalesce(sy_$tag, 0.0)",
              s"coalesce(suy_$tag, 0.0)", s"coalesce(suu_$tag, 0.0)")
          val denom = s"$n * $suu - $su * $su"
          val slope = s"($n * $suy - $su * $sy) / ($denom)"
          (s"CASE WHEN n_$tag > 0 THEN ${r6(s"CASE WHEN $denom > 0 THEN ($sy - ($slope) * $su) / $n ELSE $sy / $n END")} END",
            s"CASE WHEN n_$tag > 0 AND $denom > 0 THEN ${r6(slope)} END")
        }
        val (il, sl) = fit("left")
        val (ir, sr) = fit("right")
        s"""WITH b AS (SELECT CAST(n_chars AS DOUBLE) - CAST(1000.0 AS DOUBLE) AS u,
           |    CAST(CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS DOUBLE) AS y,
           |    CAST(n_chars AS DOUBLE) >= 1000.0 AS r
           |  FROM documents WHERE n_chars IS NOT NULL
           |    AND abs(CAST(n_chars AS DOUBLE) - CAST(1000.0 AS DOUBLE)) <= CAST(800.0 AS DOUBLE)),
           |m AS (SELECT ${side("NOT r", "left")},
           |    ${side("r", "right")}
           |  FROM b),
           |f AS (SELECT CAST(n_left AS BIGINT) AS n_left, CAST(n_right AS BIGINT) AS n_right,
           |    $il AS il, $sl AS sl, $ir AS ir, $sr AS sr FROM m)
           |SELECT n_left, n_right, il AS intercept_left, sl AS slope_left,
           |  ir AS intercept_right, sr AS slope_right,
           |  CASE WHEN il IS NOT NULL AND ir IS NOT NULL THEN ${r6("ir - il")} END AS effect
           |FROM f""".stripMargin
      }),

    // time-decay attribution (1-day half-life): the deployable recency
    // model between last-touch and the q_markov_attr/q_shapley_attr pair
    QueryDef("q_decay_attr",
      (s, dir) =>
        Attribution.timeDecayAttribution(ev(s, dir), "user_id", "ts",
          "event_type", "event_id", "purchase", halfLifeUs = 86400000000L),
      Some(s"""WITH rows AS (SELECT user_id AS u, event_type AS ty, epoch_us(ts) AS tu,
           |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           |  FROM events WHERE ts IS NOT NULL),
           |cc AS (SELECT u, min(CASE WHEN ty = 'purchase' THEN rn END) AS cp,
           |    min(CASE WHEN ty = 'purchase' THEN tu END) AS ct FROM rows GROUP BY 1),
           |t AS (SELECT r.u, r.ty,
           |    ${r6("pow(0.5, CAST(cc.ct - r.tu AS DOUBLE) / 86400000000.0)")} AS w
           |  FROM rows r JOIN cc USING (u) WHERE cc.cp IS NOT NULL AND r.rn < cc.cp),
           |sw AS (SELECT u, ${dsum("w")} AS sw FROM t GROUP BY 1),
           |cr AS (SELECT t.ty AS channel, ${r6("t.w / sw.sw")} AS credit
           |  FROM t JOIN sw USING (u))
           |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
           |  ${r6(s"(${dsum("credit")})")} AS total_credit
           |FROM cr GROUP BY 1""".stripMargin)),

    // per-class one-vs-rest metrics of the n-gram language-ID against
    // the true lang column
    QueryDef("q_cls_metrics",
      (s, dir) =>
        Evaluation.classMetrics(
          docs(s, dir).select(col("lang"),
            TextFunctions.langId(col("text")).as("lang_pred")),
          "lang", "lang_pred"),
      Some(s"""WITH det AS ($langIdSelectSql),
           |cells AS (SELECT coalesce(d.lang, '(null)') AS t, coalesce(det.lang_pred, '(null)') AS p, CAST(count(*) AS BIGINT) AS n
           |  FROM documents d JOIN det ON d.doc_id = det.doc_id GROUP BY 1, 2),
           |classes AS (SELECT t AS class FROM cells UNION SELECT p FROM cells),
           |diag AS (SELECT t AS class, n AS tp FROM cells WHERE t = p),
           |tm AS (SELECT t AS class, CAST(sum(n) AS BIGINT) AS nt FROM cells GROUP BY 1),
           |pm AS (SELECT p AS class, CAST(sum(n) AS BIGINT) AS np FROM cells GROUP BY 1),
           |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells),
           |sums AS (SELECT class,
           |    coalesce(tp, 0) AS tp,
           |    coalesce(np, 0) - coalesce(tp, 0) AS fp,
           |    coalesce(nt, 0) - coalesce(tp, 0) AS fn,
           |    (SELECT total FROM tot) - coalesce(nt, 0) - coalesce(np, 0) + coalesce(tp, 0) AS tn
           |  FROM classes LEFT JOIN diag USING (class) LEFT JOIN tm USING (class) LEFT JOIN pm USING (class)),
           |r AS (SELECT class, tp, fp, fn, tn,
           |    CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) END AS prec,
           |    CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)) END AS rec,
           |    sqrt((CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) * (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)) * (CAST(tn AS DOUBLE) + CAST(fp AS DOUBLE)) * (CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE))) AS mden
           |  FROM sums)
           |SELECT class, CAST(tp + fn AS BIGINT) AS n_true, CAST(tp + fp AS BIGINT) AS n_pred,
           |  CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
           |  ${r6("prec")} AS precision, ${r6("rec")} AS recall,
           |  CASE WHEN prec IS NOT NULL AND rec IS NOT NULL AND prec + rec > 0 THEN ${r6("2.0 * prec * rec / (prec + rec)")} END AS f1,
           |  CASE WHEN mden > 0 THEN ${r6("(CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE) - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE)) / mden")} END AS mcc
           |FROM r""".stripMargin)),

    // fairness audit of a length-gate "keep" decision across langs,
    // labeled by the " the " ground truth
    QueryDef("q_fair_audit",
      (s, dir) =>
        Fairness.fairnessAudit(docs(s, dir), "lang",
          col("n_chars") > 800, col("text").contains(" the ")),
      Some(s"""WITH g AS (SELECT coalesce(lang, '(null)') AS "group",
           |    CAST(count(*) AS BIGINT) AS n,
           |    CAST(count(CASE WHEN n_chars > 800 THEN 1 END) AS BIGINT) AS n_selected,
           |    CAST(count(CASE WHEN contains(text, ' the ') THEN 1 END) AS BIGINT) AS np,
           |    CAST(count(CASE WHEN NOT contains(text, ' the ') THEN 1 END) AS BIGINT) AS nn,
           |    CAST(count(CASE WHEN n_chars > 800 AND contains(text, ' the ') THEN 1 END) AS BIGINT) AS tp,
           |    CAST(count(CASE WHEN n_chars > 800 AND NOT contains(text, ' the ') THEN 1 END) AS BIGINT) AS fp
           |  FROM documents GROUP BY 1),
           |rates AS (SELECT "group", n, n_selected,
           |    CASE WHEN n > 0 THEN ${r6("CAST(n_selected AS DOUBLE) / CAST(n AS DOUBLE)")} END AS selection_rate,
           |    CASE WHEN np > 0 THEN ${r6("CAST(tp AS DOUBLE) / CAST(np AS DOUBLE)")} END AS tpr,
           |    CASE WHEN nn > 0 THEN ${r6("CAST(fp AS DOUBLE) / CAST(nn AS DOUBLE)")} END AS fpr
           |  FROM g),
           |ref AS (SELECT selection_rate AS rsel, tpr AS rtpr, fpr AS rfpr
           |  FROM rates ORDER BY n DESC, "group" ASC LIMIT 1)
           |SELECT "group", n, n_selected, selection_rate, tpr, fpr,
           |  CASE WHEN rsel > 0 THEN ${r6("selection_rate / rsel")} END AS selection_ratio,
           |  ${r6("tpr - rtpr")} AS tpr_gap, ${r6("fpr - rfpr")} AS fpr_gap,
           |  CASE WHEN rsel > 0 THEN selection_rate / rsel < 0.8 END AS four_fifths_flag
           |FROM rates, ref""".stripMargin)),

    // U-shaped 40/20/40 attribution, same journey truncation as
    // q_decay_attr
    QueryDef("q_position_attr",
      (s, dir) =>
        Attribution.positionAttribution(ev(s, dir), "user_id", "ts",
          "event_type", "event_id", "purchase", endWeight = 0.4),
      Some(s"""WITH rows AS (SELECT user_id AS u, event_type AS ty, ts, event_id,
           |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
           |  FROM events WHERE ts IS NOT NULL),
           |cc AS (SELECT u, min(CASE WHEN ty = 'purchase' THEN rn END) AS cp FROM rows GROUP BY 1),
           |t AS (SELECT r.u, r.ty,
           |    row_number() OVER (PARTITION BY r.u ORDER BY r.ts, r.event_id) AS ti,
           |    count(*) OVER (PARTITION BY r.u) AS nt
           |  FROM rows r JOIN cc USING (u) WHERE cc.cp IS NOT NULL AND r.rn < cc.cp),
           |cr AS (SELECT ty AS channel, ${r6("""CASE WHEN nt = 1 THEN 1.0
           |    WHEN nt = 2 THEN 0.5
           |    WHEN ti = 1 OR ti = nt THEN 0.4
           |    ELSE 0.19999999999999998 / (CAST(nt AS DOUBLE) - 2.0) END""")} AS credit
           |  FROM t)
           |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
           |  ${r6(s"(${dsum("credit")})")} AS total_credit
           |FROM cr GROUP BY 1""".stripMargin)),

    // IV Wald/LATE per lang: even-user instrument, did-purchase
    // treatment, event value outcome
    QueryDef("q_iv_wald",
      (s, dir) => {
        val peru = ev(s, dir).filter(col("ts").isNotNull)
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase", 1L)).as("__t"),
            graft.functions.Portable.r6(
              sum(coalesce(
                when(!isnan(col("value")), col("value")), lit(0.0))
                .cast("decimal(38,6)")).cast("double")).as("y"))
        Causal.ivWald(peru.withColumn("g", lit("all")), Seq("g"),
          pmod(col("user_id"), lit(2)) === 0, col("__t") === 1L, "y")
      },
      Some(s"""WITH peru AS (SELECT user_id,
           |    max(CASE WHEN event_type = 'purchase' THEN 1 END) AS t,
           |    ${r6("CAST(coalesce(sum(CASE WHEN NOT isnan(value) THEN CAST(value AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE)")} AS y
           |  FROM events WHERE ts IS NOT NULL GROUP BY 1),
           |f AS (SELECT user_id % 2 = 0 AS z, t = 1 AS tt, y FROM peru
           |  WHERE y IS NOT NULL AND NOT isnan(y)),
           |g AS (SELECT 'all' AS g, CAST(count(*) AS BIGINT) AS n,
           |    CAST(count(CASE WHEN z THEN 1 END) AS BIGINT) AS n_z1,
           |    CAST(count(CASE WHEN NOT z THEN 1 END) AS BIGINT) AS n_z0,
           |    CAST(count(CASE WHEN z AND tt THEN 1 END) AS BIGINT) AS t1,
           |    CAST(count(CASE WHEN (NOT z) AND tt THEN 1 END) AS BIGINT) AS t0,
           |    CAST(coalesce(sum(CASE WHEN z THEN CAST(${r6("y")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sy1,
           |    CAST(coalesce(sum(CASE WHEN NOT z THEN CAST(${r6("y")} AS DECIMAL(38,6)) ELSE CAST(0 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS sy0
           |  FROM f),
           |e AS (SELECT *, CAST(n_z1 AS DOUBLE) AS n1, CAST(n_z0 AS DOUBLE) AS n0,
           |    CAST(t1 AS DOUBLE) / CAST(n_z1 AS DOUBLE) AS p1,
           |    CAST(t0 AS DOUBLE) / CAST(n_z0 AS DOUBLE) AS p0,
           |    CAST(t1 + t0 AS DOUBLE) / CAST(n_z1 + n_z0 AS DOUBLE) AS pp
           |  FROM g),
           |x AS (SELECT *,
           |    CASE WHEN n_z1 > 0 AND n_z0 > 0 THEN p1 - p0 END AS fs,
           |    CASE WHEN n_z1 > 0 AND n_z0 > 0 THEN sy1 / n1 - sy0 / n0 END AS itt0
           |  FROM e)
           |SELECT g, n, n_z1, n_z0,
           |  CASE WHEN n_z1 > 0 THEN ${r6("p1")} END AS t_rate_z1,
           |  CASE WHEN n_z0 > 0 THEN ${r6("p0")} END AS t_rate_z0,
           |  ${r6("fs")} AS first_stage,
           |  CASE WHEN n_z1 > 0 AND n_z0 > 0 AND pp > 0 AND pp < 1
           |    THEN ${r6("(p1 - p0) / sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n0))")} END AS first_stage_z,
           |  ${r6("itt0")} AS itt,
           |  CASE WHEN fs IS NOT NULL AND fs <> 0.0 THEN ${r6("itt0 / fs")} END AS late
           |FROM x""".stripMargin)),

    // cumulative gains/lift of the length score against the " the "
    // label, per lang
    QueryDef("q_gains",
      (s, dir) =>
        Evaluation.gainsTable(
          docs(s, dir).withColumn("score",
            least(lit(1.0), col("n_chars").cast("double") / 1000.0)),
          Seq("lang"), "score", col("text").contains(" the "), "doc_id", nBins = 10),
      Some(s"""WITH b AS (SELECT lang, least(1.0, CAST(n_chars AS DOUBLE) / 1000.0) AS x,
           |    CASE WHEN contains(text, ' the ') THEN 1 ELSE 0 END AS p, doc_id
           |  FROM documents WHERE n_chars IS NOT NULL),
           |rk AS (SELECT lang, p,
           |    CAST(row_number() OVER (PARTITION BY lang ORDER BY x DESC, doc_id) AS BIGINT) - 1 AS r,
           |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
           |  FROM b),
           |bn AS (SELECT lang, (r * 10) // n + 1 AS bin, CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(p) AS BIGINT) AS n_pos
           |  FROM rk GROUP BY 1, 2),
           |c AS (SELECT lang, bin, n, n_pos,
           |    CAST(sum(n_pos) OVER (PARTITION BY lang ORDER BY bin) AS BIGINT) AS cp,
           |    CAST(sum(n) OVER (PARTITION BY lang ORDER BY bin) AS BIGINT) AS cn,
           |    CAST(sum(n_pos) OVER (PARTITION BY lang) AS BIGINT) AS tp,
           |    CAST(sum(n) OVER (PARTITION BY lang) AS BIGINT) AS tn
           |  FROM bn)
           |SELECT lang, CAST(bin AS BIGINT) AS bin, n, n_pos,
           |  CASE WHEN tp > 0 THEN ${r6("CAST(cp AS DOUBLE) / CAST(tp AS DOUBLE)")} END AS cum_capture,
           |  CASE WHEN tp > 0 THEN ${r6("(CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)) / (CAST(tp AS DOUBLE) / CAST(tn AS DOUBLE))")} END AS cum_lift
           |FROM c""".stripMargin))
  )
}
