package graft
package registry

import graft.operators._
import graft.sources.Tables
import graft.text.TextFunctions
import org.apache.spark.sql.functions._

/** Data-quality operators: expectations, profiles, sketches, heavy hitters,
  * integrity and privacy audits, skew and diversity.
  */
object QualityQueries {
  import Shared._

  /** Expectation suite shared by the Spark query and the oracle SQL
    * generator — one definition, two renderings.
    */
  private val expectRules: Seq[Validate.Expectation] = Seq(
    Validate.Expectation("known_core_type", col("event_type").isin("click", "view", "purchase")),
    Validate.Expectation("ts_present", col("ts").isNotNull),
    Validate.Expectation("user_id_present", col("user_id").isNotNull),
    Validate.Expectation("value_finite", col("value").isNotNull && !isnan(col("value"))),
    Validate.Expectation("value_le_100", col("value") <= 100)
  )

  /** DuckDB rendering of [[expectRules]] (same names, same order). */
  private val expectRulesSql: Seq[(String, String)] = Seq(
    "known_core_type" -> "event_type IN ('click','view','purchase')",
    "ts_present" -> "ts IS NOT NULL",
    "user_id_present" -> "user_id IS NOT NULL",
    "value_finite" -> "value IS NOT NULL AND NOT isnan(value)",
    "value_le_100" -> "value <= 100"
  )

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_fk_audit",
      (s, dir) =>
        Integrity.fkAuditAll(Seq(
          ("lineitem.orderkey", Tables.lineitem(s, dir), "l_orderkey", Tables.orders(s, dir), "o_orderkey"),
          ("orders.custkey", Tables.orders(s, dir), "o_custkey", Tables.customer(s, dir), "c_custkey"),
          ("customer.nationkey", Tables.customer(s, dir), "c_nationkey", Tables.nation(s, dir), "n_nationkey")
        )),
      Some("""WITH a AS (SELECT 'lineitem.orderkey' AS relation, count(*) AS n_rows,
          |    CAST(sum(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
          |    CAST(sum(CASE WHEN l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
          |  FROM lineitem l LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders) o ON l.l_orderkey = o.o_orderkey),
          |b AS (SELECT 'orders.custkey' AS relation, count(*) AS n_rows,
          |    CAST(sum(CASE WHEN o.o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
          |    CAST(sum(CASE WHEN o.o_custkey IS NOT NULL AND c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
          |  FROM orders o LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c ON o.o_custkey = c.c_custkey),
          |cta AS (SELECT 'customer.nationkey' AS relation, count(*) AS n_rows,
          |    CAST(sum(CASE WHEN c.c_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_fk,
          |    CAST(sum(CASE WHEN c.c_nationkey IS NOT NULL AND n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
          |  FROM customer c LEFT JOIN (SELECT DISTINCT n_nationkey FROM nation) n ON c.c_nationkey = n.n_nationkey)
          |SELECT relation, n_rows, n_null_fk, n_orphans,
          |  floor((CAST(n_orphans AS DOUBLE)/CAST(greatest(n_rows,1) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS orphan_frac
          |FROM (SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM cta)""".stripMargin)),

    // one-pass multi-column table profile (data-validation stage)
    QueryDef("q_profile",
      (s, dir) =>
        Profile.profile(
          ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts"))),
      Some {
        def c(name: String, numExpr: Option[String], strExpr: Option[String]) =
          s"""SELECT '$name' AS col_name, count(*) AS n,
             |  count(*) - count($name) AS n_null, count(DISTINCT $name) AS n_distinct,
             |  ${numExpr.map(e => s"CAST(min($e) AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")} AS min_num,
             |  ${numExpr.map(e => s"CAST(max($e) AS DOUBLE)").getOrElse("CAST(NULL AS DOUBLE)")} AS max_num,
             |  ${strExpr.map(e => s"min($e)").getOrElse("CAST(NULL AS VARCHAR)")} AS min_str,
             |  ${strExpr.map(e => s"max($e)").getOrElse("CAST(NULL AS VARCHAR)")} AS max_str
             |FROM events""".stripMargin
        Seq(
          c("event_id", Some("event_id"), None),
          c("user_id", Some("user_id"), None),
          c("event_type", None, Some("event_type")),
          c("value", Some("value"), None),
          c("ts", Some("epoch_us(ts)"), None)
        ).mkString("\n", "\nUNION ALL\n", "")
      }),

    // expectation suite over events: k rules, ONE scan. Two rules pass
    // clean and two fire, so both count paths are exercised.
    QueryDef("q_expect",
      (s, dir) =>
        Validate.violations(ev(s, dir), expectRules).orderBy("rule"),
      Some(expectRulesSql.map { case (name, holds) =>
          s"""SELECT '$name' AS rule, count(*) AS n_rows,
             |  count(CASE WHEN NOT coalesce($holds, FALSE) THEN 1 END) AS n_violations,
             |  floor((count(CASE WHEN NOT coalesce($holds, FALSE) THEN 1 END) / greatest(count(*), 1)) * 1000000 + 0.5) / 1000000 AS violation_frac
             |FROM events""".stripMargin
        }.mkString("\n", "\nUNION ALL\n", "\nORDER BY rule"))),

    // fixed-width value histogram per event type
    QueryDef("q_histogram",
      (s, dir) =>
        Profile.histogram(ev(s, dir), "value", width = 50.0, by = Seq("event_type")),
      Some("""SELECT event_type, CAST(floor(value/50) AS BIGINT) AS bin,
          |  CAST(floor(value/50) AS BIGINT) * CAST(50.0 AS DOUBLE) AS bin_lo, count(*) AS n
          |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
          |GROUP BY 1, 2, 3""".stripMargin)),

    // mergeable HLL distinct-count sketches, range-asserted (round-10
    // verdict item): the partial-merge-estimate path runs in full, and
    // the ESTIMATE is checked against the exact distinct inside a
    // hash-verified boolean band (|est − n| ≤ 5%·n + 2 ≈ 3σ at lgK=12,
    // deterministic for fixed data) — estimator drift now fails the
    // oracle instead of hiding behind a rows-only check. The raw
    // sketch-binary merge contract stays pinned by SketchesSpec.
    QueryDef("q_hll",
      { (s, dir) =>
        val events = ev(s, dir)
        Sketches
          .estimate(Sketches.distinctSketchPartials(events, Seq("event_type"), "user_id"))
          .join(events.groupBy("event_type")
            .agg(countDistinct(col("user_id")).as("n_distinct")), "event_type")
          .select(col("event_type"), col("n_distinct"),
            (abs(col("n_distinct_est") - col("n_distinct").cast("double")) <=
              col("n_distinct").cast("double") * 0.05 + 2.0).as("est_within_band"))
      },
      // the exact distinct is the oracle-checkable half; the sketch
      // estimate is asserted inside the hash via the boolean band
      // (both engines emit TRUE iff the estimate is sane — a drifted
      // estimator flips Spark's flag and the hash catches it)
      Some("""SELECT event_type, count(DISTINCT user_id) AS n_distinct,
          |TRUE AS est_within_band FROM events GROUP BY 1""".stripMargin)),

    // two-pass exact heavy hitters: MG sketch candidates + broadcast
    // recount; oracle is the plain exact GROUP BY ... HAVING. k=4096
    // keeps threshold*(k+1) ≈ 3.7M tokens above sf1's ~2.7M, so the
    // loud miss-bound guard stays clear at every driver scale factor
    QueryDef("q_heavy_hitters",
      (s, dir) =>
        HeavyHitters.exactHeavyHitters(
          docs(s, dir).select(explode(graft.text.TextFunctions.wordTokens(col("text"))).as("tok")),
          "tok", k = 4096, threshold = 900L),
      Some("""WITH t AS (SELECT unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '')) AS tok FROM documents)
          |SELECT tok, count(*) AS n FROM t GROUP BY 1 HAVING count(*) >= 900""".stripMargin)),

    // count-min sketch (4x64) point estimates of per-user event counts
    QueryDef("q_cms",
      { (s, dir) =>
        val sk = Sketches.countMinTable(ev(s, dir), "user_id", 4, 64)
        Sketches.countMinEstimate(sk, ev(s, dir), "user_id", 4, 64)
          .select(col("i").as("user_id"), col("est"))
      },
      Some(s"""WITH d AS (SELECT unnest([0, 1, 2, 3]) AS j),
           |s AS (SELECT j, ${h32("concat(j, '#', CAST(user_id AS VARCHAR))")} % 64 AS b, count(*) AS n
           |  FROM events, d GROUP BY 1, 2),
           |k AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS i FROM events),
           |e AS (SELECT i, j, ${h32("concat(j, '#', i)")} % 64 AS b FROM k, d)
           |SELECT i AS user_id, CAST(min(coalesce(n, 0)) AS BIGINT) AS est
           |FROM e LEFT JOIN s USING (j, b) GROUP BY 1""".stripMargin)),

    // per-code exact R-7 quantile summary (p25/p50/p75/p90/p99)
    QueryDef("q_quantiles",
      (s, dir) =>
        Profile.quantileSummary(medsE(s, dir), Seq("code"), "numeric_value", QuantilePs)
          .select(col("code"), col("p"),
            graft.functions.Portable.r6(col("q")).as("q")),
      Some {
        // DOUBLE-cast probes: DuckDB decimal literals would interpolate
        // on exact 0.9 while Spark interpolates on double 0.9
        val ps = QuantilePs.map(p => s"CAST($p AS DOUBLE)").mkString("[", ", ", "]")
        s"""WITH q AS (SELECT event_type AS code, quantile_cont(value, $ps) AS qs
           |  FROM events WHERE value IS NOT NULL AND NOT isnan(value) GROUP BY 1)
           |SELECT code, unnest($ps) AS p,
           |  floor(unnest(qs) * 1000000 + 0.5) / 1000000 AS q
           |FROM q""".stripMargin
      }),

    // join-key skew audit over two candidate shuffle keys of events
    QueryDef("q_skew_audit",
      { (s, dir) =>
        val e = ev(s, dir)
        Skew.keySkewAudit(e, "event_type", topK = 5)
          .unionAll(Skew.keySkewAudit(e, "user_id", topK = 5))
          .select(col("key_col"), col("rank").cast("long").as("rank"), col("key"),
            col("n"), graft.functions.Portable.r6(col("share")).as("share"),
            col("n_rows"), col("n_keys"),
            graft.functions.Portable.r6(col("skew")).as("skew"), col("salts"))
      },
      Some {
        val audit = (keyCol: String, c: String) =>
          s"""${c}c AS (SELECT CAST($keyCol AS VARCHAR) AS key, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
             |${c}s AS (SELECT CAST(sum(n) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_keys,
             |        CAST(max(n) AS BIGINT) AS max_n FROM ${c}c),
             |${c}t AS (SELECT '$keyCol' AS key_col,
             |        CAST(row_number() OVER (ORDER BY n DESC, key) AS BIGINT) AS "rank", key, n
             |      FROM ${c}c ORDER BY n DESC, key LIMIT 5),
             |$c AS (SELECT key_col, "rank", key, n,
             |        CAST(n AS DOUBLE) / CAST(n_rows AS DOUBLE) AS share, n_rows, n_keys,
             |        CAST(max_n AS DOUBLE) / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)) AS skew,
             |        CAST(ceil(CAST(max_n AS DOUBLE) / (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE))) AS BIGINT) AS salts
             |      FROM ${c}t, ${c}s)""".stripMargin
        s"""WITH ${audit("event_type", "r1")},
           |${audit("user_id", "r2")},
           |u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
           |SELECT key_col, "rank", key, n,
           |  floor(share * 1000000 + 0.5) / 1000000 AS share, n_rows, n_keys,
           |  floor(skew * 1000000 + 0.5) / 1000000 AS skew, salts
           |FROM u""".stripMargin
      }),

    // k-anonymity audit over the (lang, source, length-bucket)
    // quasi-identifier: re-identification risk report at k = 5
    QueryDef("q_kanon",
      (s, dir) =>
        Integrity.kAnonymity(
            docs(s, dir).withColumn("len_bucket", floor(col("n_chars") / 100).cast("long")),
            Seq("lang", "source", "len_bucket"), k = 5L)
          .select(col("k"), col("n_rows"), col("n_classes"), col("n_singletons"),
            col("n_rows_at_risk"), col("min_class_size"),
            graft.functions.Portable.r6(col("frac_at_risk")).as("frac_at_risk")),
      Some("""WITH c AS (SELECT lang, source, n_chars // 100 AS len_bucket, CAST(count(*) AS BIGINT) AS n
          |  FROM documents GROUP BY 1, 2, 3),
          |m AS (SELECT CAST(5 AS BIGINT) AS k,
          |        CAST(sum(n) AS BIGINT) AS n_rows,
          |        CAST(count(*) AS BIGINT) AS n_classes,
          |        CAST(count(CASE WHEN n = 1 THEN 1 END) AS BIGINT) AS n_singletons,
          |        CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0) AS BIGINT) AS n_rows_at_risk,
          |        CAST(min(n) AS BIGINT) AS min_class_size
          |      FROM c)
          |SELECT k, n_rows, n_classes, n_singletons, n_rows_at_risk, min_class_size,
          |  floor(CAST(n_rows_at_risk AS DOUBLE) / CAST(n_rows AS DOUBLE) * 1000000 + 0.5) / 1000000 AS frac_at_risk
          |FROM m""".stripMargin)),

    // l-diversity of source within (lang, length-bucket) classes — the
    // homogeneity-attack complement of q_kanon
    QueryDef("q_ldiv",
      (s, dir) =>
        Integrity.lDiversity(
            docs(s, dir).withColumn("len_bucket", floor(col("n_chars") / 100).cast("long")),
            Seq("lang", "len_bucket"), "source", l = 3L)
          .select(col("l"), col("n_rows"), col("n_classes"), col("n_classes_below_l"),
            col("n_rows_at_risk"), col("min_diversity"),
            graft.functions.Portable.r6(col("frac_at_risk")).as("frac_at_risk")),
      Some("""WITH c AS (SELECT lang, n_chars // 100 AS len_bucket,
          |    CAST(count(*) AS BIGINT) AS n, CAST(count(DISTINCT source) AS BIGINT) AS ndv
          |  FROM documents GROUP BY 1, 2)
          |SELECT CAST(3 AS BIGINT) AS l,
          |  CAST(sum(n) AS BIGINT) AS n_rows,
          |  CAST(count(*) AS BIGINT) AS n_classes,
          |  CAST(count(CASE WHEN ndv < 3 THEN 1 END) AS BIGINT) AS n_classes_below_l,
          |  CAST(coalesce(sum(CASE WHEN ndv < 3 THEN n END), 0) AS BIGINT) AS n_rows_at_risk,
          |  CAST(min(ndv) AS BIGINT) AS min_diversity,
          |  floor(CAST(coalesce(sum(CASE WHEN ndv < 3 THEN n END), 0) AS DOUBLE)
          |    / CAST(sum(n) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS frac_at_risk
          |FROM c""".stripMargin)),

    // effective-number diversity of each event stream across users
    QueryDef("q_diversity",
      (s, dir) =>
        graft.operators.Diversity.indices(ev(s, dir), Seq("event_type"), "user_id")
          .select(col("event_type"), col("n"), col("richness"),
            graft.functions.Portable.r6(col("shannon")).as("shannon"),
            graft.functions.Portable.r6(col("simpson")).as("simpson"),
            graft.functions.Portable.r6(col("hill1")).as("hill1"),
            graft.functions.Portable.r6(col("hill2")).as("hill2")),
      Some("""WITH c AS (SELECT event_type, user_id, count(*) AS k FROM events
          |  WHERE user_id IS NOT NULL GROUP BY 1, 2),
          |g AS (SELECT event_type, CAST(sum(k) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS richness,
          |        CAST(sum(CAST(k AS DECIMAL(38,0)) * k) AS DOUBLE) AS sk2,
          |        CAST(sum(CAST(floor(CAST(k AS DOUBLE) * ln(CAST(k AS DOUBLE)) * 1000000 + 0.5)
          |          / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS skl
          |      FROM c GROUP BY 1)
          |SELECT event_type, n, richness,
          |  floor((ln(CAST(n AS DOUBLE)) - skl / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS shannon,
          |  floor(sk2 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS simpson,
          |  floor(exp(ln(CAST(n AS DOUBLE)) - skl / CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS hill1,
          |  floor(CAST(n AS DOUBLE) * CAST(n AS DOUBLE) / sk2 * 1000000 + 0.5) / 1000000 AS hill2
          |FROM g""".stripMargin)),

    // Good-Turing unseen vocabulary mass + Chao1 floor per source
    QueryDef("q_unseen_mass",
      (s, dir) =>
        graft.operators.Diversity.unseenMass(
            docs(s, dir).select(col("source"),
              explode(TextFunctions.wordTokens(col("text"))).as("word")),
            Seq("source"), "word")
          .select(col("source"), col("n"), col("richness"), col("n1"), col("n2"),
            graft.functions.Portable.r6(col("missing_mass")).as("missing_mass"),
            graft.functions.Portable.r6(col("chao1")).as("chao1")),
      Some("""WITH w AS (SELECT source,
          |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
          |  FROM documents),
          |c AS (SELECT source, word, count(*) AS k FROM w WHERE word IS NOT NULL GROUP BY 1, 2),
          |g AS (SELECT source, CAST(sum(k) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS richness,
          |    CAST(count(CASE WHEN k = 1 THEN 1 END) AS BIGINT) AS n1,
          |    CAST(count(CASE WHEN k = 2 THEN 1 END) AS BIGINT) AS n2
          |  FROM c GROUP BY 1)
          |SELECT source, n, richness, n1, n2,
          |  floor(CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS missing_mass,
          |  CASE WHEN n2 > 0 THEN
          |    floor((CAST(richness AS DOUBLE)
          |      + CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE) / (2.0 * CAST(n2 AS DOUBLE)))
          |      * 1000000 + 0.5) / 1000000 END AS chao1
          |FROM g""".stripMargin)),

    // order-free per-source content checksum (change detection)
    QueryDef("q_checksum",
      (s, dir) =>
        Validate.contentChecksum(docs(s, dir), Seq("source"),
            Seq("doc_id", "text", "lang", "n_chars"))
          .select(col("source"), col("n_rows"), col("checksum")),
      Some("""WITH e AS (SELECT source,
          |    concat_ws('|',
          |      CASE WHEN doc_id IS NULL THEN '\N' ELSE replace(replace(CAST(doc_id AS VARCHAR), '\', '\\'), '|', '\|') END,
          |      CASE WHEN text IS NULL THEN '\N' ELSE replace(replace(text, '\', '\\'), '|', '\|') END,
          |      CASE WHEN lang IS NULL THEN '\N' ELSE replace(replace(lang, '\', '\\'), '|', '\|') END,
          |      CASE WHEN n_chars IS NULL THEN '\N' ELSE replace(replace(CAST(n_chars AS VARCHAR), '\', '\\'), '|', '\|') END
          |    ) AS j FROM documents)
          |SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
          |  CAST(CAST(sum(CAST(CAST(concat('0x', substr(md5(j), 1, 15)) AS BIGINT) AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
          |FROM e GROUP BY 1""".stripMargin)),

    // t-closeness audit: lang distribution skew per (source, len-bucket)
    // class vs the global corpus, TVD threshold 0.2
    QueryDef("q_tcloseness",
      (s, dir) =>
        Integrity.tCloseness(
            docs(s, dir).withColumn("len_bucket", floor(col("n_chars") / 100).cast("long")),
            Seq("source", "len_bucket"), "lang", t = 0.2)
          .select(col("t"), col("n_rows"), col("n_classes"), col("n_classes_above_t"),
            col("n_rows_at_risk"), col("frac_at_risk"),
            graft.functions.Portable.r6(col("max_distance")).as("max_distance")),
      Some("""WITH cv AS (SELECT source, n_chars // 100 AS len_bucket,
          |    coalesce(CAST(lang AS VARCHAR), '__NULL__') AS v, CAST(count(*) AS BIGINT) AS n
          |  FROM documents GROUP BY 1, 2, 3),
          |cls AS (SELECT source, len_bucket, v, n,
          |    sum(n) OVER (PARTITION BY source, len_bucket) AS cn FROM cv),
          |g AS (SELECT v, CAST(sum(n) AS DOUBLE) / (SELECT CAST(sum(n) AS DOUBLE) FROM cv) AS q
          |  FROM cv GROUP BY 1),
          |pc AS (SELECT source, len_bucket, max(cn) AS cn,
          |    CAST(sum(CAST(floor((abs(CAST(n AS DOUBLE) / CAST(cn AS DOUBLE) - q) - q)
          |      * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS s
          |  FROM cls JOIN g USING (v) GROUP BY 1, 2),
          |d AS (SELECT cn, floor((1.0 + s) / 2.0 * 1000000 + 0.5) / 1000000 AS dist FROM pc)
          |SELECT 0.2 AS t, CAST(sum(cn) AS BIGINT) AS n_rows,
          |  CAST(count(*) AS BIGINT) AS n_classes,
          |  CAST(count(CASE WHEN dist > 0.2 THEN 1 END) AS BIGINT) AS n_classes_above_t,
          |  CAST(coalesce(sum(CASE WHEN dist > 0.2 THEN cn END), 0) AS BIGINT) AS n_rows_at_risk,
          |  floor(CAST(coalesce(sum(CASE WHEN dist > 0.2 THEN cn END), 0) AS DOUBLE)
          |    / CAST(sum(cn) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS frac_at_risk,
          |  floor(max(dist) * 1000000 + 0.5) / 1000000 AS max_distance
          |FROM d""".stripMargin)),

    // ε-DP count release: per-(source, lang) doc counts with
    // deterministic seeded Laplace noise — publishable corpus stats
    QueryDef("q_dp_counts",
      (s, dir) =>
        Integrity.dpCounts(docs(s, dir), Seq("source", "lang"), epsilon = 1.0, seed = "dp42"),
      Some {
        val key = "concat('dp42', coalesce(md5(CAST(source AS VARCHAR)),'N'), coalesce(md5(CAST(lang AS VARCHAR)),'N'))"
        s"""WITH g AS (SELECT source, lang, count(*) AS n FROM documents GROUP BY 1, 2),
           |h AS (SELECT source, lang, n,
           |    (CAST(${h32(key)} AS DOUBLE) + 0.5) / 4294967296.0 - 0.5 AS u FROM g)
           |SELECT source, lang, CAST(1.0 AS DOUBLE) AS epsilon,
           |  floor((CAST(n AS DOUBLE)
           |    - (CASE WHEN u < 0 THEN -1.0 WHEN u > 0 THEN 1.0 ELSE 0.0 END)
           |      * ln(1.0 - 2.0 * abs(u)) / 1.0) * 1000000 + 0.5) / 1000000 AS noisy_count
           |FROM h""".stripMargin
      }),

    // KMV vocabulary-overlap matrix: per-source k=256 distinct-token
    // sketches, then pairwise union/intersection/Jaccard estimates from
    // the sketches alone (no per-pair corpus joins)
    QueryDef("q_kmv",
      (s, dir) => {
        val toks = docs(s, dir)
          .select(col("source"), explode(TextFunctions.wordTokens(col("text"))).as("tok"))
        Sketches.kmvOverlap(Sketches.kmvDistinct(toks, Seq("source"), "tok", k = 256), "source", 256)
          .select(col("key_a").as("src_a"), col("key_b").as("src_b"),
            col("est_a"), col("est_b"), col("est_union"), col("est_jaccard"), col("est_intersection"))
      },
      Some {
        val k = 256
        s"""WITH t AS (SELECT DISTINCT source, ${h32("tok")} AS h
           |  FROM (SELECT source, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS tok FROM documents)),
           |r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rk FROM t),
           |sk AS (SELECT source, list(h ORDER BY h) AS kmv, CAST(count(*) AS BIGINT) AS sz FROM r WHERE rk <= $k GROUP BY 1),
           |est AS (SELECT source, kmv,
           |    CASE WHEN sz < $k THEN CAST(sz AS DOUBLE)
           |      ELSE ${k - 1}.0 / ((CAST(kmv[$k] AS DOUBLE) + 1.0) / 4294967296.0) END AS e0 FROM sk),
           |pr AS (SELECT a.source AS src_a, b.source AS src_b, a.kmv AS sa, b.kmv AS sb,
           |    floor(a.e0 * 1000000 + 0.5) / 1000000 AS est_a, floor(b.e0 * 1000000 + 0.5) / 1000000 AS est_b
           |  FROM est a JOIN est b ON a.source < b.source),
           |m AS (SELECT *, list_sort(list_distinct(list_concat(sa, sb))) AS un FROM pr),
           |l AS (SELECT *, un[1:$k] AS ll, len(un) AS usz FROM m),
           |f AS (SELECT *, len(list_intersect(ll, list_intersect(sa, sb))) AS ncom, len(ll) AS lsz,
           |    CASE WHEN usz < $k THEN CAST(usz AS DOUBLE)
           |      ELSE ${k - 1}.0 / ((CAST(ll[$k] AS DOUBLE) + 1.0) / 4294967296.0) END AS eu FROM l),
           |g AS (SELECT *, CASE WHEN lsz > 0 THEN CAST(ncom AS DOUBLE) / CAST(lsz AS DOUBLE) END AS jac FROM f)
           |SELECT src_a, src_b, est_a, est_b,
           |  floor(eu * 1000000 + 0.5) / 1000000 AS est_union,
           |  floor(jac * 1000000 + 0.5) / 1000000 AS est_jaccard,
           |  floor(jac * eu * 1000000 + 0.5) / 1000000 AS est_intersection
           |FROM g""".stripMargin
      }),

    // confident-learning label-noise audit over the NB posteriors —
    // the off-diagonal of the confident joint is the estimated noise
    QueryDef("q_label_noise",
      (s, dir) =>
        LabelNoise.confidentJoint(
          graft.text.NaiveBayes.bernoulliNb(
            docs(s, dir).withColumn("bucket",
              when(col("n_chars") >= 300, lit("long")).otherwise(lit("short"))),
            "doc_id", "text", "bucket"),
          "doc_id", "label", "class", "posterior"),
      Some(s"""WITH $nbScoredCtes,
           |th AS (SELECT class, floor((CAST(sum(CAST(floor(posterior * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS t
           |  FROM scored WHERE label = class GROUP BY 1),
           |cand AS (SELECT s.id, s.label, s.class, s.posterior FROM scored s JOIN th ON s.class = th.class
           |  WHERE s.posterior >= th.t),
           |conf AS (SELECT id, label, class AS confident_class FROM (
           |  SELECT *, row_number() OVER (PARTITION BY id ORDER BY posterior DESC, class) AS rn FROM cand)
           |  WHERE rn = 1),
           |lt AS (SELECT label, count(*) AS n_label FROM (SELECT DISTINCT id, label FROM scored) GROUP BY 1),
           |cj AS (SELECT label, confident_class, CAST(count(*) AS BIGINT) AS n FROM conf GROUP BY 1, 2)
           |SELECT label, confident_class, n,
           |  floor(CAST(n AS DOUBLE) / CAST(n_label AS DOUBLE) * 1000000 + 0.5) / 1000000 AS frac_of_label,
           |  n_label, CAST(n_label - sum(n) OVER (PARTITION BY label) AS BIGINT) AS n_unconfident
           |FROM cj JOIN lt USING (label)""".stripMargin)),

    // user-level eps-DP mean event value per event type (clip [0, 500])
    QueryDef("q_dp_means",
      (s, dir) =>
        Integrity.dpMeans(ev(s, dir), Seq("event_type"), "user_id", "value",
          lo = 0.0, hi = 500.0, epsilon = 1.0, seed = "graft-dp9"),
      Some {
        def lap(tag: String, scale: String) = {
          val h = h32(s"concat('graft-dp9', coalesce(md5(CAST(event_type AS VARCHAR)), 'N'), '$tag')")
          s"""-sign(($h + 0.5) / 4294967296.0 - 0.5)
             | * ln(1.0 - 2.0 * abs(($h + 0.5) / 4294967296.0 - 0.5)) * $scale""".stripMargin
        }
        s"""WITH v AS (SELECT event_type, user_id,
           |    least(CAST(500.0 AS DOUBLE), greatest(CAST(0.0 AS DOUBLE), CAST(value AS DOUBLE))) AS cv
           |  FROM events WHERE value IS NOT NULL),
           |pu AS (SELECT event_type, user_id, ${dsum(r6("cv"))} / CAST(count(*) AS DOUBLE) AS m
           |  FROM v GROUP BY 1, 2),
           |g AS (SELECT event_type, count(*) AS nu, ${dsum(r6("m"))} AS s FROM pu GROUP BY 1),
           |n AS (SELECT event_type, CAST(1.0 AS DOUBLE) AS epsilon,
           |    ${r6(s"s + (${lap("S", "1000.0")})")} AS noisy_sum,
           |    ${r6(s"CAST(nu AS DOUBLE) + (${lap("C", "2.0")})")} AS noisy_count
           |  FROM g)
           |SELECT event_type, epsilon, noisy_sum, noisy_count,
           |  ${r6("noisy_sum / greatest(noisy_count, CAST(1.0 AS DOUBLE))")} AS noisy_mean
           |FROM n""".stripMargin
      })
  )
}
