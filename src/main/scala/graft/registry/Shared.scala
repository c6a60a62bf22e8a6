package graft
package registry

import graft.meds.Meds
import graft.operators._
import graft.sources.Tables
import graft.text.TextFunctions
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** What the query families share, written once: the input tables as the
  * queries read them, and the DuckDB SQL fragments their oracles splice in.
  */
private[registry] object Shared {

  /** Round an SQL expression to 6 decimals the way [[graft.functions.Portable.r6]]
    * rounds the Spark side (no outer parens: divide BY it as `a / (${r6(x)})`).
    */
  def r6(e: String): String = graft.functions.Portable.r6Sql(e)

  /** Partition-order-independent floating sum: through DECIMAL(38,6), back to DOUBLE. */
  def dsum(e: String): String = s"CAST(sum(CAST(($e) AS DECIMAL(38,6))) AS DOUBLE)"

  /** [[dsum]] of the [[r6]]-rounded terms, 0 on an empty group. */
  def ds(e: String): String = s"CAST(coalesce(sum(CAST(${r6(e)} AS DECIMAL(38,6))), 0) AS DOUBLE)"

  /** Two-sided normal p-value 2·(1 − Φ(az)) by Abramowitz–Stegun 26.2.16;
    * the SQL it is spliced into must define `az` = |z| and
    * `tt` = 1 / (1 + 0.33267·az).
    */
  val pSql: String = "least(1.0, 2.0 * exp(-az * az / 2.0) / " +
    s"${math.sqrt(2.0 * math.Pi)} * " +
    "(0.4361836 * tt - 0.1201676 * tt * tt + 0.9372980 * tt * tt * tt))"

  def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  /** events viewed as a MEDS measurement table. */
  def meds(s: SparkSession, dir: String): DataFrame = Meds.fromEvents(ev(s, dir))

  /** Same, with event_id retained for row-unique verification output. */
  def medsE(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).select(
      col("event_id"),
      col("user_id").cast("long").as("patient_id"),
      col("ts").as("time"),
      col("event_type").as("code"),
      col("value").cast("double").as("numeric_value")
    )

  def docs(s: SparkSession, dir: String): DataFrame = Tables.documents(s, dir)

  /** Word-adjacency edge table over the documents corpus (consecutive
    * token pairs) — the shared input of the graph family
    * (q_pagerank / q_triangles / q_clustering_coef / q_kcore).
    */
  def wordAdjacencyEdges(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(TextFunctions.wordTokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
    toks.select(explode(zip_with(
      slice(col("ts"), lit(1), size(col("ts")) - 1),
      slice(col("ts"), lit(2), size(col("ts")) - 1),
      (a, b) => struct(a.as("src"), b.as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))
  }

  def emb(s: SparkSession, dir: String): DataFrame = Tables.embeddings(s, dir)

  def timeUs(c: String = "time"): org.apache.spark.sql.Column =
    unix_micros(col(c)).as("time_us")

  val P = "value IS NOT NULL AND NOT isnan(value)"

  /** The nine code-metadata aggregations (DuckDB dialect), matching
    * [[CodeMetadata.aggregations]] alias-for-alias.
    */
  val aggColsSql: String =
    s"""count(DISTINCT user_id) AS "code/n_patients",
       |count(*) AS "code/n_occurrences",
       |count(DISTINCT CASE WHEN $P THEN user_id END) AS "values/n_patients",
       |count(CASE WHEN $P THEN 1 END) AS "values/n_occurrences",
       |count(CASE WHEN $P AND round(value)=value THEN 1 END) AS "values/n_ints",
       |CAST(coalesce(sum(CASE WHEN $P THEN CAST(value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS "values/sum",
       |CAST(coalesce(sum(CASE WHEN $P THEN CAST(value*value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS "values/sum_sqd",
       |min(CASE WHEN $P THEN value END) AS "values/min",
       |max(CASE WHEN $P THEN value END) AS "values/max"""".stripMargin

  /** Per-code mean/std CTEs (m, st) shared by occlude/normalize oracles. */
  val statsCtes: String =
    s"""m AS (SELECT event_type AS code,
       |  count(CASE WHEN $P THEN 1 END) AS n,
       |  CAST(coalesce(sum(CASE WHEN $P THEN CAST(value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s,
       |  CAST(coalesce(sum(CASE WHEN $P THEN CAST(value*value AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s2
       | FROM events GROUP BY 1),
       |st AS (SELECT code, s/n AS mean, sqrt(greatest(s2/n - (s/n)*(s/n), 0)) AS std FROM m)""".stripMargin

  /** Distinct (id, md5-derived shingle hash) 5-gram table over documents
    * (tk, sh0, shh CTEs) — matches [[Dedup.shingleHashTable]].
    */
  val shingleCtes: String =
    s"""tk AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
       |sh0 AS (SELECT id, unnest(CASE WHEN len(toks)>=5 THEN list_transform(range(1, len(toks)-3), i -> array_to_string(toks[i:i+4],' ')) ELSE [] END) AS shingle FROM tk),
       |shh AS (SELECT DISTINCT id, ${h32("shingle")} AS sh FROM sh0)""".stripMargin

  /** Recursive transitive closure of the 0.5-jaccard pair graph with a
    * final `clusters(id, cluster_id)` CTE — shared by the clustering and
    * survivor-policy oracles.
    */
  val closureCtes: String =
    s"""$shingleCtes,
       |filt AS (SELECT id, sh FROM (SELECT id, sh, count(*) OVER (PARTITION BY sh) AS df FROM shh) WHERE df <= 1000),
       |cnt AS (SELECT id, count(*) AS n_sh FROM shh GROUP BY 1),
       |com AS (SELECT a.id AS ia, b.id AS ib, count(*) AS nc FROM filt a JOIN filt b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
       |p AS (SELECT ia, ib FROM com JOIN cnt ca ON ia = ca.id JOIN cnt cb ON ib = cb.id
       |      WHERE CAST(nc AS DOUBLE)/(ca.n_sh + cb.n_sh - nc) >= 0.5),
       |e AS (SELECT ia AS src, ib AS dst FROM p UNION SELECT ib, ia FROM p),
       |reach AS (SELECT src AS id, src AS r FROM e UNION SELECT e.src, reach.r FROM e JOIN reach ON e.dst = reach.id),
       |clusters AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)""".stripMargin

  /** Bernoulli-NB train+score CTEs ending in
    * `scored(id, label, class, log_post, posterior)` — matches
    * [[graft.text.NaiveBayes.bernoulliNb]] on the length-bucket label;
    * shared by the q_nb and q_label_noise oracles.
    */
  val nbScoredCtes: String =
    """base AS (SELECT doc_id AS id, CASE WHEN n_chars >= 300 THEN 'long' ELSE 'short' END AS label,
      |    list_distinct(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '')) AS ws FROM documents),
      |pres AS (SELECT id, label, unnest(ws) AS w FROM base),
      |cls AS (SELECT label, count(*) AS nc FROM base GROUP BY 1),
      |tot AS (SELECT count(*) AS n FROM base),
      |voc AS (SELECT DISTINCT w FROM pres),
      |wcn AS (SELECT w, label, count(*) AS dw FROM pres GROUP BY 1, 2),
      |grid AS (SELECT voc.w, cls.label AS class, cls.nc, coalesce(wcn.dw, 0) AS dw
      |  FROM voc CROSS JOIN cls LEFT JOIN wcn ON wcn.w = voc.w AND wcn.label = cls.label),
      |pp AS (SELECT w, class,
      |    (CAST(dw AS DOUBLE) + CAST(1 AS DOUBLE)) / (CAST(nc AS DOUBLE) + CAST(2 AS DOUBLE)) AS p FROM grid),
      |model AS (SELECT w, class,
      |    floor((ln(p) - ln(CAST(1 AS DOUBLE) - p)) * 1000000 + 0.5) / 1000000 AS wt,
      |    floor(ln(CAST(1 AS DOUBLE) - p) * 1000000 + 0.5) / 1000000 AS l1p FROM pp),
      |cc AS (SELECT class, CAST(sum(CAST(l1p AS DECIMAL(38,6))) AS DOUBLE) AS s FROM model GROUP BY 1),
      |cconst AS (SELECT cc.class, s + ln(CAST(nc AS DOUBLE) / CAST(n AS DOUBLE)) AS cst
      |  FROM cc JOIN cls ON cc.class = cls.label, tot),
      |dc AS (SELECT p.id, p.label, m.class, CAST(sum(CAST(m.wt AS DECIMAL(38,6))) AS DOUBLE) AS mm
      |  FROM pres p JOIN model m ON p.w = m.w GROUP BY 1, 2, 3),
      |lp AS (SELECT id, label, dc.class, floor((cst + mm) * 1000000 + 0.5) / 1000000 AS log_post
      |  FROM dc JOIN cconst ON dc.class = cconst.class),
      |sm AS (SELECT *, max(log_post) OVER (PARTITION BY id) AS mx FROM lp),
      |e AS (SELECT *, floor(exp(log_post - mx) * 1000000 + 0.5) / 1000000 AS ee FROM sm),
      |dn AS (SELECT *, CAST(sum(CAST(ee AS DECIMAL(38,6))) OVER (PARTITION BY id) AS DOUBLE) AS den FROM e),
      |scored AS (SELECT id, label, class, log_post, floor(ee / den * 1000000 + 0.5) / 1000000 AS posterior FROM dn)""".stripMargin

  /** md5-derived 32-bit hash (matches [[TextFunctions.md5Hash32]]). */
  def h32(expr: String): String =
    s"CAST(concat('0x', substr(md5($expr),1,8)) AS BIGINT)"

  /** The lang-ID detection SELECT (doc_id, lang_pred), DuckDB dialect —
    * shared by the q_lang_id oracle and the q_kappa agreement oracle
    * (which nests it as a CTE body; DuckDB accepts WITH inside a CTE).
    */
  def langIdSelectSql: String =
    s"""WITH t AS (SELECT doc_id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
       |h AS (SELECT doc_id, $langHitColsSql FROM t)
       |SELECT doc_id, $langPredSql AS lang_pred FROM h""".stripMargin

  val stopwordSqlLists: Map[String, String] =
    TextFunctions.Stopwords.toMap.map { case (l, ws) => l -> ws.map(w => s"'$w'").mkString("[", ",", "]") }

  /** Every language's stopwords, deduplicated, as one DuckDB list literal. */
  val allStopwordsSql: String =
    TextFunctions.Stopwords.flatMap(_._2).distinct.map(w => s"'$w'").mkString("[", ",", "]")

  private val langs = TextFunctions.Stopwords.map(_._1)

  /** Stopword hits per language, columns `h_<lang>`, over a `toks` word list. */
  val langHitColsSql: String = langs
    .map(l => s"len(list_filter(toks, x -> list_contains(${stopwordSqlLists(l)}, x))) AS h_$l")
    .mkString(", ")

  /** The language [[TextFunctions.langId]] picks from the `h_<lang>` columns:
    * most hits, the first language on a tie, 'und' when none hit.
    */
  val langPredSql: String = {
    val best = s"greatest(${langs.map(l => s"h_$l").mkString(", ")})"
    val pick = langs.map(l => s"WHEN h_$l = $best THEN '$l'").mkString(" ")
    s"CASE WHEN $best = 0 THEN 'und' $pick ELSE 'und' END"
  }

  /** Quantile probes shared by the q_quantiles Spark call and oracle. */
  val QuantilePs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
}
