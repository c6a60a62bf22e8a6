package graft
package registry

import graft.dedup.Dedup
import graft.operators._
import graft.pipeline.{Curation, Influence, Labels, Packing, Sampling, Selection, Splits}
import graft.text.{Chunker, TextFunctions}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators: sampling, selection, packing,
  * curation, splits, labels, influence and mixture allocation.
  */
object PipelineQueries {
  import Shared._

  /** Mixture weights shared by the q_mixture Spark call and its oracle
    * VALUES list. Sources absent here are dropped (weight 0).
    */
  private val MixtureWeights: Map[String, Double] =
    Map("src0" -> 0.30, "src1" -> 0.20, "src2" -> 0.15, "src3" -> 0.05)

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_sample_det",
      (s, dir) =>
        Sampling
          .deterministicSample(docs(s, dir), "doc_id", frac = 0.3, seed = "s42")
          .select(col("doc_id"), col("lang")),
      // md5-threshold sampling: hash space mod 1e6, keep below frac*1e6
      Some(s"""SELECT doc_id, lang FROM documents
           |WHERE ${h32("concat('s42','|',CAST(doc_id AS VARCHAR))")} % 1000000 < 300000""".stripMargin)),

    QueryDef("q_sample_n",
      (s, dir) =>
        Sampling
          .deterministicSampleN(docs(s, dir), "doc_id", n = 100, seed = "s42")
          .select(col("doc_id"), col("lang")),
      Some(s"""SELECT doc_id, lang FROM documents
           |ORDER BY ${h32("concat('s42','|',CAST(doc_id AS VARCHAR))")}, doc_id LIMIT 100""".stripMargin)),

    QueryDef("q_sample_strat",
      (s, dir) =>
        Sampling
          .stratifiedSample(docs(s, dir), "doc_id", "lang",
            fracs = Map("en" -> 0.1, "de" -> 1.0), defaultFrac = 0.5, seed = "s42")
          .select(col("doc_id"), col("lang")),
      Some(s"""SELECT doc_id, lang FROM documents
           |WHERE ${h32("concat('s42','|',CAST(doc_id AS VARCHAR))")} % 1000000 <
           |  CASE WHEN lang = 'en' THEN 100000 WHEN lang = 'de' THEN 1000000 ELSE 500000 END""".stripMargin)),

    QueryDef("q_topk_per_group",
      (s, dir) =>
        Selection
          .topKPerGroup(docs(s, dir), Seq("lang", "source"), "n_chars", k = 3, tieBreakCol = "doc_id")
          .select(col("lang"), col("source"), col("doc_id"), col("n_chars"), col("rank")),
      Some("""SELECT lang, source, doc_id, n_chars, "rank" FROM (
          |  SELECT lang, source, doc_id, n_chars,
          |    CAST(row_number() OVER (PARTITION BY lang, source ORDER BY n_chars DESC, doc_id) AS BIGINT) AS "rank"
          |  FROM documents)
          |WHERE "rank" <= 3""".stripMargin)),

    QueryDef("q_curation",
      { (s, dir) =>
        import graft.pipeline.Curation
        Curation
          .curate(docs(s, dir), Curation.CurationConfig(
            minQuality = 0.3, keepLanguages = Set("en"), dedupThreshold = 0.8,
            shingleSize = 5, sampleFrac = 0.5, sampleSeed = "s42"))
          .select(col("doc_id"), col("lang"))
      },
      // end-to-end curation: quality >= 0.3, lang 'en', greedy near-dup
      // removal (exact fp + jaccard >= 0.8 on the FILTERED set), then a
      // 50% deterministic sample — same stage order as Curation.curate
      Some(s"""WITH t0 AS (SELECT doc_id, text, lang, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
           |q AS (SELECT doc_id,
           |  floor((0.4*least(CAST(len(toks) AS DOUBLE)/100.0, 1.0)
           |    + 0.3*least(floor((CAST(len(list_filter(toks, x -> list_contains($allStopwordsSql, x))) AS DOUBLE)/greatest(len(toks),1)) * 1000000 + 0.5) / 1000000*5.0, 1.0)
           |    + 0.2*(CASE WHEN floor((CAST(len(regexp_replace(lower(text),'[^a-z]','','g')) AS DOUBLE)/greatest(len(toks),1)) * 1000000 + 0.5) / 1000000 BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
           |    + 0.1*(1.0 - least(floor((CAST(len(regexp_replace(text,'[^.!?,;:]','','g')) AS DOUBLE)/greatest(len(text),1)) * 1000000 + 0.5) / 1000000*5.0, 1.0))) * 1000000 + 0.5) / 1000000 AS score,
           |  $langPredSql AS lang_pred
           |  FROM (SELECT doc_id, text, $langHitColsSql, toks FROM t0) base
           |),
           |kept AS (SELECT t0.doc_id, t0.text, t0.lang, t0.toks FROM t0 JOIN q USING (doc_id)
           |         WHERE q.score >= 0.3 AND q.lang_pred = 'en'),
           |fpv AS (SELECT doc_id FROM (
           |  SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(lower(text),'[^a-z0-9]+',' ','g')))) AS canon
           |  FROM kept) WHERE doc_id <> canon),
           |sh0 AS (SELECT doc_id AS id, unnest(CASE WHEN len(toks)>=5 THEN list_transform(range(1, len(toks)-3), i -> array_to_string(toks[i:i+4],' ')) ELSE [] END) AS shingle FROM kept),
           |shh AS (SELECT DISTINCT id, ${h32("shingle")} AS sh FROM sh0),
           |filt AS (SELECT id, sh FROM (SELECT id, sh, count(*) OVER (PARTITION BY sh) AS df FROM shh) WHERE df <= 1000),
           |cnt AS (SELECT id, count(*) AS n_sh FROM shh GROUP BY 1),
           |com AS (SELECT a.id AS ia, b.id AS ib, count(*) AS nc FROM filt a JOIN filt b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
           |jv AS (SELECT DISTINCT ib AS doc_id FROM com JOIN cnt ca ON ia = ca.id JOIN cnt cb ON ib = cb.id
           |       WHERE CAST(nc AS DOUBLE)/(ca.n_sh + cb.n_sh - nc) >= 0.8)
           |SELECT doc_id, lang FROM kept
           |WHERE doc_id NOT IN (SELECT doc_id FROM fpv)
           |  AND doc_id NOT IN (SELECT doc_id FROM jv)
           |  AND ${h32("concat('s42','|',CAST(doc_id AS VARCHAR))")} % 1000000 < 500000""".stripMargin)),

    QueryDef("q_pack_text",
      (s, dir) =>
        Packing
          .materializePacks(
            docs(s, dir).select(col("doc_id"), col("text"),
              TextFunctions.whitespaceTokenCount(col("text")).cast("long").as("ntok")),
            "doc_id", "text", "ntok", budgetTokens = 2000, nShards = 8)
          .select(col("shard"), col("bin"), col("text"), col("n_tokens")),
      Some(s"""WITH tc AS (SELECT doc_id, text,
           |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x<>'')) AS BIGINT) AS ntok,
           |    ${h32("CAST(doc_id AS VARCHAR)")} % 8 AS shard
           |  FROM documents),
           |b AS (SELECT doc_id, text, ntok, shard,
           |  CAST(floor(coalesce(sum(greatest(ntok, 1)) OVER (PARTITION BY shard ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0) AS BIGINT) AS bin
           |FROM tc)
           |SELECT shard, bin, string_agg(text, '<|eod|>' ORDER BY doc_id) AS text,
           |  CAST(sum(ntok) AS BIGINT) AS n_tokens
           |FROM b GROUP BY 1, 2""".stripMargin)),

    // leakage-proof splits: every near-dup cluster rides one die roll
    QueryDef("q_split_groupaware",
      { (s, dir) =>
        val d = docs(s, dir)
        val clusters = Dedup
          .connectedComponents(Dedup.ngramJaccardPairs(d, threshold = 0.5, n = 5, maxDocFreq = 1000))
          .select(col("id"), col("label").as("cluster_id"))
        graft.pipeline.Splits
          .groupAwareSplit(d, clusters, Seq("train" -> 8, "val" -> 1, "test" -> 1))
          .select(col("doc_id"), col("split"))
      },
      // split by the hash of the cluster representative (singletons: own id)
      Some(s"""WITH RECURSIVE $closureCtes,
           |rep AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep
           |  FROM documents d LEFT JOIN clusters c ON d.doc_id = c.id),
           |h AS (SELECT doc_id, ${h32("concat('split','|',CAST(rep AS VARCHAR))")} % 10 AS h FROM rep)
           |SELECT doc_id, CASE WHEN h < 8 THEN 'train' WHEN h < 9 THEN 'val' ELSE 'test' END AS split
           |FROM h""".stripMargin)),

    // per-source corpus data card (volume/quality/lang-mix/dup rate)
    QueryDef("q_corpus_report",
      (s, dir) =>
        graft.pipeline.CorpusReport.report(docs(s, dir))
          .select(col("source"), col("n_docs"),
            graft.functions.Portable.r6(col("mean_chars")).as("mean_chars"),
            graft.functions.Portable.r6(col("mean_quality")).as("mean_quality"),
            graft.functions.Portable.r6(col("lang_entropy")).as("lang_entropy"),
            graft.functions.Portable.r6(col("dup_rate")).as("dup_rate")),
      Some(s"""WITH t0 AS (SELECT doc_id, source, text, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
           |q AS (SELECT doc_id,
           |  floor((0.4*least(CAST(len(toks) AS DOUBLE)/100.0, 1.0)
           |    + 0.3*least(floor((CAST(len(list_filter(toks, x -> list_contains($allStopwordsSql, x))) AS DOUBLE)/greatest(len(toks),1)) * 1000000 + 0.5) / 1000000*5.0, 1.0)
           |    + 0.2*(CASE WHEN floor((CAST(len(regexp_replace(lower(text),'[^a-z]','','g')) AS DOUBLE)/greatest(len(toks),1)) * 1000000 + 0.5) / 1000000 BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
           |    + 0.1*(1.0 - least(floor((CAST(len(regexp_replace(text,'[^.!?,;:]','','g')) AS DOUBLE)/greatest(len(text),1)) * 1000000 + 0.5) / 1000000*5.0, 1.0))) * 1000000 + 0.5) / 1000000 AS score,
           |  $langPredSql AS lang_pred
           |  FROM (SELECT doc_id, text, $langHitColsSql, toks FROM t0) base),
           |b AS (SELECT t0.source, t0.doc_id, CAST(len(t0.text) AS BIGINT) AS n_chars, q.score, q.lang_pred,
           |    md5(trim(regexp_replace(lower(t0.text), '[^a-z0-9]+', ' ', 'g'))) AS fp
           |  FROM t0 JOIN q USING (doc_id)),
           |stats AS (SELECT source, count(*) AS n_docs,
           |    CAST(coalesce(sum(CAST(n_chars AS DECIMAL(38,6))), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_chars,
           |    CAST(coalesce(sum(CAST(score AS DECIMAL(38,6))), 0) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_quality
           |  FROM b GROUP BY 1),
           |lc AS (SELECT source, lang_pred, count(*) AS c FROM b GROUP BY 1, 2),
           |ent AS (SELECT source,
           |    ln(CAST(sum(c) AS DOUBLE)) - CAST(sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS lang_entropy
           |  FROM lc GROUP BY 1),
           |dup AS (SELECT source, CAST(sum(vict) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS dup_rate FROM (
           |    SELECT source, CASE WHEN doc_id <> min(doc_id) OVER (PARTITION BY fp) THEN 1 ELSE 0 END AS vict FROM b)
           |  GROUP BY 1)
           |SELECT source, n_docs,
           |  ${graft.functions.Portable.r6Sql("mean_chars")} AS mean_chars,
           |  ${graft.functions.Portable.r6Sql("mean_quality")} AS mean_quality,
           |  ${graft.functions.Portable.r6Sql("lang_entropy")} AS lang_entropy,
           |  ${graft.functions.Portable.r6Sql("dup_rate")} AS dup_rate
           |FROM stats JOIN ent USING (source) JOIN dup USING (source)""".stripMargin)),

    QueryDef("q_pack",
      (s, dir) =>
        Packing
          .packByTokenBudget(
            docs(s, dir).select(col("doc_id"),
              TextFunctions.whitespaceTokenCount(col("text")).cast("long").as("ntok")),
            "doc_id", "ntok", budgetTokens = 2000, nShards = 8)
          .select(col("doc_id"), col("ntok"), col("shard"), col("bin")),
      Some(s"""WITH tc AS (SELECT doc_id,
           |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x<>'')) AS BIGINT) AS ntok,
           |    ${h32("CAST(doc_id AS VARCHAR)")} % 8 AS shard
           |  FROM documents)
           |SELECT doc_id, ntok, shard,
           |  CAST(floor(coalesce(sum(greatest(ntok, 1)) OVER (PARTITION BY shard ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2000.0) AS BIGINT) AS bin
           |FROM tc""".stripMargin)),

    // exactly-20-per-language deterministic cap (window per group, no
    // global sort)
    QueryDef("q_sample_pergroup",
      (s, dir) =>
        Sampling
          .deterministicNPerGroup(docs(s, dir), "doc_id", "lang", n = 20, seed = "s42")
          .select(col("doc_id"), col("lang")),
      Some(s"""SELECT doc_id, lang FROM (
           |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
           |    ORDER BY ${h32("concat('s42','|',CAST(doc_id AS VARCHAR))")}, doc_id) AS rn
           |  FROM documents) WHERE rn <= 20""".stripMargin)),

    // per-event-type value quartiles (deterministic ntile)
    QueryDef("q_ntile",
      (s, dir) =>
        Selection
          .ntilePerGroup(
            ev(s, dir).filter(col("value").isNotNull && !isnan(col("value"))),
            Seq("event_type"), "value", n = 4, tieBreakCol = "event_id")
          .select(col("event_id"), col("event_type"), col("bin")),
      Some("""SELECT event_id, event_type,
          |  CAST(ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS BIGINT) AS bin
          |FROM events WHERE value IS NOT NULL AND NOT isnan(value)""".stripMargin)),

    // per-domain quota over URLs derived from the source column: parse
    // host, cap at 10 docs per host deterministically
    QueryDef("q_domain_cap",
      (s, dir) =>
        Sampling
          .deterministicNPerGroup(
            docs(s, dir).withColumn("host",
              graft.text.UrlFunctions.host(
                concat(lit("https://"), col("source"), lit(".example.com/d/"), col("doc_id")))),
            "doc_id", "host", n = 10, seed = "s42")
          .select(col("doc_id"), col("host")),
      Some(// || not concat: DuckDB's concat SKIPS null arguments while
        // Spark's returns NULL — || propagates NULL in both engines, so
        // a NULL source yields a NULL host on both sides
        s"""WITH u AS (SELECT doc_id,
           |  lower(regexp_extract('https://' || source || '.example.com/d/' || CAST(doc_id AS VARCHAR),
           |    '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)) AS host
           |  FROM documents)
           |SELECT doc_id, host FROM (
           |  SELECT doc_id, host, row_number() OVER (PARTITION BY host
           |    ORDER BY ${h32("concat('s42','|',CAST(doc_id AS VARCHAR))")}, doc_id) AS rn
           |  FROM u) WHERE rn <= 10""".stripMargin)),

    // data mixing: target source proportions under a 60-row budget,
    // membership a pure (seed, id) hash filter
    QueryDef("q_mixture",
      (s, dir) =>
        Sampling
          .mixtureSample(docs(s, dir), "source", "doc_id", MixtureWeights,
            totalBudget = 60, seed = "m42")
          .select(col("doc_id"), col("source")),
      Some {
        val values = MixtureWeights.toSeq.sorted
          .map { case (s, w) => s"('$s', CAST($w AS DOUBLE))" }.mkString(", ")
        s"""WITH w(source, w) AS (VALUES $values),
           |n AS (SELECT source, count(*) AS n FROM documents GROUP BY 1)
           |SELECT doc_id, source FROM documents JOIN n USING (source) JOIN w USING (source)
           |WHERE ${h32("concat('m42','|',CAST(doc_id AS VARCHAR))")} % 1000000
           |  < CAST(round(least(1.0, 60 * w / n) * 1000000) AS BIGINT)""".stripMargin
      }),

    // composed training-data ASSEMBLY: mixture-sample to target source
    // proportions → sliding-window chunking → token-budget packing, one
    // lazy plan end-to-end (the round-4 twin of q_curation/q_meds_pipeline)
    QueryDef("q_assembly",
      { (s, dir) =>
        val mixed = Sampling.mixtureSample(docs(s, dir), "source", "doc_id",
          MixtureWeights, totalBudget = 120, seed = "a42")
        val chunks = Chunker
          .chunkByTokens(mixed, "doc_id", "text", chunkTokens = 30, overlapTokens = 10)
          .withColumn("cid", col("doc_id") * 100 + col("chunk_seq"))
        Packing
          .packByTokenBudget(
            chunks.select(col("cid"), col("doc_id"), col("chunk_seq"), col("n_tokens")),
            "cid", "n_tokens", budgetTokens = 500, nShards = 4)
          .select(col("doc_id"), col("chunk_seq"), col("n_tokens"), col("shard"), col("bin"))
      },
      Some {
        val values = MixtureWeights.toSeq.sorted
          .map { case (s, w) => s"('$s', CAST($w AS DOUBLE))" }.mkString(", ")
        s"""WITH w(source, w) AS (VALUES $values),
           |cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
           |m AS (SELECT doc_id, text FROM documents JOIN cnt USING (source) JOIN w USING (source)
           |  WHERE ${h32("concat('a42','|',CAST(doc_id AS VARCHAR))")} % 1000000
           |    < CAST(round(least(1.0, 120 * w / n) * 1000000) AS BIGINT)),
           |d AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts FROM m),
           |nn AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS L FROM d WHERE len(ts) > 0),
           |c AS (SELECT doc_id, L,
           |    unnest(range(0, CASE WHEN L <= 30 THEN 1 ELSE (L - 30 + 19) // 20 + 1 END)) AS chunk_seq
           |  FROM nn),
           |ch AS (SELECT doc_id, chunk_seq, least(L - chunk_seq*20, 30) AS n_tokens,
           |       doc_id*100 + chunk_seq AS cid FROM c),
           |tc AS (SELECT *, ${h32("CAST(cid AS VARCHAR)")} % 4 AS shard FROM ch)
           |SELECT doc_id, chunk_seq, n_tokens, shard,
           |  CAST(floor(coalesce(sum(greatest(n_tokens, 1)) OVER (PARTITION BY shard ORDER BY cid
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 500.0) AS BIGINT) AS bin
           |FROM tc""".stripMargin
      }),

    // deterministic weighted sample (priority sampling): 100 docs,
    // inclusion odds proportional to n_chars; TakeOrderedAndProject
    QueryDef("q_sample_weighted",
      (s, dir) =>
        Sampling
          .weightedSampleN(docs(s, dir), "doc_id", "n_chars", 100, "w42")
          .select(col("doc_id"), col("n_chars")),
      Some(s"""WITH p AS (SELECT doc_id, n_chars,
           |  CAST(n_chars AS DOUBLE) /
           |    ((${h32("concat('w42','|',CAST(doc_id AS VARCHAR))")} % 1000000 + 1) / 1000001.0) AS pri
           |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
           |SELECT doc_id, n_chars FROM p ORDER BY pri DESC, doc_id LIMIT 100""".stripMargin)),

    // DSIR-style importance weights: target slice = lang 'en'
    QueryDef("q_dsir",
      (s, dir) =>
        graft.text.Importance
          .importanceScore(docs(s, dir), "doc_id", "text", col("lang") === "en")
          .select(col("id").as("doc_id"), col("n_tokens"),
            graft.functions.Portable.r6(col("llr")).as("llr")),
      Some("""WITH t AS (SELECT doc_id, (lang = 'en') AS tgt, unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '')) AS term FROM documents),
          |c AS (SELECT term, count(*) AS nc, count(CASE WHEN tgt THEN 1 END) AS nt FROM t GROUP BY 1),
          |tot AS (SELECT sum(nc) AS tc, sum(nt) AS tt, count(*) AS v FROM c),
          |r AS (SELECT term,
          |  ln(CAST(nt + 1 AS DOUBLE) / CAST(tt + v AS DOUBLE)) -
          |  ln(CAST(nc + 1 AS DOUBLE) / CAST(tc + v AS DOUBLE)) AS lr FROM c, tot)
          |SELECT doc_id, count(*) AS n_tokens,
          |  floor((CAST(sum(CAST(lr AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS llr
          |FROM t JOIN r USING (term) GROUP BY 1""".stripMargin)),

    // budgeted selection: biggest docs per source until 4k chars each
    QueryDef("q_budget_select",
      (s, dir) =>
        Selection
          .selectUnderBudget(docs(s, dir), Seq("source"), "n_chars", "n_chars",
            4000L, "doc_id")
          .select(col("doc_id"), col("source"), col("n_chars")),
      Some("""SELECT doc_id, source, n_chars FROM (
          |  SELECT doc_id, source, n_chars,
          |    sum(n_chars) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id
          |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |  FROM documents)
          |WHERE cum <= 4000""".stripMargin)),

    // composed targeted selection: DSIR score -> target-like filter ->
    // per-source budget fill, one lazy plan (composition twin of
    // q_curation / q_assembly with the round-4 scoring ops)
    QueryDef("q_select_pipeline",
      (s, dir) =>
        Curation
          .selectTargetLike(docs(s, dir), col("lang") === "en",
            minLlr = 0.0, budgetPerSource = 1500L)
          .select(col("doc_id"), col("source"), col("n_chars"),
            graft.functions.Portable.r6(col("llr")).as("llr")),
      Some("""WITH t AS (SELECT doc_id, (lang = 'en') AS tgt, unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '')) AS term FROM documents),
          |c AS (SELECT term, count(*) AS nc, count(CASE WHEN tgt THEN 1 END) AS nt FROM t GROUP BY 1),
          |tot AS (SELECT sum(nc) AS tc, sum(nt) AS tt, count(*) AS v FROM c),
          |r AS (SELECT term,
          |  ln(CAST(nt + 1 AS DOUBLE) / CAST(tt + v AS DOUBLE)) -
          |  ln(CAST(nc + 1 AS DOUBLE) / CAST(tc + v AS DOUBLE)) AS lr FROM c, tot),
          |sc AS (SELECT doc_id,
          |  CAST(sum(CAST(lr AS DECIMAL(38,12))) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS llr
          |  FROM t JOIN r USING (term) GROUP BY 1),
          |j AS (SELECT d.doc_id, d.source, d.n_chars,
          |        floor(llr * 1000000 + 0.5) / 1000000 AS llr
          |      FROM documents d JOIN sc USING (doc_id)
          |      WHERE floor(llr * 1000000 + 0.5) / 1000000 > 0.0),
          |w AS (SELECT *, sum(n_chars) OVER (PARTITION BY source ORDER BY llr DESC, doc_id
          |                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          |      FROM j)
          |SELECT doc_id, source, n_chars, llr
          |FROM w WHERE cum <= 1500""".stripMargin)),

    // equi-depth histogram: per-language quartile bins of doc size
    QueryDef("q_eqdepth",
      (s, dir) =>
        Selection
          .ntilePerGroup(docs(s, dir), Seq("lang"), "n_chars", n = 4, tieBreakCol = "doc_id")
          .groupBy(col("lang"), col("bin"))
          .agg(count(lit(1)).as("n"), min(col("n_chars")).as("lo"),
            max(col("n_chars")).as("hi")),
      Some("""WITH b AS (SELECT lang, n_chars,
          |    CAST(ntile(4) OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS BIGINT) AS bin
          |  FROM documents)
          |SELECT lang, bin, count(*) AS n, min(n_chars) AS lo, max(n_chars) AS hi
          |FROM b GROUP BY 1, 2""".stripMargin)),

    // temperature-scaled (alpha = 0.5) per-source mixture weights
    QueryDef("q_temperature_mix",
      (s, dir) =>
        Sampling.temperatureWeights(docs(s, dir), "source", "n_chars", alpha = 0.5)
          .select(col("source"), col("n_rows"),
            col("size_total").cast("long").as("size_total"),
            graft.functions.Portable.r6(col("weight")).as("weight"),
            graft.functions.Portable.r6(col("epochs")).as("epochs")),
      Some("""WITH g AS (SELECT source, count(*) AS n_rows,
          |        CAST(coalesce(sum(CAST(n_chars AS DECIMAL(38,6))), 0) AS DOUBLE) AS sz
          |      FROM documents GROUP BY 1),
          |s AS (SELECT source, n_rows, sz, floor(sqrt(sz) * 1000000 + 0.5) / 1000000 AS sc FROM g),
          |t AS (SELECT CAST(sum(CAST(sc AS DECIMAL(38,6))) AS DOUBLE) AS tot,
          |             CAST(sum(CAST(sz AS DECIMAL(38,6))) AS DOUBLE) AS grand FROM s)
          |SELECT source, n_rows, CAST(sz AS BIGINT) AS size_total,
          |  floor(sc / nullif(tot, 0.0) * 1000000 + 0.5) / 1000000 AS weight,
          |  CASE WHEN sz > 0 THEN
          |    floor(sc / nullif(tot, 0.0) * grand / sz * 1000000 + 0.5) / 1000000 END AS epochs
          |FROM s, t""".stripMargin)),

    // Pile-style token-budget epoch allocation under the mixture weights
    QueryDef("q_epoch_alloc",
      (s, dir) =>
        Sampling.epochAllocation(docs(s, dir), "source", "n_chars",
            MixtureWeights, budget = 2000000L, maxEpochs = 3.0)
          .select(col("source"), col("n_rows"), col("tokens"),
            graft.functions.Portable.r6(col("weight")).as("weight"),
            graft.functions.Portable.r6(col("target_tokens")).as("target_tokens"),
            graft.functions.Portable.r6(col("epochs")).as("epochs"),
            graft.functions.Portable.r6(col("alloc_tokens")).as("alloc_tokens"),
            graft.functions.Portable.r6(col("unspent")).as("unspent")),
      Some {
        val values = MixtureWeights.toSeq.sorted
          .map { case (s, w) => s"('$s', CAST($w AS DOUBLE))" }.mkString(", ")
        s"""WITH w(source, w0) AS (VALUES $values),
           |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
           |    CAST(coalesce(sum(CAST(n_chars AS DECIMAL(38,6))), 0) AS DOUBLE) AS tokens
           |  FROM documents GROUP BY 1),
           |j AS (SELECT g.source, n_rows, tokens,
           |    CASE WHEN tokens > 0.0 THEN coalesce(w0, 0.0) ELSE 0.0 END AS w1
           |  FROM g LEFT JOIN w ON g.source = w.source),
           |tot AS (SELECT CAST(sum(CAST(floor(w1 * 1000000 + 0.5) / 1000000
           |    AS DECIMAL(38,6))) AS DOUBLE) AS wtot FROM j),
           |f AS (SELECT source, n_rows, tokens,
           |    w1 / nullif(wtot, 0.0) AS weight,
           |    2000000.0 * (w1 / nullif(wtot, 0.0)) AS target,
           |    CASE WHEN tokens > 0.0
           |      THEN least(3.0, 2000000.0 * (w1 / nullif(wtot, 0.0)) / tokens)
           |      ELSE 0.0 END AS epochs
           |  FROM j CROSS JOIN tot)
           |SELECT source, n_rows, tokens,
           |  floor(weight * 1000000 + 0.5) / 1000000 AS weight,
           |  floor(target * 1000000 + 0.5) / 1000000 AS target_tokens,
           |  floor(epochs * 1000000 + 0.5) / 1000000 AS epochs,
           |  floor(epochs * tokens * 1000000 + 0.5) / 1000000 AS alloc_tokens,
           |  floor((coalesce(target, 0.0) - epochs * tokens) * 1000000 + 0.5) / 1000000 AS unspent
           |FROM f""".stripMargin
      }),

    // padding-minimizing length-bucketed batches of 32 per source
    QueryDef("q_length_buckets",
      (s, dir) =>
        Packing.lengthBucketBatches(docs(s, dir), "source", "doc_id", "n_chars",
            batchSize = 32)
          .select(col("by").as("source"), col("batch"), col("n"),
            col("min_len"), col("max_len"), col("sum_len"),
            graft.functions.Portable.r6(col("pad_frac")).as("pad_frac")),
      Some("""WITH r AS (SELECT source AS by, doc_id AS id, CAST(n_chars AS BIGINT) AS len,
          |    row_number() OVER (PARTITION BY source ORDER BY CAST(n_chars AS BIGINT), doc_id) AS rk
          |  FROM documents WHERE n_chars IS NOT NULL AND doc_id IS NOT NULL),
          |b AS (SELECT by, CAST(floor(CAST(rk - 1 AS DOUBLE) / 32.0) AS BIGINT) AS batch, len FROM r),
          |g AS (SELECT by, batch, CAST(count(*) AS BIGINT) AS n,
          |    CAST(min(len) AS BIGINT) AS min_len, CAST(max(len) AS BIGINT) AS max_len,
          |    CAST(sum(len) AS BIGINT) AS sum_len
          |  FROM b GROUP BY 1, 2)
          |SELECT by AS source, batch, n, min_len, max_len, sum_len,
          |  CASE WHEN max_len > 0 THEN
          |    floor((1.0 - CAST(sum_len AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(max_len AS DOUBLE)))
          |      * 1000000 + 0.5) / 1000000
          |  ELSE 0.0 END AS pad_frac
          |FROM g""".stripMargin)),

    // quality-vs-cost Pareto frontier over documents (cost = n_chars,
    // quality = ' the '-density per 100 chars — non-monotone in cost)
    QueryDef("q_pareto",
      (s, dir) => {
        val quality = (length(col("text")) -
          length(replace(col("text"), lit(" the "), lit("")))) / 5 *
          lit(100.0) / col("n_chars").cast("double")
        Selection.paretoFrontier(
            docs(s, dir).filter(col("n_chars") > 0 && col("text").isNotNull)
              .withColumn("quality", quality),
            "n_chars", "quality")
          .select(col("doc_id"), col("n_chars"),
            graft.functions.Portable.r6(col("quality")).as("quality"))
      },
      Some("""WITH v AS (SELECT doc_id, n_chars,
          |    (length(text) - length(replace(text, ' the ', ''))) / 5
          |      * 100.0 / CAST(n_chars AS DOUBLE) AS q
          |  FROM documents WHERE n_chars > 0 AND text IS NOT NULL),
          |pc AS (SELECT n_chars, max(q) AS q FROM v GROUP BY 1),
          |f AS (SELECT n_chars, q, max(q) OVER (ORDER BY n_chars
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM pc),
          |fr AS (SELECT n_chars, q FROM f WHERE pm IS NULL OR q > pm)
          |SELECT a.doc_id, a.n_chars, floor(a.q * 1000000 + 0.5) / 1000000 AS quality
          |FROM v a JOIN fr ON fr.n_chars = a.n_chars AND fr.q = a.q""".stripMargin)),

    // Neyman-optimal labeling-budget allocation across sources
    QueryDef("q_neyman",
      (s, dir) =>
        Sampling.neymanAllocation(docs(s, dir), "source", "n_chars", budget = 100L),
      Some(s"""WITH v AS (SELECT source, CAST(n_chars AS DOUBLE) AS x FROM documents
           |  WHERE n_chars IS NOT NULL),
           |st AS (SELECT source AS stratum, count(*) AS n,
           |    CASE WHEN count(*) > 1 THEN sqrt(greatest(0.0,
           |      (${dsum(r6("x * x"))} - ${dsum(r6("x"))} * ${dsum(r6("x"))} / CAST(count(*) AS DOUBLE))
           |        / (CAST(count(*) AS DOUBLE) - 1.0)))
           |    ELSE 0.0 END AS sd0 FROM v GROUP BY 1),
           |sg AS (SELECT stratum, n, ${r6("sd0")} AS sigma,
           |    ${r6(s"CAST(n AS DOUBLE) * ${r6("sd0")}")} AS wt FROM st),
           |tot AS (SELECT ${dsum("wt")} AS tw FROM sg),
           |al AS (SELECT sg.stratum, sg.n, sg.sigma,
           |    CASE WHEN t.tw > 0 THEN ${r6("sg.wt / t.tw")} ELSE 0.0 END AS alloc_frac
           |  FROM sg, tot t),
           |rw AS (SELECT *, 100.0 * alloc_frac AS raw,
           |    CAST(floor(100.0 * alloc_frac) AS BIGINT) AS base FROM al),
           |fr AS (SELECT *, ${r6("raw - CAST(base AS DOUBLE)")} AS fracpart FROM rw),
           |sp AS (SELECT CAST(sum(base) AS BIGINT) AS spent FROM fr)
           |SELECT stratum, CAST(n AS BIGINT) AS n, sigma, alloc_frac,
           |  least(CAST(n AS BIGINT), base + CASE WHEN
           |    row_number() OVER (ORDER BY fracpart DESC, stratum) <= 100 - sp.spent
           |    AND alloc_frac > 0
           |    THEN 1 ELSE 0 END) AS n_alloc
           |FROM fr, sp""".stripMargin)),

    // 5-fold CV of the per-source mean predictor (delete-one-block
    // closed form: no per-fold retrain pass)
    QueryDef("q_cv",
      (s, dir) =>
        Splits.kFoldGroupMeanCv(docs(s, dir), "doc_id", "source", "n_chars",
          k = 5, seed = "cv42"),
      Some(s"""WITH rws AS (SELECT source AS g,
           |    ${h32("concat('cv42', '|', CAST(doc_id AS VARCHAR))")} % 5 AS fold,
           |    CAST(n_chars AS DOUBLE) AS y FROM documents WHERE n_chars IS NOT NULL),
           |cl AS (SELECT g, fold, count(*) AS cn, ${dsum(r6("y"))} AS cs FROM rws GROUP BY 1, 2),
           |pr AS (SELECT g, fold,
           |    CASE WHEN sum(cn) OVER (PARTITION BY g) > cn THEN
           |      ${r6("(CAST(sum(CAST(cs AS DECIMAL(38,6))) OVER (PARTITION BY g) AS DOUBLE) - cs) / CAST(sum(cn) OVER (PARTITION BY g) - cn AS DOUBLE)")}
           |    END AS yhat FROM cl),
           |j AS (SELECT r.fold, r.y, p.yhat FROM rws r JOIN pr p ON r.g = p.g AND r.fold = p.fold)
           |SELECT fold, count(CASE WHEN yhat IS NOT NULL THEN 1 END) AS n_test,
           |  count(CASE WHEN yhat IS NULL THEN 1 END) AS n_skipped,
           |  ${r6(s"${dsum(s"CASE WHEN yhat IS NOT NULL THEN ${r6("abs(y - yhat)")} END")} / CAST(count(CASE WHEN yhat IS NOT NULL THEN 1 END) AS DOUBLE)")} AS mae,
           |  ${r6(s"sqrt(${dsum(s"CASE WHEN yhat IS NOT NULL THEN ${r6("(y - yhat) * (y - yhat)")} END")} / CAST(count(CASE WHEN yhat IS NOT NULL THEN 1 END) AS DOUBLE))")} AS rmse
           |FROM j GROUP BY 1""".stripMargin)),

    // leave-one-source-out influence on the corpus mean doc length —
    // which source's removal moves the corpus metric, and which way
    QueryDef("q_loo_source",
      (s, dir) =>
        Influence.leaveOneOutMean(docs(s, dir), "source", col("n_chars")),
      Some(s"""WITH g AS (SELECT source AS "group", count(*) AS n,
           |    ${dsum(r6("CAST(n_chars AS DOUBLE)"))} AS s
           |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
           |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn, coalesce(${dsum("s")}, 0.0) AS ss FROM g)
           |SELECT g."group", CAST(g.n AS BIGINT) AS n,
           |  ${r6("g.s / CAST(g.n AS DOUBLE)")} AS group_mean,
           |  ${r6("t.ss / CAST(t.nn AS DOUBLE)")} AS corpus_mean,
           |  CASE WHEN t.nn > g.n THEN ${r6("(t.ss - g.s) / CAST(t.nn - g.n AS DOUBLE)")} END AS loo_mean,
           |  CASE WHEN t.nn > g.n THEN
           |    ${r6(s"${r6("(t.ss - g.s) / CAST(t.nn - g.n AS DOUBLE)")} - ${r6("t.ss / CAST(t.nn AS DOUBLE)")}")}
           |  END AS delta
           |FROM g, t""".stripMargin)),

    // leakage-proof churn/conversion label engineering: obs window
    // [Jan 10, Jan 20), horizon [Jan 20, Jan 25)
    QueryDef("q_churn_labels",
      (s, dir) =>
        Labels.activityLabels(ev(s, dir), "user_id", "ts", "event_type", "purchase",
          cutoffUs = 1705708800000000L, obsDays = 10, horizonDays = 5),
      Some {
        val cutoff = 1705708800000000L
        val obsStart = cutoff - 10L * 86400000000L
        val horEnd = cutoff + 5L * 86400000000L
        s"""WITH e AS (SELECT user_id, epoch_us(ts) AS t, event_type FROM events WHERE ts IS NOT NULL),
           |g AS (SELECT user_id,
           |    count(CASE WHEN t >= $obsStart AND t < $cutoff THEN 1 END) AS n_obs_events,
           |    count(CASE WHEN t >= $obsStart AND t < $cutoff AND event_type = 'purchase' THEN 1 END) AS n_obs_target,
           |    CAST(count(DISTINCT CASE WHEN t >= $obsStart AND t < $cutoff
           |      THEN CAST(floor(CAST(t - $obsStart AS DOUBLE) / 86400000000.0) AS BIGINT) END) AS BIGINT) AS n_active_days,
           |    max(CASE WHEN t >= $obsStart AND t < $cutoff THEN t END) AS last_t,
           |    count(CASE WHEN t >= $cutoff AND t < $horEnd THEN 1 END) > 0 AS label_active,
           |    count(CASE WHEN t >= $cutoff AND t < $horEnd AND event_type = 'purchase' THEN 1 END) > 0 AS label_target
           |  FROM e GROUP BY 1)
           |SELECT user_id, n_obs_events, n_obs_target, n_active_days,
           |  ${r6(s"CAST($cutoff - last_t AS DOUBLE) / 3600000000.0")} AS recency_hours,
           |  label_active, label_target
           |FROM g WHERE n_obs_events > 0""".stripMargin
      }),

    // IPF raking: weight an md5 subsample so its lang AND source
    // marginals both match the full corpus
    QueryDef("q_rake_weights",
      (s, dir) => {
        val d = docs(s, dir)
        val sample = d.filter(TextFunctions.md5Hash32(
          concat(lit("rk:"), col("doc_id").cast("string"))) % 10 < 3)
        Sampling.rakeWeights(sample, d, "lang", "source", iters = 5)
      },
      Some {
        def step(k: Int, prev: String, axis: String, target: String): String =
          s"""ms$k AS (SELECT $axis, ${dsum(r6("weight * CAST(n AS DOUBLE)"))} AS mass
             |  FROM $prev GROUP BY 1),
             |tt$k AS (SELECT coalesce(${dsum(r6("weight * CAST(n AS DOUBLE)"))}, 0.0) AS tm FROM $prev),
             |c$k AS MATERIALIZED (SELECT p.a, p.b, p.n, p.ta, p.tb,
             |    CASE WHEN ${r6("m.mass / t.tm")} > 0
             |      THEN ${r6(s"p.weight * ${r6(s"p.$target / (${r6("m.mass / t.tm")})")}")}
             |      ELSE 0.0 END AS weight
             |  FROM $prev p JOIN ms$k m ON p.$axis = m.$axis, tt$k t)""".stripMargin
        val steps = (0 until 5).flatMap { i =>
          val ka = 2 * i + 1; val kb = 2 * i + 2
          val prevA = if (i == 0) "c0" else s"c${2 * i}"
          Seq(step(ka, prevA, "a", "ta"), step(kb, s"c$ka", "b", "tb"))
        }
        s"""WITH smp AS (SELECT CAST(lang AS VARCHAR) AS a, CAST(source AS VARCHAR) AS b FROM documents
           |  WHERE ${h32("concat('rk:', CAST(doc_id AS VARCHAR))")} % 10 < 3),
           |pa AS (SELECT CAST(lang AS VARCHAR) AS a, count(*) AS cnt FROM documents GROUP BY 1),
           |paT AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM pa),
           |tas AS (SELECT a, ${r6("CAST(cnt AS DOUBLE) / CAST(t.t AS DOUBLE)")} AS ta FROM pa, paT t),
           |pb AS (SELECT CAST(source AS VARCHAR) AS b, count(*) AS cnt FROM documents GROUP BY 1),
           |pbT AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM pb),
           |tbs AS (SELECT b, ${r6("CAST(cnt AS DOUBLE) / CAST(t.t AS DOUBLE)")} AS tb FROM pb, pbT t),
           |c0 AS MATERIALIZED (SELECT s.a, s.b, count(*) AS n,
           |    coalesce(any_value(tas.ta), 0.0) AS ta, coalesce(any_value(tbs.tb), 0.0) AS tb,
           |    CAST(1.0 AS DOUBLE) AS weight
           |  FROM smp s LEFT JOIN tas ON s.a = tas.a LEFT JOIN tbs ON s.b = tbs.b
           |  GROUP BY 1, 2),
           |${steps.mkString(",\n")}
           |SELECT a, b, n, weight FROM c10""".stripMargin
      }),

    // curriculum interleave: easy->hard per source, round-robin across
    // sources, closed-form global position (no global sort)
    QueryDef("q_curriculum",
      (s, dir) =>
        Selection.curriculumInterleave(
          docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
          "source", "n_chars", "doc_id"),
      Some("""WITH g AS (SELECT source, CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS gi
          |  FROM (SELECT DISTINCT source FROM documents)),
          |n AS (SELECT CAST(count(*) AS BIGINT) AS ng FROM g),
          |r AS (SELECT doc_id, source, n_chars,
          |    CAST(row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) - 1 AS BIGINT) AS rk
          |  FROM documents)
          |SELECT r.doc_id, r.source, r.n_chars, rk AS rank_in_group,
          |  CAST(rk * ng + gi AS BIGINT) AS global_pos
          |FROM r JOIN g USING (source), n""".stripMargin)),

    // deterministic balanced downsampling: every lang capped at the
    // smallest lang's size by seeded hash rank
    QueryDef("q_class_balance",
      (s, dir) =>
        Sampling.balanceClasses(
          docs(s, dir).select(col("doc_id"), col("lang")), "lang", "doc_id",
          seed = "bal9"),
      Some(s"""WITH b AS (SELECT doc_id, lang FROM documents WHERE lang IS NOT NULL),
           |n AS (SELECT min(cnt) AS nmin FROM (SELECT count(*) AS cnt FROM b GROUP BY lang)),
           |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
           |  FROM (SELECT doc_id, lang,
           |          ${h32("concat('bal9', '|', CAST(doc_id AS VARCHAR))")} AS h FROM b))
           |SELECT doc_id, lang FROM r, n WHERE rn <= nmin""".stripMargin))
  )
}
