package graft
package registry

import graft.operators._
import graft.text.{Bm25, Chunker, Collocations, InvertedIndex, TextFunctions, Tfidf, WordVocab}
import org.apache.spark.sql.functions._

/** Text operators: language ID, quality rules, PII, tokens and vocabularies,
  * n-gram language models, BM25 retrieval and its evaluation, keywords and
  * lexical statistics.
  */
object TextQueries {
  import Shared._

  /** Decomposed-accent + uppercase suffix for the unicode-normalization
    * query: "Cafe" + U+0301 combining acute, so NFC has real composition
    * work to do. Shared verbatim by the Spark literal and the oracle SQL.
    */
  private val normSuffix = " Café FILE"

  /** Unrolled BPE-merge oracle (round-10 verdict item: the former
    * rows-only check now hash-verifies every merge round). Symbol
    * arrays ride as "(s)(s)…" strings so DuckDB's left-to-right
    * non-overlapping `replace` IS [[graft.text.Bpe.mergeOnce]]'s
    * leftmost-greedy fold ("(a)(a)(a)" under (a,a) → "(aa)(a)", and
    * the per-symbol parens make cross-boundary false matches
    * impossible); each round is a MATERIALIZED pair-count + argmax +
    * rewrite CTE trio (the PageRank unrolling convention — without
    * MATERIALIZED the w-chain re-evaluates exponentially).
    */
  private def bpeMergesOracleSql(numMerges: Int): String = {
    val rounds = (1 to numMerges).map { r =>
      s"""p$r AS MATERIALIZED (SELECT p.a AS a, p.b AS b, CAST(sum(cnt) AS BIGINT) AS n FROM (
         |  SELECT unnest(list_transform(range(1, len(syms)), i -> struct_pack(a := syms[i], b := syms[i+1]))) AS p, cnt
         |  FROM (SELECT regexp_extract_all(s, '\\((.*?)\\)', 1) AS syms, cnt FROM w${r - 1})) GROUP BY 1, 2),
         |m$r AS MATERIALIZED (SELECT a, b FROM p$r ORDER BY n DESC, a, b LIMIT 1),
         |w$r AS MATERIALIZED (SELECT replace(w.s, '(' || m.a || ')(' || m.b || ')', '(' || m.a || m.b || ')') AS s, w.cnt FROM w${r - 1} w, m$r m)""".stripMargin
    }.mkString(",\n")
    val union = (1 to numMerges)
      .map(r => s"SELECT CAST(${r - 1} AS BIGINT) AS rank, a, b FROM m$r")
      .mkString("\nUNION ALL ")
    s"""WITH wc AS (SELECT word, count(*) AS cnt FROM (
       |    SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
       |    FROM documents) GROUP BY 1),
       |w0 AS MATERIALIZED (SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS s, cnt FROM wc),
       |$rounds
       |$union""".stripMargin
  }

  val all: Seq[QueryDef] = Seq(
    // sliding-window document chunking (30-token windows, 10 overlap —
    // sized so the corpus genuinely multi-chunks)
    QueryDef("q_chunk",
      (s, dir) =>
        Chunker.chunkByTokens(docs(s, dir), "doc_id", "text", chunkTokens = 30, overlapTokens = 10),
      // stride = 30 - 10 = 20; chunk k covers ts[k*20+1 .. k*20+30]
      Some("""WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts FROM documents),
          |n AS (SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS L FROM d WHERE len(ts) > 0),
          |c AS (SELECT doc_id, ts, L,
          |    unnest(range(0, CASE WHEN L <= 30 THEN 1 ELSE (L - 30 + 19) // 20 + 1 END)) AS chunk_seq
          |  FROM n)
          |SELECT doc_id, chunk_seq,
          |  array_to_string(ts[chunk_seq*20 + 1 : least(chunk_seq*20 + 30, L)], ' ') AS chunk_text,
          |  least(L - chunk_seq*20, 30) AS n_tokens
          |FROM c""".stripMargin)),

    QueryDef("q_lang_id",
      (s, dir) =>
        docs(s, dir).select(col("doc_id"), TextFunctions.langId(col("text")).as("lang_pred")),
      Some(langIdSelectSql)),

    QueryDef("q_quality",
      { (s, dir) =>
        val f = TextFunctions.qualityFeatures(col("text"))
        docs(s, dir).select(
          col("doc_id"),
          f.getField("n_chars").cast("long").as("n_chars"),
          f.getField("n_words").cast("long").as("n_words"),
          f.getField("mean_word_len").as("mean_word_len"),
          f.getField("punct_ratio").as("punct_ratio"),
          f.getField("stopword_ratio").as("stopword_ratio"),
          TextFunctions.qualityScore(col("text")).as("quality_score")
        )
      },
      Some(s"""WITH t AS (SELECT doc_id, text, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
           |f AS (SELECT doc_id,
           |  CAST(len(text) AS BIGINT) AS n_chars,
           |  CAST(len(toks) AS BIGINT) AS n_words,
           |  floor((CAST(len(regexp_replace(lower(text),'[^a-z]','','g')) AS DOUBLE)/greatest(len(toks),1)) * 1000000 + 0.5) / 1000000 AS mean_word_len,
           |  floor((CAST(len(regexp_replace(text,'[^.!?,;:]','','g')) AS DOUBLE)/greatest(len(text),1)) * 1000000 + 0.5) / 1000000 AS punct_ratio,
           |  floor((CAST(len(list_filter(toks, x -> list_contains($allStopwordsSql, x))) AS DOUBLE)/greatest(len(toks),1)) * 1000000 + 0.5) / 1000000 AS stopword_ratio
           |FROM t)
           |SELECT doc_id, n_chars, n_words, mean_word_len, punct_ratio, stopword_ratio,
           |  floor((0.4*least(CAST(n_words AS DOUBLE)/100.0, 1.0) + 0.3*least(stopword_ratio*5.0, 1.0)
           |    + 0.2*(CASE WHEN mean_word_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
           |    + 0.1*(1.0 - least(punct_ratio*5.0, 1.0))) * 1000000 + 0.5) / 1000000 AS quality_score
           |FROM f""".stripMargin)),

    QueryDef("q_gopher_rules",
      { (s, dir) =>
        val g = TextFunctions.gopherRules(col("text"))
        docs(s, dir).select(
          col("doc_id"),
          g.getField("n_words").as("n_words"),
          g.getField("mean_word_len").as("mean_word_len"),
          g.getField("symbol_ratio").as("symbol_ratio"),
          g.getField("bullet_frac").as("bullet_frac"),
          g.getField("ellipsis_frac").as("ellipsis_frac"),
          g.getField("alpha_word_frac").as("alpha_word_frac"),
          g.getField("n_stopwords").as("n_stopwords"),
          g.getField("passes").as("passes")
        )
      },
      Some {
        val stop = TextFunctions.GopherStopwords.map(w => s"'$w'").mkString("[", ",", "]")
        s"""WITH t AS (SELECT doc_id, text,
           |  list_filter(string_split_regex(text, '\\s+'), x -> x<>'') AS words,
           |  list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)), l -> l<>'') AS lines,
           |  list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks
           |  FROM documents),
           |f AS (SELECT doc_id,
           |  CAST(len(words) AS BIGINT) AS n_words,
           |  CAST(greatest(len(words),1) AS DOUBLE) AS wden,
           |  CAST(greatest(len(lines),1) AS DOUBLE) AS lden,
           |  ${r6("CAST(len(regexp_replace(text,'\\s','','g')) AS DOUBLE)/CAST(greatest(len(words),1) AS DOUBLE)")} AS mean_word_len,
           |  ${r6("CAST(len(regexp_extract_all(text,'#')) + len(regexp_extract_all(text,'\\.\\.\\.|…')) AS DOUBLE)/CAST(greatest(len(words),1) AS DOUBLE)")} AS symbol_ratio,
           |  ${r6("CAST(len(list_filter(lines, l -> regexp_matches(l,'^[-*•]'))) AS DOUBLE)/CAST(greatest(len(lines),1) AS DOUBLE)")} AS bullet_frac,
           |  ${r6("CAST(len(list_filter(lines, l -> regexp_matches(l,'(\\.\\.\\.|…)$'))) AS DOUBLE)/CAST(greatest(len(lines),1) AS DOUBLE)")} AS ellipsis_frac,
           |  ${r6("CAST(len(list_filter(words, w -> regexp_matches(w,'[A-Za-z]'))) AS DOUBLE)/CAST(greatest(len(words),1) AS DOUBLE)")} AS alpha_word_frac,
           |  CAST(len(list_filter(toks, x -> list_contains($stop, x))) AS BIGINT) AS n_stopwords
           |FROM t)
           |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac, ellipsis_frac,
           |  alpha_word_frac, n_stopwords,
           |  (n_words BETWEEN 50 AND 100000 AND mean_word_len BETWEEN 3.0 AND 10.0
           |   AND symbol_ratio < 0.1 AND bullet_frac < 0.9 AND ellipsis_frac < 0.3
           |   AND alpha_word_frac > 0.8 AND n_stopwords >= 2) AS passes
           |FROM f""".stripMargin
      }),

    QueryDef("q_c4_rules",
      { (s, dir) =>
        val c = TextFunctions.c4Rules(col("text"))
        docs(s, dir).select(
          col("doc_id"),
          c.getField("n_lines").as("n_lines"),
          c.getField("n_kept").as("n_kept"),
          c.getField("kept_frac").as("kept_frac"),
          c.getField("has_lorem").as("has_lorem"),
          c.getField("has_brace").as("has_brace"),
          c.getField("passes").as("passes")
        )
      },
      Some("""WITH t AS (SELECT doc_id, text,
          |  list_filter(list_transform(string_split(regexp_replace(text, '\r', '', 'g'), chr(10)), l -> trim(l)), l -> l<>'') AS lines
          |  FROM documents),
          |f AS (SELECT doc_id, text,
          |  CAST(len(lines) AS BIGINT) AS n_lines,
          |  CAST(len(list_filter(lines, l -> regexp_matches(l, '[.!?"]$')
          |    AND len(list_filter(string_split_regex(l, '\s+'), w -> w<>'')) >= 3)) AS BIGINT) AS n_kept
          |  FROM t)
          |SELECT doc_id, n_lines, n_kept,
          |  floor((CAST(n_kept AS DOUBLE)/CAST(greatest(n_lines,1) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS kept_frac,
          |  contains(lower(text), 'lorem ipsum') AS has_lorem,
          |  contains(text, '{') AS has_brace,
          |  (n_kept >= 5 AND NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')) AS passes
          |FROM f""".stripMargin)),

    QueryDef("q_redact_pii",
      { (s, dir) =>
        val r = TextFunctions.redactPii(col("text"))
        docs(s, dir).select(
          col("doc_id"),
          r.getField("redacted").as("redacted"),
          r.getField("n_redacted").as("n_redacted")
        )
      },
      Some("""WITH s1 AS (SELECT doc_id, text,
          |  regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
          |  FROM documents),
          |s2 AS (SELECT doc_id, text, t1,
          |  regexp_replace(t1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS t2
          |  FROM s1)
          |SELECT doc_id,
          |  regexp_replace(t2, '[0-9]{9,}', '<NUM>', 'g') AS redacted,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
          |     + len(regexp_extract_all(t1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
          |     + len(regexp_extract_all(t2, '[0-9]{9,}')) AS BIGINT) AS n_redacted
          |FROM s2""".stripMargin)),

    QueryDef("q_mojibake",
      { (s, dir) =>
        val a = TextFunctions.encodingArtifacts(col("text"))
        docs(s, dir).select(
          col("doc_id"),
          a.getField("n_replacement").as("n_replacement"),
          a.getField("n_ctrl").as("n_ctrl"),
          a.getField("n_mojibake").as("n_mojibake"),
          a.getField("artifact_frac").as("artifact_frac"),
          a.getField("is_clean").as("is_clean")
        )
      },
      Some("""WITH f AS (SELECT doc_id, len(text) AS n_chars,
          |  CAST(len(regexp_extract_all(text, '�')) AS BIGINT) AS n_replacement,
          |  CAST(len(regexp_extract_all(text, '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT) AS n_ctrl,
          |  CAST(len(regexp_extract_all(text, 'Ã[©¨¤¶¼±‰]|â€|Â[«»]')) AS BIGINT) AS n_mojibake
          |  FROM documents)
          |SELECT doc_id, n_replacement, n_ctrl, n_mojibake,
          |  floor((CAST(n_replacement + n_ctrl + n_mojibake AS DOUBLE)/CAST(greatest(n_chars,1) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS artifact_frac,
          |  (n_replacement + n_ctrl + n_mojibake = 0) AS is_clean
          |FROM f""".stripMargin)),

    QueryDef("q_token_count",
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"),
          TextFunctions.whitespaceTokenCount(col("text")).cast("long").as("n_ws_tokens"),
          TextFunctions.bpeishTokenCount(col("text")).cast("long").as("n_bpeish_tokens")
        ),
      Some("""SELECT doc_id,
          |  CAST(len(list_filter(string_split_regex(text, '\s+'), x -> x<>'')) AS BIGINT) AS n_ws_tokens,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish_tokens
          |FROM documents""".stripMargin)),

    QueryDef("q_fingerprint",
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"),
          TextFunctions.fingerprint(col("text")).as("fp"),
          TextFunctions.rollingFingerprint(col("text")).as("rolling")
        ),
      Some("""WITH n AS (SELECT doc_id, trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS s FROM documents)
          |SELECT doc_id, md5(s) AS fp,
          |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(1, len(s)+1), i -> CAST(ascii(substr(s, i, 1)) AS BIGINT))), (acc, c) -> (acc*31 + c) % 1000000007) AS rolling
          |FROM n""".stripMargin)),

    QueryDef("q_tfidf",
      (s, dir) =>
        Tfidf
          .tfidf(docs(s, dir))
          .select(col("id"), col("term"), col("tf"), graft.functions.Portable.r6(col("tfidf")).as("tfidf")),
      Some("""WITH t AS (SELECT doc_id AS id, unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'')) AS term FROM documents),
          |tf AS (SELECT id, term, count(*) AS tf FROM t GROUP BY 1, 2),
          |n AS (SELECT count(*) AS n_docs FROM documents),
          |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
          |SELECT id, term, tf, floor((tf * (ln((n_docs + 1.0)/(df + 1.0)) + 1)) * 1000000 + 0.5) / 1000000 AS tfidf
          |FROM tf JOIN idf USING (term), n""".stripMargin)),

    QueryDef("q_repetition",
      { (s, dir) =>
        val r = TextFunctions.repetitionSignals(col("text"))
        docs(s, dir).select(col("doc_id"),
          r.getField("dup_line_frac").as("dup_line_frac"),
          r.getField("dup_token_frac").as("dup_token_frac"))
      },
      Some("""WITH t AS (SELECT doc_id,
          |  list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS lines,
          |  list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks
          |FROM documents)
          |SELECT doc_id,
          |  floor((CASE WHEN len(lines) > 0 THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)/len(lines) ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS dup_line_frac,
          |  floor((CASE WHEN len(toks) > 0 THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)/len(toks) ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS dup_token_frac
          |FROM t""".stripMargin)),

    QueryDef("q_top_bigram",
      (s, dir) =>
        TextFunctions.topBigramFraction(docs(s, dir)),
      Some("""WITH t AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
          |bg AS (SELECT id, unnest(CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)), i -> array_to_string(toks[i:i+1], ' ')) ELSE [] END) AS bg FROM t),
          |c AS (SELECT id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
          |a AS (SELECT t.id, c.c FROM t LEFT JOIN c ON t.id = c.id)
          |SELECT id, floor((CASE WHEN sum(c) > 0 THEN CAST(max(c) AS DOUBLE)/sum(c) ELSE 0.0 END) * 1000000 + 0.5) / 1000000 AS top_bigram_frac
          |FROM a GROUP BY 1""".stripMargin)),

    // deflate compression ratio — no SQL-expressible oracle (DuckDB has no
    // zlib function), so the driver records the weaker rows-only check;
    // semantics are pinned by TextAnalysisSpec instead.
    QueryDef("q_compress",
      (s, dir) =>
        docs(s, dir).select(col("doc_id"),
          graft.functions.Portable.r6(TextFunctions.deflateRatio(col("text"))).as("deflate_ratio")),
      None),

    QueryDef("q_pii",
      { (s, dir) =>
        val p = TextFunctions.piiCounts(col("text"))
        docs(s, dir).select(col("doc_id"),
          p.getField("n_emails").as("n_emails"),
          p.getField("n_ipv4").as("n_ipv4"),
          p.getField("n_long_digit_runs").as("n_long_digit_runs"))
      },
      Some("""SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
          |  CAST(len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ipv4,
          |  CAST(len(regexp_extract_all(text, '[0-9]{9,}')) AS BIGINT) AS n_long_digit_runs
          |FROM documents""".stripMargin)),

    QueryDef("q_unigram_lm",
      (s, dir) =>
        Tfidf
          .unigramLogProb(docs(s, dir))
          .select(col("id"), graft.functions.Portable.r6(col("mean_log_prob")).as("mean_log_prob")),
      Some("""WITH t AS (SELECT doc_id AS id, unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'')) AS term FROM documents),
          |tf AS (SELECT id, term, count(*) AS tf FROM t GROUP BY 1, 2),
          |tc AS (SELECT id, term, tf, sum(tf) OVER (PARTITION BY term) AS ct FROM tf),
          |ds AS (SELECT id, sum(tf*ln(CAST(ct AS DOUBLE))) AS a, sum(tf) AS tt FROM tc GROUP BY 1),
          |n AS (SELECT sum(tt) AS n_tokens FROM ds)
          |SELECT id, floor((a/tt - ln(CAST(n_tokens AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS mean_log_prob FROM ds, n""".stripMargin)),

    QueryDef("q_bigram_lm",
      (s, dir) =>
        Tfidf
          .bigramLogProb(docs(s, dir))
          .select(col("id"), graft.functions.Portable.r6(col("mean_log_prob")).as("mean_log_prob")),
      Some("""WITH t AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
          |b AS (SELECT id, unnest(CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)), i ->
          |        struct_pack(prefix := toks[i], bg := array_to_string(toks[i:i+1], ' '))) ELSE [] END) AS s FROM t),
          |tf AS (SELECT id, s.bg AS bg, any_value(s.prefix) AS prefix, count(*) AS tf FROM b GROUP BY 1, 2),
          |w AS (SELECT id, tf,
          |        sum(tf) OVER (PARTITION BY bg) AS ct_bg,
          |        sum(tf) OVER (PARTITION BY prefix) AS ct_prefix FROM tf)
          |SELECT id, floor((sum(tf*ln(CAST(ct_bg AS DOUBLE)/ct_prefix))/sum(tf)) * 1000000 + 0.5) / 1000000 AS mean_log_prob
          |FROM w GROUP BY 1""".stripMargin)),

    QueryDef("q_bm25",
      (s, dir) =>
        Bm25
          .score(docs(s, dir), Seq("spark", "hash", "merge"))
          .select(col("id"), graft.functions.Portable.r6(col("bm25")).as("bm25")),
      Some("""WITH tok AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
          |t AS (SELECT id, unnest(toks) AS term FROM tok),
          |dl AS (SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM tok),
          |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs, (SELECT avg(dl) FROM dl) AS avgdl),
          |tf AS (SELECT id, term, count(*) AS tf FROM t WHERE term IN ('spark','hash','merge') GROUP BY 1, 2),
          |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1)
          |SELECT id, floor((sum(ln(1 + (n_docs - df + 0.5)/(df + 0.5)) * tf/(tf + 1.2*(1 - 0.75 + 0.75*dl/avgdl)))) * 1000000 + 0.5) / 1000000 AS bm25
          |FROM tf JOIN idf USING (term) JOIN dl USING (id), st GROUP BY id""".stripMargin)),

    // batch retrieval: 3 probe queries, one corpus pass, top-10 each
    QueryDef("q_bm25_retrieve",
      (s, dir) =>
        Bm25
          .retrieveTopK(
            docs(s, dir),
            Seq(
              "q_joins"  -> Seq("join", "hash", "merge"),
              "q_scan"   -> Seq("scan", "filter", "column"),
              "q_stream" -> Seq("stream", "window", "batch")),
            k = 10)
          .select(col("query_id"), col("id").as("doc_id"), col("rank"), col("bm25")),
      // rank over the r6-rounded score (ties by id) — mirrors retrieveTopK
      Some("""WITH qt(query_id, term) AS (VALUES
          |  ('q_joins','join'), ('q_joins','hash'), ('q_joins','merge'),
          |  ('q_scan','scan'), ('q_scan','filter'), ('q_scan','column'),
          |  ('q_stream','stream'), ('q_stream','window'), ('q_stream','batch')),
          |tok AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
          |t AS (SELECT id, unnest(toks) AS term FROM tok),
          |dl AS (SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM tok),
          |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs, (SELECT avg(dl) FROM dl) AS avgdl),
          |tf AS (SELECT id, term, count(*) AS tf FROM t WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
          |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          |sc AS (SELECT qt.query_id, tf.id,
          |    floor((sum(ln(1 + (n_docs - df + 0.5)/(df + 0.5)) * tf/(tf + 1.2*(1 - 0.75 + 0.75*dl/avgdl)))) * 1000000 + 0.5) / 1000000 AS bm25
          |  FROM tf JOIN qt USING (term) JOIN idf USING (term) JOIN dl USING (id), st GROUP BY 1, 2),
          |r AS (SELECT query_id, id AS doc_id, bm25,
          |    row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, id) AS rank FROM sc)
          |SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, bm25 FROM r WHERE rank <= 10""".stripMargin)),

    // Flesch reading ease: row-local sentence/word/vowel-run counts
    QueryDef("q_readability",
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), TextFunctions.readability(col("text")).as("r"))
          .select(col("doc_id"), col("r.n_sentences").as("n_sentences"),
            col("r.n_words").as("n_words"), col("r.n_syllables").as("n_syllables"),
            graft.functions.Portable.r6(col("r.flesch")).as("flesch")),
      Some(s"""WITH s AS (SELECT doc_id,
           |    list_filter(list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)), x -> x <> '') AS sents,
           |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks,
           |    regexp_extract_all(lower(text), '[aeiouy]+') AS syl
           |  FROM documents),
           |w AS (SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
           |    CAST(len(toks) AS BIGINT) AS n_words, CAST(len(syl) AS BIGINT) AS n_syllables FROM s)
           |SELECT doc_id, n_sentences, n_words, n_syllables,
           |  CASE WHEN n_sentences > 0 AND n_words > 0 THEN
           |    ${graft.functions.Portable.r6Sql(
                  "206.835 - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) " +
                    "- 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))")}
           |  END AS flesch
           |FROM w""".stripMargin)),

    // lexical diversity: unigram + bigram type-token ratios, row-local
    QueryDef("q_lexdiv",
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), TextFunctions.lexicalDiversity(col("text")).as("l"))
          .select(col("doc_id"), col("l.n_tokens").as("n_tokens"),
            col("l.n_types").as("n_types"),
            graft.functions.Portable.r6(col("l.ttr")).as("ttr"),
            col("l.n_bigram_types").as("n_bigram_types"),
            graft.functions.Portable.r6(col("l.bigram_ttr")).as("bigram_ttr")),
      Some(s"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '') AS toks FROM documents),
           |b AS (SELECT doc_id, toks,
           |    CASE WHEN len(toks) >= 2 THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) ELSE [] END AS bgs
           |  FROM tk)
           |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           |  CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
           |  CASE WHEN len(toks) > 0 THEN ${graft.functions.Portable.r6Sql(
                "CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)")} END AS ttr,
           |  CAST(len(list_distinct(bgs)) AS BIGINT) AS n_bigram_types,
           |  CASE WHEN len(toks) >= 2 THEN ${graft.functions.Portable.r6Sql(
                "CAST(len(list_distinct(bgs)) AS DOUBLE) / CAST(len(toks) - 1 AS DOUBLE)")} END AS bigram_ttr
           |FROM b""".stripMargin)),

    // line-level language mixing (lines synthesized at sentence breaks —
    // the corpus text is single-line)
    QueryDef("q_lang_mix",
      (s, dir) =>
        graft.text.LangMix
          .languageMixture(
            docs(s, dir).withColumn("text", regexp_replace(col("text"), "\\. ", ".\n")))
          .select(col("id").as("doc_id"), col("n_lines"), col("n_langs"), col("main_lang"),
            graft.functions.Portable.r6(col("main_frac")).as("main_frac")),
      Some(s"""WITH lx AS (SELECT doc_id, regexp_replace(text, '\\. ', '.' || chr(10), 'g') AS text FROM documents),
           |ln0 AS (SELECT doc_id, unnest(list_filter(string_split(text, chr(10)), x -> trim(x) <> '')) AS line FROM lx),
           |t AS (SELECT doc_id, list_filter(string_split_regex(lower(line),'[^a-z]+'), x -> x<>'') AS toks FROM ln0),
           |h AS (SELECT doc_id, $langHitColsSql FROM t),
           |lg AS (SELECT doc_id, $langPredSql AS lang FROM h),
           |c AS (SELECT doc_id, lang, count(*) AS c FROM lg GROUP BY 1, 2),
           |r AS (SELECT doc_id, lang, c,
           |    sum(c) OVER (PARTITION BY doc_id) AS n_lines,
           |    count(*) OVER (PARTITION BY doc_id) AS n_langs,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lang) AS rn FROM c)
           |SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines, CAST(n_langs AS BIGINT) AS n_langs,
           |  lang AS main_lang,
           |  ${graft.functions.Portable.r6Sql("CAST(c AS DOUBLE) / CAST(n_lines AS DOUBLE)")} AS main_frac
           |FROM r WHERE rn = 1""".stripMargin)),

    // content-defined chunking: cross-doc duplicated-block report
    QueryDef("q_cdc_chunks",
      (s, dir) =>
        graft.text.ContentChunks.chunkDupStats(docs(s, dir), k = 5, divisor = 8)
          .select(col("id").as("doc_id"), col("n_chunks"), col("n_dup_chunks"),
            graft.functions.Portable.r6(col("dup_frac")).as("dup_frac")),
      Some(s"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '') AS toks FROM documents),
           |hs AS (SELECT doc_id, toks, CASE WHEN len(toks) >= 5 THEN list_transform(range(1, len(toks)-3), i -> ${h32("array_to_string(toks[i:i+4],' ')")}) ELSE [] END AS h FROM tk),
           |ct AS (SELECT doc_id, toks, list_transform(list_filter(range(1, len(h)+1), i -> h[i] % 8 = 0), i -> i + 4) AS cutt FROM hs),
           |bd AS (SELECT doc_id, toks, list_concat(list_concat([0], cutt), [len(toks)]) AS bounds FROM ct),
           |cl AS (SELECT doc_id, list_filter(list_transform(range(1, len(bounds)), j -> toks[bounds[j]+1 : bounds[j+1]]), c -> len(c) > 0) AS chunks FROM bd),
           |pr AS (SELECT DISTINCT doc_id, ${h32("array_to_string(c, ' ')")} AS chash
           |  FROM (SELECT doc_id, unnest(chunks) AS c FROM cl)),
           |dfc AS (SELECT chash, count(*) AS nd FROM pr GROUP BY 1)
           |SELECT doc_id, count(*) AS n_chunks,
           |  count(CASE WHEN nd > 1 THEN 1 END) AS n_dup_chunks,
           |  ${graft.functions.Portable.r6Sql(
                "CAST(count(CASE WHEN nd > 1 THEN 1 END) AS DOUBLE) / CAST(count(*) AS DOUBLE)")} AS dup_frac
           |FROM pr JOIN dfc USING (chash) GROUP BY 1""".stripMargin)),

    // reciprocal-rank fusion: BM25 relevance x doc-length prior
    QueryDef("q_rrf",
      { (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val bm = Bm25
          .retrieveTopK(
            docs(s, dir),
            Seq(
              "q_joins"  -> Seq("join", "hash", "merge"),
              "q_scan"   -> Seq("scan", "filter", "column"),
              "q_stream" -> Seq("stream", "window", "batch")),
            k = 50)
          .select(col("query_id"), col("id").as("doc_id"), col("rank"))
        // query-independent length prior; the limit bounds the rank window
        val top = docs(s, dir)
          .select(col("doc_id"), col("n_chars"))
          .orderBy(col("n_chars").desc, col("doc_id"))
          .limit(50)
        val prior = top
          .withColumn("rank",
            row_number().over(Window.orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
          .select(explode(array(lit("q_joins"), lit("q_scan"), lit("q_stream"))).as("query_id"),
            col("doc_id"), col("rank"))
        graft.pipeline.Fusion.reciprocalRankFusion(Seq(bm, prior), k = 60, topK = 10)
      },
      Some("""WITH qt(query_id, term) AS (VALUES
          |  ('q_joins','join'), ('q_joins','hash'), ('q_joins','merge'),
          |  ('q_scan','scan'), ('q_scan','filter'), ('q_scan','column'),
          |  ('q_stream','stream'), ('q_stream','window'), ('q_stream','batch')),
          |tok AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
          |t AS (SELECT id, unnest(toks) AS term FROM tok),
          |dl AS (SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM tok),
          |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs, (SELECT avg(dl) FROM dl) AS avgdl),
          |tf AS (SELECT id, term, count(*) AS tf FROM t WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
          |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
          |sc AS (SELECT qt.query_id, tf.id,
          |    floor((sum(ln(1 + (n_docs - df + 0.5)/(df + 0.5)) * tf/(tf + 1.2*(1 - 0.75 + 0.75*dl/avgdl)))) * 1000000 + 0.5) / 1000000 AS bm25
          |  FROM tf JOIN qt USING (term) JOIN idf USING (term) JOIN dl USING (id), st GROUP BY 1, 2),
          |b AS (SELECT query_id, id AS doc_id, rank FROM (SELECT query_id, id, bm25,
          |    row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, id) AS rank FROM sc) WHERE rank <= 50),
          |lp AS (SELECT doc_id, rank FROM (SELECT doc_id,
          |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rank FROM documents) WHERE rank <= 50),
          |pq AS (SELECT q.query_id, lp.doc_id, lp.rank
          |  FROM (SELECT unnest(['q_joins','q_scan','q_stream']) AS query_id) q, lp),
          |fu AS (SELECT coalesce(b.query_id, p.query_id) AS query_id, coalesce(b.doc_id, p.doc_id) AS doc_id,
          |    floor((coalesce(CAST(1 AS DOUBLE)/(CAST(60 AS DOUBLE) + CAST(b.rank AS DOUBLE)), CAST(0 AS DOUBLE))
          |      + coalesce(CAST(1 AS DOUBLE)/(CAST(60 AS DOUBLE) + CAST(p.rank AS DOUBLE)), CAST(0 AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS rrf
          |  FROM b FULL OUTER JOIN pq p ON b.query_id = p.query_id AND b.doc_id = p.doc_id),
          |r AS (SELECT query_id, doc_id, rrf,
          |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank FROM fu)
          |SELECT query_id, doc_id, rrf, rank FROM r WHERE rank <= 10""".stripMargin)),

    // skip-gram co-occurrence counts (window 2, symmetric, minCount 3)
    QueryDef("q_cooc",
      (s, dir) =>
        graft.text.Cooccurrence.skipgramCounts(docs(s, dir), window = 2, minCount = 3),
      Some("""WITH tk AS (SELECT list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '') AS toks FROM documents),
          |p AS (SELECT unnest(flatten(list_transform(range(1, len(toks)), i ->
          |    list_transform(range(1, least(2, len(toks)-i)+1), d ->
          |      {'a': least(toks[i], toks[i+d]), 'b': greatest(toks[i], toks[i+d])})))) AS p
          |  FROM tk WHERE len(toks) >= 2)
          |SELECT p.a AS a, p.b AS b, count(*) AS n FROM p GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin)),

    // deterministic T5-style span corruption stats + corrupted fingerprint
    QueryDef("q_span_corrupt",
      (s, dir) =>
        graft.text.SpanCorrupt.corruptionStats(docs(s, dir), spanLen = 3, rate = 8)
          .select(col("id").as("doc_id"), col("n_tokens"), col("n_masked"),
            col("n_spans"), col("corrupt_fp")),
      Some(s"""WITH tk AS (SELECT doc_id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '') AS toks FROM documents),
           |st AS (SELECT doc_id, toks, CASE WHEN len(toks) = 0 THEN [] ELSE
           |    list_transform(range(1, len(toks)+1), i -> ${h32("CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")} % 8 = 0) END AS s FROM tk),
           |mk AS (SELECT doc_id, toks, CASE WHEN len(toks) = 0 THEN [] ELSE
           |    list_transform(range(1, len(toks)+1), i -> s[i] OR (i > 1 AND s[i-1]) OR (i > 2 AND s[i-2])) END AS m FROM st),
           |kp AS (SELECT doc_id, toks, m,
           |    list_filter(list_transform(range(1, len(toks)+1), i ->
           |      CASE WHEN NOT m[i] THEN toks[i] WHEN i = 1 OR NOT m[i-1] THEN '<mask>' ELSE NULL END), x -> x IS NOT NULL) AS kept
           |  FROM mk)
           |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
           |  CAST(len(list_filter(m, x -> x)) AS BIGINT) AS n_masked,
           |  CAST(len(list_filter(kept, x -> x = '<mask>')) AS BIGINT) AS n_spans,
           |  md5(array_to_string(kept, ' ')) AS corrupt_fp
           |FROM kp""".stripMargin)),

    // retrieval eval: MRR / recall@10 / nDCG@10 of BM25 against
    // contains-all-terms relevance
    QueryDef("q_retrieval_eval",
      { (s, dir) =>
        val qs = Seq(
          "q_joins"  -> Seq("join", "hash", "merge"),
          "q_scan"   -> Seq("scan", "filter", "column"),
          "q_stream" -> Seq("stream", "window", "batch"))
        val ranking = Bm25.retrieveTopK(docs(s, dir), qs, k = 10)
          .select(col("query_id"), col("id").as("doc_id"), col("rank"))
        val rel = graft.text.RetrievalEval.containsAllRelevance(docs(s, dir), qs)
        graft.text.RetrievalEval.evaluate(ranking, rel, k = 10)
          .select(col("query_id"), col("n_relevant"),
            graft.functions.Portable.r6(col("mrr")).as("mrr"),
            graft.functions.Portable.r6(col("recall_at_k")).as("recall_at_10"),
            graft.functions.Portable.r6(col("ndcg_at_k")).as("ndcg_at_10"))
      },
      Some(s"""WITH qt(query_id, term) AS (VALUES
           |  ('q_joins','join'), ('q_joins','hash'), ('q_joins','merge'),
           |  ('q_scan','scan'), ('q_scan','filter'), ('q_scan','column'),
           |  ('q_stream','stream'), ('q_stream','window'), ('q_stream','batch')),
           |tok AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
           |t AS (SELECT id, unnest(toks) AS term FROM tok),
           |dl AS (SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM tok),
           |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs, (SELECT avg(dl) FROM dl) AS avgdl),
           |tf AS (SELECT id, term, count(*) AS tf FROM t WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
           |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |sc AS (SELECT qt.query_id, tf.id,
           |    floor((sum(ln(1 + (n_docs - df + 0.5)/(df + 0.5)) * tf/(tf + 1.2*(1 - 0.75 + 0.75*dl/avgdl)))) * 1000000 + 0.5) / 1000000 AS bm25
           |  FROM tf JOIN qt USING (term) JOIN idf USING (term) JOIN dl USING (id), st GROUP BY 1, 2),
           |b AS (SELECT query_id, id AS doc_id, rank FROM (SELECT query_id, id, bm25,
           |    row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, id) AS rank FROM sc) WHERE rank <= 10),
           |rel AS (SELECT q.query_id, t2.id FROM tok t2, qt q WHERE list_contains(t2.toks, q.term)
           |  GROUP BY 1, 2 HAVING count(*) = 3),
           |nrel AS (SELECT query_id, count(*) AS n_relevant FROM rel GROUP BY 1),
           |j AS (SELECT b.query_id, b.rank, (rel.id IS NOT NULL) AS isrel
           |  FROM b LEFT JOIN rel ON rel.query_id = b.query_id AND rel.id = b.doc_id),
           |pq AS (SELECT query_id,
           |    min(CASE WHEN isrel THEN rank END) AS frel,
           |    count(CASE WHEN isrel THEN 1 END) AS hits,
           |    CAST(coalesce(sum(CASE WHEN isrel THEN CAST(floor((CAST(1 AS DOUBLE)/(ln(CAST(rank AS DOUBLE) + 1.0)/ln(CAST(2 AS DOUBLE)))) * 1000000 + 0.5)/1000000 AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS dcg
           |  FROM j GROUP BY 1),
           |f AS (SELECT pq.query_id, coalesce(n_relevant, 0) AS n_relevant, frel, hits, dcg,
           |    CASE WHEN coalesce(n_relevant, 0) > 0 THEN
           |      list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, least(n_relevant, 10)+1), i ->
           |        floor((CAST(1 AS DOUBLE)/(ln(CAST(i AS DOUBLE) + 1.0)/ln(CAST(2 AS DOUBLE)))) * 1000000 + 0.5)/1000000)), (a, x) -> a + x)
           |    ELSE 0.0 END AS idcg
           |  FROM pq LEFT JOIN nrel USING (query_id))
           |SELECT query_id, CAST(n_relevant AS BIGINT) AS n_relevant,
           |  ${graft.functions.Portable.r6Sql("coalesce(CASE WHEN frel IS NOT NULL THEN CAST(1 AS DOUBLE)/CAST(frel AS DOUBLE) END, 0)")} AS mrr,
           |  ${graft.functions.Portable.r6Sql("CASE WHEN n_relevant > 0 THEN CAST(hits AS DOUBLE)/CAST(n_relevant AS DOUBLE) ELSE 0.0 END")} AS recall_at_10,
           |  ${graft.functions.Portable.r6Sql("CASE WHEN idcg > 0 THEN dcg/idcg ELSE 0.0 END")} AS ndcg_at_10
           |FROM f""".stripMargin)),

    // judged-qrels (graded) variant: grade = matched-term count (1..3),
    // graded nDCG (gain 2^g−1) + cascade ERR (R = (2^g−1)/2^3) —
    // RetrievalEval.evaluateGraded over the same BM25 top-10 ranking
    QueryDef("q_retrieval_eval_graded",
      { (s, dir) =>
        val qs = Seq(
          "q_joins"  -> Seq("join", "hash", "merge"),
          "q_scan"   -> Seq("scan", "filter", "column"),
          "q_stream" -> Seq("stream", "window", "batch"))
        val ranking = Bm25.retrieveTopK(docs(s, dir), qs, k = 10)
          .select(col("query_id"), col("id").as("doc_id"), col("rank"))
        val qrels = graft.text.RetrievalEval.gradedTermRelevance(docs(s, dir), qs)
        graft.text.RetrievalEval.evaluateGraded(ranking, qrels, k = 10, maxGrade = 3)
          .select(col("query_id"), col("n_judged"),
            col("ndcg_graded_at_k").as("ndcg_graded_at_10"),
            col("err_graded_at_k").as("err_graded_at_10"))
      },
      Some(s"""WITH qt(query_id, term) AS (VALUES
           |  ('q_joins','join'), ('q_joins','hash'), ('q_joins','merge'),
           |  ('q_scan','scan'), ('q_scan','filter'), ('q_scan','column'),
           |  ('q_stream','stream'), ('q_stream','window'), ('q_stream','batch')),
           |tok AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
           |t AS (SELECT id, unnest(toks) AS term FROM tok),
           |dl AS (SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM tok),
           |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs, (SELECT avg(dl) FROM dl) AS avgdl),
           |tf AS (SELECT id, term, count(*) AS tf FROM t WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
           |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |sc AS (SELECT qt.query_id, tf.id,
           |    floor((sum(ln(1 + (n_docs - df + 0.5)/(df + 0.5)) * tf/(tf + 1.2*(1 - 0.75 + 0.75*dl/avgdl)))) * 1000000 + 0.5) / 1000000 AS bm25
           |  FROM tf JOIN qt USING (term) JOIN idf USING (term) JOIN dl USING (id), st GROUP BY 1, 2),
           |b AS (SELECT query_id, id AS doc_id, rank FROM (SELECT query_id, id, bm25,
           |    row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, id) AS rank FROM sc) WHERE rank <= 10),
           |grel AS (SELECT q.query_id, t2.id, count(*) AS grade
           |  FROM tok t2, qt q WHERE list_contains(t2.toks, q.term) GROUP BY 1, 2),
           |nrel AS (SELECT query_id, count(*) AS n_judged FROM grel GROUP BY 1),
           |j AS (SELECT b.query_id, b.rank, coalesce(grel.grade, 0) AS grade,
           |    (pow(2, coalesce(grel.grade, 0)) - 1)/8.0 AS rr
           |  FROM b LEFT JOIN grel ON grel.query_id = b.query_id AND grel.id = b.doc_id),
           |jc AS (SELECT query_id, rank, grade, rr,
           |    exp(coalesce(sum(ln(1 - rr)) OVER (PARTITION BY query_id ORDER BY rank
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) AS cont FROM j),
           |pq AS (SELECT query_id,
           |    CAST(coalesce(sum(CAST(${graft.functions.Portable.r6Sql("(pow(2, grade) - 1) / (ln(CAST(rank AS DOUBLE) + 1.0)/ln(CAST(2 AS DOUBLE)))")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS dcg,
           |    CAST(coalesce(sum(CAST(${graft.functions.Portable.r6Sql("rr / CAST(rank AS DOUBLE) * cont")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS err
           |  FROM jc GROUP BY 1),
           |ideal AS (SELECT query_id,
           |    CAST(coalesce(sum(CAST(${graft.functions.Portable.r6Sql("(pow(2, grade) - 1) / (ln(CAST(ir AS DOUBLE) + 1.0)/ln(CAST(2 AS DOUBLE)))")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS idcg
           |  FROM (SELECT query_id, grade,
           |      row_number() OVER (PARTITION BY query_id ORDER BY grade DESC, id) AS ir FROM grel)
           |  WHERE ir <= 10 GROUP BY 1)
           |SELECT pq.query_id, CAST(coalesce(n_judged, 0) AS BIGINT) AS n_judged,
           |  ${graft.functions.Portable.r6Sql("CASE WHEN idcg > 0 THEN dcg/idcg ELSE 0.0 END")} AS ndcg_graded_at_10,
           |  ${graft.functions.Portable.r6Sql("coalesce(err, 0)")} AS err_graded_at_10
           |FROM pq LEFT JOIN nrel USING (query_id) LEFT JOIN ideal USING (query_id)""".stripMargin)),

    // RBO over the graded qrels (round-12 pull): rank-biased overlap of
    // the BM25 top-10 against the grade-IDEAL ordering (grade desc, id —
    // the exact ordering evaluateGraded's IDCG uses). Where nDCG asks
    // "how much gain did the ranker collect", this asks "how much of the
    // ideal HEAD did it reproduce, position by position" — the
    // list-similarity complement to q_retrieval_eval_graded on the same
    // judgments, composed entirely from existing operators.
    QueryDef("q_rbo_graded",
      { (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val qs = Seq(
          "q_joins"  -> Seq("join", "hash", "merge"),
          "q_scan"   -> Seq("scan", "filter", "column"),
          "q_stream" -> Seq("stream", "window", "batch"))
        val d = docs(s, dir)
        val ranking = Bm25.retrieveTopK(d, qs, k = 10)
          .select(col("query_id"), col("id"), col("rank"))
        val wIdeal = Window.partitionBy(col("query_id"))
          .orderBy(col("grade").desc, col("id").asc)
        val ideal = graft.text.RetrievalEval.gradedTermRelevance(d, qs)
          .select(col("query_id"), col("id"), row_number().over(wIdeal).as("rank"))
          .filter(col("rank") <= 10)
        graft.text.RetrievalEval.rbo(ranking, ideal, "query_id", "id", "rank", k = 10, p = 0.9)
          .select(col("query_id"), col("n_a"), col("n_b"),
            graft.functions.Portable.r6(col("overlap_k")).as("overlap_k"),
            graft.functions.Portable.r6(col("rbo")).as("rbo"))
      },
      // BM25 top-10 (the q_retrieval_eval_graded ranking CTEs) vs the
      // grade-ideal ordering, through the q_rbo overlap/weight tail.
      Some {
        val wts = (1 to 10).map(d => s"($d, CAST(${math.pow(0.9, d)} AS DOUBLE))")
          .mkString(", ")
        s"""WITH wts(d, w) AS (VALUES $wts),
           |qt(query_id, term) AS (VALUES
           |  ('q_joins','join'), ('q_joins','hash'), ('q_joins','merge'),
           |  ('q_scan','scan'), ('q_scan','filter'), ('q_scan','column'),
           |  ('q_stream','stream'), ('q_stream','window'), ('q_stream','batch')),
           |tok AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
           |t AS (SELECT id, unnest(toks) AS term FROM tok),
           |dl AS (SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM tok),
           |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs, (SELECT avg(dl) FROM dl) AS avgdl),
           |tf AS (SELECT id, term, count(*) AS tf FROM t WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
           |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |sc AS (SELECT qt.query_id, tf.id,
           |    floor((sum(ln(1 + (n_docs - df + 0.5)/(df + 0.5)) * tf/(tf + 1.2*(1 - 0.75 + 0.75*dl/avgdl)))) * 1000000 + 0.5) / 1000000 AS bm25
           |  FROM tf JOIN qt USING (term) JOIN idf USING (term) JOIN dl USING (id), st GROUP BY 1, 2),
           |a AS (SELECT query_id, id, rk FROM (SELECT query_id, id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, id) AS rk FROM sc) WHERE rk <= 10),
           |grel AS (SELECT q.query_id, t2.id, count(*) AS grade
           |  FROM tok t2, qt q WHERE list_contains(t2.toks, q.term) GROUP BY 1, 2),
           |b AS (SELECT query_id, id, rk FROM (SELECT query_id, id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY grade DESC, id) AS rk FROM grel) WHERE rk <= 10),
           |cm AS (SELECT a.query_id, greatest(a.rk, b.rk) AS m, count(*) AS c
           |  FROM a JOIN b ON a.query_id = b.query_id AND a.id = b.id GROUP BY 1, 2),
           |sz AS (SELECT coalesce(x.query_id, y.query_id) AS query_id,
           |    CAST(coalesce(x.na, 0) AS BIGINT) AS n_a, CAST(coalesce(y.nb, 0) AS BIGINT) AS n_b
           |  FROM (SELECT query_id, count(*) AS na FROM a GROUP BY 1) x
           |  FULL JOIN (SELECT query_id, count(*) AS nb FROM b GROUP BY 1) y ON x.query_id = y.query_id),
           |grid AS (SELECT query_id, unnest(range(1, 11)) AS d FROM (SELECT DISTINCT query_id FROM sz)),
           |tg AS (SELECT grid.query_id, grid.d,
           |    sum(coalesce(c, 0)) OVER (PARTITION BY grid.query_id ORDER BY grid.d
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x
           |  FROM grid LEFT JOIN cm ON cm.query_id = grid.query_id AND cm.m = grid.d),
           |tt AS (SELECT tg.query_id, tg.d, tg.x, w * CAST(x AS DOUBLE) / CAST(tg.d AS DOUBLE) AS term
           |  FROM tg JOIN wts ON wts.d = tg.d),
           |f AS (SELECT query_id, CAST(max(CASE WHEN d = 10 THEN x END) AS BIGINT) AS xk,
           |    CAST(sum(CAST(floor(term * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS ss
           |  FROM tt GROUP BY 1)
           |SELECT sz.query_id, n_a, n_b,
           |  floor(CAST(xk AS DOUBLE) / 10.0 * 1000000 + 0.5) / 1000000 AS overlap_k,
           |  floor((1.0 - 0.9) / 0.9 * ss * 1000000 + 0.5) / 1000000 AS rbo
           |FROM f JOIN sz ON f.query_id = sz.query_id""".stripMargin
      }),

    // bounded inverted-index postings: top-5 docs per term by tf
    QueryDef("q_postings",
      (s, dir) =>
        InvertedIndex
          .postings(docs(s, dir), "doc_id", "text", k = 5, minDf = 2L, maxDf = 400L)
          .select(col("term"), col("df"), col("doc_id"), col("tf"), col("rk")),
      Some("""WITH tk AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS term FROM documents),
          |tf AS (SELECT term, doc_id, count(*) AS tf FROM tk GROUP BY 1, 2),
          |d AS (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf),
          |r AS (SELECT term, df, doc_id, tf,
          |    CAST(row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS BIGINT) AS rk
          |  FROM d WHERE df BETWEEN 2 AND 400)
          |SELECT term, df, doc_id, tf, rk FROM r WHERE rk <= 5""".stripMargin)),

    // unicode canonicalization through the native codegen'd expression;
    // a decomposed-accent + uppercase suffix forces real normalization
    // work on every row (the corpus itself is ASCII)
    QueryDef("q_normalize_text",
      (s, dir) =>
        docs(s, dir).select(
          col("doc_id"),
          md5(graft.functions.UnicodeNormalize.unicodeNormalize(
            concat(col("text"), lit(normSuffix)), "NFC", caseFold = true))
            .as("norm_hash")),
      Some(s"SELECT doc_id, md5(lower(nfc_normalize(text || '$normSuffix'))) AS norm_hash FROM documents")),

    // bigram PMI collocations over the corpus
    QueryDef("q_pmi",
      (s, dir) =>
        Collocations.bigramPmi(docs(s, dir), "text", minCount = 30L),
      Some("""WITH tk AS (SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts FROM documents),
          |u AS (SELECT unnest(ts) AS t FROM tk),
          |uni AS (SELECT t, count(*) AS c FROM u GROUP BY 1),
          |bgl AS (SELECT unnest(list_transform(range(1, len(ts)), i -> {'a': ts[i], 'b': ts[i+1]})) AS bg
          |  FROM tk WHERE len(ts) >= 2),
          |bi AS (SELECT bg.a AS a, bg.b AS b, count(*) AS c_ab FROM bgl GROUP BY 1, 2),
          |tot AS (SELECT (SELECT sum(c) FROM uni) AS n_uni, (SELECT sum(c_ab) FROM bi) AS n_bi)
          |SELECT bi.a, bi.b, bi.c_ab,
          |  floor((ln((CAST(bi.c_ab AS DOUBLE) * n_uni * n_uni) / (CAST(ua.c AS DOUBLE) * ub.c * n_bi))) * 1000000 + 0.5) / 1000000 AS pmi
          |FROM bi
          |JOIN uni ua ON bi.a = ua.t
          |JOIN uni ub ON bi.b = ub.t
          |CROSS JOIN tot
          |WHERE bi.c_ab >= 30""".stripMargin)),

    // word-vocabulary fit: top-N words by count with deterministic ids
    QueryDef("q_vocab_words",
      (s, dir) =>
        WordVocab.fit(docs(s, dir), "text", maxSize = 1000, minCount = 2L),
      Some("""WITH tk AS (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word FROM documents),
          |c AS (SELECT word, count(*) AS n FROM tk GROUP BY 1),
          |top AS (SELECT word, n FROM c WHERE n >= 2 ORDER BY n DESC, word LIMIT 1000)
          |SELECT word, n, CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT) AS word_id FROM top""".stripMargin)),

    // corpus encoding against the fitted vocabulary (first 50 docs,
    // exploded positions; OOV -> 0)
    QueryDef("q_encode",
      { (s, dir) =>
        val d = docs(s, dir)
        WordVocab
          .encode(d.filter(col("doc_id") < 50), "doc_id", "text",
            WordVocab.fit(d, "text", maxSize = 20, minCount = 2L))
          .select(col("id").as("doc_id"), col("pos"), col("word_id"))
      },
      Some("""WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts FROM documents),
          |tk AS (SELECT unnest(ts) AS word FROM d),
          |c AS (SELECT word, count(*) AS n FROM tk GROUP BY 1),
          |top AS (SELECT word, n FROM c WHERE n >= 2 ORDER BY n DESC, word LIMIT 20),
          |v AS (SELECT word, CAST(row_number() OVER (ORDER BY n DESC, word) AS BIGINT) AS word_id FROM top),
          |p AS (SELECT doc_id, CAST(unnest(range(1, len(ts) + 1)) - 1 AS BIGINT) AS pos,
          |    unnest(ts) AS word
          |  FROM d WHERE doc_id < 50)
          |SELECT p.doc_id, p.pos, coalesce(v.word_id, 0) AS word_id
          |FROM p LEFT JOIN v USING (word)""".stripMargin)),

    // BPE merge table (rows-only: iterative argmax is not
    // SQL-expressible; semantics pinned by BpeSpec). 12 merges: each
    // round is two vocab-sized jobs, and the bench corpus has 31
    // distinct words — more rounds would measure scheduler latency,
    // not the operator
    QueryDef("q_bpe_merges",
      (s, dir) =>
        graft.text.Bpe.fitMerges(docs(s, dir), numMerges = 12),
      Some(bpeMergesOracleSql(12))),

    // distinctive terms per language: P(term|group)/P(term) from ONE
    // corpus pass (marginals derived from the vocab-sized count table)
    QueryDef("q_term_lift",
      (s, dir) =>
        graft.text.Keywords.termLift(docs(s, dir), "lang", minCount = 25L)
          .select(col("group").as("lang"), col("term"), col("n"),
            graft.functions.Portable.r6(col("lift")).as("lift")),
      Some("""WITH t AS (SELECT lang, unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '')) AS term FROM documents),
          |lt AS (SELECT lang, term, count(*) AS n FROM t GROUP BY 1, 2),
          |pg AS (SELECT lang, sum(n) AS ng FROM lt GROUP BY 1),
          |pt AS (SELECT term, sum(n) AS nt FROM lt GROUP BY 1),
          |tot AS (SELECT sum(n) AS nn FROM lt)
          |SELECT lang, term, n, floor(((CAST(n AS DOUBLE)/CAST(ng AS DOUBLE)) / (CAST(nt AS DOUBLE)/CAST(nn AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS lift
          |FROM lt JOIN pg USING (lang) JOIN pt USING (term), tot WHERE n >= 25""".stripMargin)),

    // per-source KL divergence from the corpus unigram distribution
    // (slice-drift signal; DECIMAL term sums for portable reduction)
    QueryDef("q_kl",
      (s, dir) =>
        graft.text.Keywords.groupDivergence(docs(s, dir), "source")
          .select(col("group").as("source"), graft.functions.Portable.r6(col("kl")).as("kl")),
      Some("""WITH t AS (SELECT source, unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '')) AS term FROM documents),
          |lt AS (SELECT source, term, count(*) AS n FROM t GROUP BY 1, 2),
          |pg AS (SELECT source, sum(n) AS ng FROM lt GROUP BY 1),
          |pt AS (SELECT term, sum(n) AS nt FROM lt GROUP BY 1),
          |tot AS (SELECT sum(n) AS nn FROM lt)
          |SELECT source, floor(CAST(sum(CAST(
          |  (CAST(n AS DOUBLE)/CAST(ng AS DOUBLE)) *
          |  ln((CAST(n AS DOUBLE)/CAST(ng AS DOUBLE)) / (CAST(nt AS DOUBLE)/CAST(nn AS DOUBLE)))
          |  AS DECIMAL(38,12))) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS kl
          |FROM lt JOIN pg USING (source) JOIN pt USING (term), tot GROUP BY source""".stripMargin)),

    // per-doc n-gram novelty: fraction of a doc's distinct shingles
    // unique to it in the corpus (the anti-boilerplate selection signal)
    QueryDef("q_novelty",
      (s, dir) =>
        graft.text.Novelty.noveltyScore(docs(s, dir))
          .select(col("id").as("doc_id"), col("n_shingles"), col("n_unique"),
            graft.functions.Portable.r6(col("novelty")).as("novelty")),
      Some(s"""WITH $shingleCtes,
           |dft AS (SELECT sh, count(*) AS df FROM shh GROUP BY 1)
           |SELECT id AS doc_id, count(*) AS n_shingles,
           |  count(CASE WHEN df = 1 THEN 1 END) AS n_unique,
           |  floor((CAST(count(CASE WHEN df = 1 THEN 1 END) AS DOUBLE) / count(*)) * 1000000 + 0.5) / 1000000 AS novelty
           |FROM shh JOIN dft USING (sh) GROUP BY id""".stripMargin)),

    // per-doc word-distribution entropy (repetitiveness signal)
    QueryDef("q_entropy",
      (s, dir) =>
        graft.text.Importance.wordEntropy(docs(s, dir), "doc_id", "text")
          .select(col("id").as("doc_id"), col("n_tokens"),
            graft.functions.Portable.r6(col("entropy")).as("entropy")),
      Some("""WITH t AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '')) AS term FROM documents),
          |c AS (SELECT doc_id, term, count(*) AS n FROM t GROUP BY 1, 2),
          |a AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
          |  CAST(sum(CAST(n * ln(CAST(n AS DOUBLE)) AS DECIMAL(38,12))) AS DOUBLE) AS snln
          |  FROM c GROUP BY 1)
          |SELECT doc_id, n_tokens,
          |  floor((ln(CAST(n_tokens AS DOUBLE)) - snln / CAST(n_tokens AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS entropy
          |FROM a""".stripMargin)),

    // hashing-trick features: 64-dim signed hashed bag of words
    QueryDef("q_feature_hash",
      (s, dir) =>
        graft.text.FeatureHash.hashedFeatures(docs(s, dir), "doc_id", "text", 64)
          .select(col("id").as("doc_id"), col("bucket"), col("w")),
      Some(s"""WITH t AS (SELECT doc_id, unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '')) AS term FROM documents),
           |h AS (SELECT doc_id, ${h32("term")} AS h FROM t)
           |SELECT doc_id, h % 64 AS bucket, CAST(sum((h // 64) % 2 * 2 - 1) AS BIGINT) AS w
           |FROM h GROUP BY 1, 2""".stripMargin)),

    // row-local sentence segmentation stats (zero shuffle)
    QueryDef("q_sentences",
      (s, dir) =>
        docs(s, dir)
          .select(col("doc_id"), TextFunctions.sentenceStats(col("text")).as("st"))
          .select(col("doc_id"), col("st.n_sentences").as("n_sentences"),
            col("st.n_words").as("n_words"),
            graft.functions.Portable.r6(col("st.avg_sentence_len")).as("avg_sentence_len")),
      Some("""WITH s AS (SELECT doc_id,
          |    list_filter(list_transform(string_split_regex(text, '[.!?]+'), x -> trim(x)), x -> x <> '') AS sents
          |  FROM documents),
          |w AS (SELECT doc_id, CAST(len(sents) AS BIGINT) AS n_sentences,
          |    CAST(coalesce(list_sum(list_transform(sents,
          |      x -> len(list_filter(string_split_regex(lower(x), '[^a-z]+'), t -> t <> '')))), 0) AS BIGINT) AS n_words
          |  FROM s)
          |SELECT doc_id, n_sentences, n_words,
          |  CASE WHEN n_sentences > 0 THEN
          |    floor((CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE)) * 1000000 + 0.5) / 1000000
          |  END AS avg_sentence_len
          |FROM w""".stripMargin)),

    // per-doc OOV rate against the fitted 1000-word vocabulary
    QueryDef("q_oov",
      { (s, dir) =>
        val d = docs(s, dir)
        WordVocab
          .coverage(d, "doc_id", "text", WordVocab.fit(d, "text", maxSize = 1000, minCount = 2L))
          .select(col("id").as("doc_id"), col("n_tokens"), col("n_oov"),
            graft.functions.Portable.r6(col("oov_rate")).as("oov_rate"))
      },
      Some("""WITH d AS (SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts FROM documents),
          |tk AS (SELECT unnest(ts) AS word FROM d),
          |c AS (SELECT word, count(*) AS n FROM tk GROUP BY 1),
          |v AS (SELECT word FROM c WHERE n >= 2 ORDER BY n DESC, word LIMIT 1000),
          |p AS (SELECT doc_id, unnest(ts) AS word FROM d),
          |j AS (SELECT p.doc_id, CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
          |      FROM p LEFT JOIN v USING (word))
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, CAST(sum(oov) AS BIGINT) AS n_oov,
          |  floor(CAST(sum(oov) AS DOUBLE) / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS oov_rate
          |FROM j GROUP BY 1""".stripMargin)),

    // Jensen-Shannon divergence per source vs the rest of the corpus
    // (symmetric, bounded slice-drift signal; contrast with q_kl)
    QueryDef("q_js",
      (s, dir) =>
        graft.text.Keywords.jsDivergence(docs(s, dir), "source")
          .select(col("group").as("source"),
            graft.functions.Portable.r6(col("js")).as("js")),
      Some("""WITH t AS (SELECT source, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS term FROM documents),
          |lt AS (SELECT source, term, count(*) AS n FROM t GROUP BY 1, 2),
          |pg AS (SELECT source, sum(n) AS ng FROM lt GROUP BY 1),
          |pt AS (SELECT term, sum(n) AS nt FROM lt GROUP BY 1),
          |tot AS (SELECT sum(n) AS nn FROM lt),
          |j AS (SELECT source, ng, nn - ng AS nr,
          |        CAST(n AS DOUBLE) / CAST(ng AS DOUBLE) AS p,
          |        CASE WHEN nn - ng > 0 THEN CAST(nt - n AS DOUBLE) / CAST(nn - ng AS DOUBLE) ELSE 0.0 END AS q
          |      FROM lt JOIN pg USING (source) JOIN pt USING (term), tot),
          |terms AS (SELECT source, nr,
          |        CAST(p / 2.0 * ln(p / ((p + q) / 2.0))
          |          + CASE WHEN q > 0 THEN q / 2.0 * ln(q / ((p + q) / 2.0)) ELSE 0.0 END
          |          AS DECIMAL(38,12)) AS js_t,
          |        CAST(q AS DECIMAL(38,12)) AS qin
          |      FROM j),
          |m AS (SELECT source, max(nr) AS nr, CAST(sum(js_t) AS DOUBLE) AS s,
          |        CAST(sum(qin) AS DOUBLE) AS qi
          |      FROM terms GROUP BY 1)
          |SELECT source,
          |  CASE WHEN nr > 0 THEN
          |    floor((s + ln(2.0) / 2.0 * (1.0 - qi)) * 1000000 + 0.5) / 1000000 END AS js
          |FROM m""".stripMargin)),

    // per-lang tokenizer fertility: subword tokens per word, bytes/token
    QueryDef("q_fertility",
      (s, dir) =>
        TextFunctions.fertilityStats(docs(s, dir), "lang")
          .select(col("group").as("lang"), col("n_docs"), col("n_words"),
            col("n_tokens"), col("n_bytes"),
            graft.functions.Portable.r6(col("fertility")).as("fertility"),
            graft.functions.Portable.r6(col("bytes_per_token")).as("bytes_per_token")),
      Some("""WITH v AS (SELECT lang,
          |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS BIGINT) AS w,
          |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS BIGINT) AS t,
          |    CAST(strlen(text) AS BIGINT) AS b
          |  FROM documents),
          |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(w) AS BIGINT) AS n_words,
          |        CAST(sum(t) AS BIGINT) AS n_tokens, CAST(sum(b) AS BIGINT) AS n_bytes
          |      FROM v GROUP BY 1)
          |SELECT lang, n_docs, n_words, n_tokens, n_bytes,
          |  CASE WHEN n_words > 0 THEN
          |    floor(CAST(n_tokens AS DOUBLE) / CAST(n_words AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS fertility,
          |  CASE WHEN n_tokens > 0 THEN
          |    floor(CAST(n_bytes AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS bytes_per_token
          |FROM g""".stripMargin)),

    // Zipf slope of the top-200 term frequencies per source
    // (naturalness audit: natural language sits near -1)
    QueryDef("q_zipf",
      (s, dir) =>
        graft.text.Keywords.zipfFit(docs(s, dir), "source", topN = 200)
          .select(col("group").as("source"), col("n_terms"),
            graft.functions.Portable.r6(col("slope")).as("slope"),
            graft.functions.Portable.r6(col("intercept")).as("intercept")),
      Some("""WITH t AS (SELECT source, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS term FROM documents),
          |lt AS (SELECT source, term, count(*) AS n FROM t GROUP BY 1, 2),
          |rk AS (SELECT source, n,
          |        row_number() OVER (PARTITION BY source ORDER BY n DESC, term) AS r
          |      FROM lt QUALIFY r <= 200),
          |xy AS (SELECT source,
          |        floor(ln(CAST(r AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS x,
          |        floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS y
          |      FROM rk),
          |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_terms,
          |        CAST(coalesce(sum(CAST(x AS DECIMAL(38,6))), 0) AS DOUBLE) AS sx,
          |        CAST(coalesce(sum(CAST(y AS DECIMAL(38,6))), 0) AS DOUBLE) AS sy,
          |        CAST(coalesce(sum(CAST(x * y AS DECIMAL(38,6))), 0) AS DOUBLE) AS sxy,
          |        CAST(coalesce(sum(CAST(x * x AS DECIMAL(38,6))), 0) AS DOUBLE) AS sxx
          |      FROM xy GROUP BY 1),
          |f AS (SELECT source, n_terms,
          |        (CAST(n_terms AS DOUBLE) * sxy - sx * sy)
          |          / nullif(CAST(n_terms AS DOUBLE) * sxx - sx * sx, 0.0) AS slope, sx, sy
          |      FROM m)
          |SELECT source, n_terms,
          |  CASE WHEN n_terms >= 3 THEN floor(slope * 1000000 + 0.5) / 1000000 END AS slope,
          |  CASE WHEN n_terms >= 3 THEN
          |    floor((sy - slope * sx) / CAST(n_terms AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS intercept
          |FROM f""".stripMargin)),

    // markup density + strip stats over deterministically HTML-wrapped
    // docs (doc_id % 3 == 0 gets tags, so the extraction is exercised)
    QueryDef("q_markup",
      (s, dir) =>
        docs(s, dir)
          .withColumn("__t",
            when(pmod(col("doc_id"), lit(3)) === 0,
              concat(lit("<p class=\"x\">"), col("text"), lit("</p><a href=\"y\">l</a>")))
              .otherwise(col("text")))
          .select(col("doc_id"), TextFunctions.markupSignals(col("__t")).as("m"))
          .select(col("doc_id"), col("m.n_tags").as("n_tags"),
            col("m.n_links").as("n_links"), col("m.markup_chars").as("markup_chars"),
            col("m.stripped_len").as("stripped_len"),
            graft.functions.Portable.r6(col("m.text_ratio")).as("text_ratio")),
      Some("""WITH w AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
          |    THEN concat('<p class="x">', text, '</p><a href="y">l</a>') ELSE text END AS t
          |  FROM documents),
          |s AS (SELECT doc_id, t, regexp_extract_all(t, '<[^>]*>') AS tags FROM w)
          |SELECT doc_id,
          |  CAST(len(tags) AS BIGINT) AS n_tags,
          |  CAST(len(regexp_extract_all(t, '<[aA][\s>]')) AS BIGINT) AS n_links,
          |  CAST(coalesce(length(array_to_string(tags, '')), 0) AS BIGINT) AS markup_chars,
          |  CAST(length(regexp_replace(t, '<[^>]*>', '', 'g')) AS BIGINT) AS stripped_len,
          |  CASE WHEN length(t) > 0 THEN
          |    floor(CAST(length(regexp_replace(t, '<[^>]*>', '', 'g')) AS DOUBLE)
          |      / CAST(length(t) AS DOUBLE) * 1000000 + 0.5) / 1000000 END AS text_ratio
          |FROM s""".stripMargin)),

    // CCNet-style per-language LM terciles (head/middle/tail summary)
    QueryDef("q_ccnet_buckets",
      (s, dir) =>
        graft.text.Tfidf.lmQualityBuckets(docs(s, dir), "lang", nBuckets = 3)
          .select(col("group").as("lang"), col("bucket"), col("n_docs"),
            graft.functions.Portable.r6(col("mean_lp")).as("mean_lp"),
            graft.functions.Portable.r6(col("min_lp")).as("min_lp"),
            graft.functions.Portable.r6(col("max_lp")).as("max_lp")),
      Some("""WITH t AS (SELECT doc_id AS id, unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'')) AS term FROM documents),
          |tf AS (SELECT id, term, count(*) AS tf FROM t GROUP BY 1, 2),
          |tc AS (SELECT id, term, tf, sum(tf) OVER (PARTITION BY term) AS ct FROM tf),
          |ds AS (SELECT id, sum(tf*ln(CAST(ct AS DOUBLE))) AS a, sum(tf) AS tt FROM tc GROUP BY 1),
          |n AS (SELECT sum(tt) AS n_tokens FROM ds),
          |sc AS (SELECT id, a/tt - ln(CAST(n_tokens AS DOUBLE)) AS lp FROM ds, n),
          |wg AS (SELECT d.lang, sc.id, lp FROM sc JOIN documents d ON d.doc_id = sc.id),
          |bk AS (SELECT lang, id, lp,
          |        CAST(ntile(3) OVER (PARTITION BY lang ORDER BY lp DESC, id) AS BIGINT) AS bucket
          |      FROM wg)
          |SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
          |  floor(CAST(sum(CAST(floor(lp * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE)
          |    / CAST(count(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS mean_lp,
          |  floor(min(lp) * 1000000 + 0.5) / 1000000 AS min_lp,
          |  floor(max(lp) * 1000000 + 0.5) / 1000000 AS max_lp
          |FROM bk GROUP BY 1, 2""".stripMargin)),

    // URL canonicalization over synthesized messy URLs (case, userinfo,
    // default ports, tracking params, unsorted query, fragments)
    QueryDef("q_url_canon",
      (s, dir) => {
        val url = concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://user:pw@")).otherwise(lit("http://")),
          lit("WWW."), col("source"), lit(".Example.COM"),
          when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit(":8080")),
          lit("/Docs/"), col("doc_id"),
          when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=feed&b=2&a=1&gclid=x"),
          when(col("doc_id") % 5 === 0, lit("&ref=tw")).otherwise(lit("&z=9")),
          lit("#frag"))
        docs(s, dir).select(col("doc_id"),
          graft.text.UrlFunctions.canonicalize(url).as("canon"))
      },
      Some("""WITH u AS (SELECT doc_id,
          |    concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://user:pw@' ELSE 'http://' END,
          |      'WWW.', source, '.Example.COM',
          |      CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE ':8080' END,
          |      '/Docs/', CAST(doc_id AS VARCHAR),
          |      CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END,
          |      '?utm_source=feed&b=2&a=1&gclid=x',
          |      CASE WHEN doc_id % 5 = 0 THEN '&ref=tw' ELSE '&z=9' END,
          |      '#frag') AS url
          |  FROM documents),
          |p AS (SELECT doc_id,
          |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
          |    lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)) AS host,
          |    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?[^/:?#]+:([0-9]+)', 1) AS port,
          |    regexp_replace(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/$', '') AS path,
          |    list_sort(list_filter(string_split(regexp_extract(regexp_replace(url, '#.*$', ''), '\?(.*)', 1), '&'),
          |      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid|ref)(=.*)?$'))) AS kept
          |  FROM u)
          |SELECT doc_id,
          |  CASE WHEN scheme <> '' AND host <> '' THEN
          |    concat(scheme, '://', host,
          |      CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
          |        AND NOT (scheme = 'https' AND port = '443') THEN concat(':', port) ELSE '' END,
          |      path,
          |      CASE WHEN len(kept) > 0 THEN concat('?', array_to_string(kept, '&')) ELSE '' END)
          |  END AS canon
          |FROM p""".stripMargin)),

    // rank-biased overlap of the length-prior vs id-prior top-10 per lang
    QueryDef("q_rbo",
      { (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val d = docs(s, dir)
        val wA = Window.partitionBy(col("lang")).orderBy(col("n_chars").desc, col("doc_id"))
        val wB = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        val a = d.select(col("lang"), col("doc_id"), row_number().over(wA).as("rank"))
        val b = d.select(col("lang"), col("doc_id"), row_number().over(wB).as("rank"))
        graft.text.RetrievalEval.rbo(a, b, "lang", "doc_id", "rank", k = 10, p = 0.9)
          .select(col("lang"), col("n_a"), col("n_b"),
            graft.functions.Portable.r6(col("overlap_k")).as("overlap_k"),
            graft.functions.Portable.r6(col("rbo")).as("rbo"))
      },
      Some {
        val wts = (1 to 10).map(d => s"($d, CAST(${math.pow(0.9, d)} AS DOUBLE))")
          .mkString(", ")
        s"""WITH wts(d, w) AS (VALUES $wts),
           |a AS (SELECT lang, doc_id, rk FROM (SELECT lang, doc_id,
           |    row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS rk
           |  FROM documents) WHERE rk <= 10),
           |b AS (SELECT lang, doc_id, rk FROM (SELECT lang, doc_id,
           |    row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rk
           |  FROM documents) WHERE rk <= 10),
           |cm AS (SELECT a.lang, greatest(a.rk, b.rk) AS m, count(*) AS c
           |  FROM a JOIN b ON a.lang = b.lang AND a.doc_id = b.doc_id GROUP BY 1, 2),
           |sz AS (SELECT coalesce(x.lang, y.lang) AS lang,
           |    CAST(coalesce(x.na, 0) AS BIGINT) AS n_a, CAST(coalesce(y.nb, 0) AS BIGINT) AS n_b
           |  FROM (SELECT lang, count(*) AS na FROM a GROUP BY 1) x
           |  FULL JOIN (SELECT lang, count(*) AS nb FROM b GROUP BY 1) y ON x.lang = y.lang),
           |grid AS (SELECT lang, unnest(range(1, 11)) AS d FROM (SELECT DISTINCT lang FROM sz)),
           |t AS (SELECT grid.lang, grid.d,
           |    sum(coalesce(c, 0)) OVER (PARTITION BY grid.lang ORDER BY grid.d
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS x
           |  FROM grid LEFT JOIN cm ON cm.lang = grid.lang AND cm.m = grid.d),
           |tt AS (SELECT t.lang, t.d, t.x, w * CAST(x AS DOUBLE) / CAST(t.d AS DOUBLE) AS term
           |  FROM t JOIN wts ON wts.d = t.d),
           |f AS (SELECT lang, CAST(max(CASE WHEN d = 10 THEN x END) AS BIGINT) AS xk,
           |    CAST(sum(CAST(floor(term * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS ss
           |  FROM tt GROUP BY 1)
           |SELECT sz.lang, n_a, n_b,
           |  floor(CAST(xk AS DOUBLE) / 10.0 * 1000000 + 0.5) / 1000000 AS overlap_k,
           |  floor((1.0 - 0.9) / 0.9 * ss * 1000000 + 0.5) / 1000000 AS rbo
           |FROM f JOIN sz ON f.lang = sz.lang""".stripMargin
      }),

    // canonical-URL exact dedup: the q_url_canon synthetic crawl where
    // the SAME page appears under tracking-param/caser/port spellings
    // collapses to one survivor per canonical key (min doc_id)
    QueryDef("q_url_dedup",
      (s, dir) => {
        val url = concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
          col("source"), lit(".example.com"),
          when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit("")),
          lit("/page/"), (col("doc_id") / 10).cast("long"),
          when(col("doc_id") % 3 === 0, lit("?utm_source=x")).otherwise(lit("")))
        docs(s, dir)
          .withColumn("canon", graft.text.UrlFunctions.canonicalize(url))
          .groupBy(col("canon"))
          .agg(min(col("doc_id")).as("survivor_id"), count(lit(1)).as("n_spellings"))
      },
      Some("""WITH u AS (SELECT doc_id,
          |    concat(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END,
          |      source, '.example.com',
          |      CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END,
          |      '/page/', CAST(doc_id // 10 AS VARCHAR),
          |      CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x' ELSE '' END) AS url
          |  FROM documents),
          |p AS (SELECT doc_id,
          |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS scheme,
          |    lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)', 1)) AS host,
          |    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?[^/:?#]+:([0-9]+)', 1) AS port,
          |    regexp_replace(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/$', '') AS path,
          |    list_sort(list_filter(string_split(regexp_extract(regexp_replace(url, '#.*$', ''), '\?(.*)', 1), '&'),
          |      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|gclid|fbclid|msclkid|mc_eid|ref)(=.*)?$'))) AS kept
          |  FROM u),
          |c AS (SELECT doc_id,
          |    CASE WHEN scheme <> '' AND host <> '' THEN
          |      concat(scheme, '://', host,
          |        CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
          |          AND NOT (scheme = 'https' AND port = '443') THEN concat(':', port) ELSE '' END,
          |        path,
          |        CASE WHEN len(kept) > 0 THEN concat('?', array_to_string(kept, '&')) ELSE '' END)
          |    END AS canon
          |  FROM p)
          |SELECT canon, CAST(min(doc_id) AS BIGINT) AS survivor_id,
          |  CAST(count(*) AS BIGINT) AS n_spellings
          |FROM c GROUP BY 1""".stripMargin)),

    // in-document repeated-line removal (C4-family cleaning REWRITE)
    QueryDef("q_dedup_lines_doc",
      (s, dir) =>
        TextFunctions.withDedupedLines(docs(s, dir), col("text"), "clean")
          .select(col("doc_id"), col("clean"),
            col("clean_n_before").as("n_before"), col("clean_n_after").as("n_after")),
      Some("""WITH t AS (SELECT doc_id, text,
          |  list_filter(list_transform(string_split(regexp_replace(text, '\r', '', 'g'), chr(10)), l -> trim(l)), l -> l<>'') AS lines
          |  FROM documents)
          |SELECT doc_id,
          |  CASE WHEN text IS NOT NULL THEN
          |    array_to_string(list_filter(lines, (x, i) -> NOT list_contains(lines[1:i-1], x)), chr(10)) END AS clean,
          |  CASE WHEN text IS NOT NULL THEN CAST(len(lines) AS BIGINT) END AS n_before,
          |  CASE WHEN text IS NOT NULL THEN
          |    CAST(len(list_filter(lines, (x, i) -> NOT list_contains(lines[1:i-1], x))) AS BIGINT) END AS n_after
          |FROM t""".stripMargin)),

    // RAKE keyphrases: top-10 stopword-free phrases per source
    QueryDef("q_rake",
      (s, dir) =>
        graft.text.Keywords.rake(docs(s, dir), "source", "doc_id",
            TextFunctions.Stopwords.flatMap(_._2).distinct, topN = 10)
          .select(col("group").as("source"), col("phrase"), col("n_words"),
            col("n_occurrences"), col("score"), col("rk")),
      Some(s"""WITH tk AS (SELECT source, doc_id,
           |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS toks
           |  FROM documents),
           |ex AS (SELECT source, doc_id, unnest(toks) AS w,
           |    unnest(range(1, len(toks) + 1)) AS pos FROM tk),
           |ns AS (SELECT * FROM ex WHERE NOT list_contains($allStopwordsSql, w)),
           |rn AS (SELECT source, doc_id, pos, w,
           |    pos - row_number() OVER (PARTITION BY source, doc_id ORDER BY pos) AS run FROM ns),
           |ph AS (SELECT source, doc_id, run, CAST(count(*) AS BIGINT) AS len,
           |    array_to_string(list(w ORDER BY pos), ' ') AS phrase
           |  FROM rn GROUP BY 1, 2, 3),
           |p2 AS (SELECT * FROM ph WHERE len <= 4),
           |ws AS (SELECT source, unnest(string_split(phrase, ' ')) AS w, len FROM p2),
           |st AS (SELECT source, w, CAST(count(*) AS BIGINT) AS freq,
           |    CAST(sum(len) AS BIGINT) AS deg FROM ws GROUP BY 1, 2),
           |pd AS (SELECT source, phrase, CAST(count(*) AS BIGINT) AS n_occ, max(len) AS len
           |  FROM p2 GROUP BY 1, 2),
           |pw AS (SELECT source, phrase, n_occ, len,
           |    unnest(string_split(phrase, ' ')) AS w FROM pd),
           |sc AS (SELECT pw.source, pw.phrase, max(pw.n_occ) AS n_occurrences,
           |    CAST(max(pw.len) AS BIGINT) AS n_words,
           |    floor(CAST(sum(CAST(floor(CAST(deg AS DOUBLE) / CAST(freq AS DOUBLE)
           |      * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS score
           |  FROM pw JOIN st ON st.source = pw.source AND st.w = pw.w GROUP BY 1, 2)
           |SELECT source, phrase, n_words, n_occurrences, score, rk FROM (
           |  SELECT source, phrase, n_words, n_occurrences, score,
           |    CAST(row_number() OVER (PARTITION BY source ORDER BY score DESC, phrase) AS BIGINT) AS rk
           |  FROM sc) WHERE rk <= 10""".stripMargin)),

    // corpus BLEU per source: candidate = the doc with every 7th-hash
    // token dropped (deterministic lossy rewrite), reference = the doc —
    // the n-gram-retention eval of any clean/compress/rewrite stage
    QueryDef("q_bleu",
      (s, dir) => {
        val toks = TextFunctions.wordTokens(col("text"))
        val cand = array_join(
          filter(toks, (t, i) =>
            TextFunctions.md5Hash32(
              concat(col("doc_id").cast("string"), lit("|"), (i + lit(1)).cast("string"))) % 7 =!= 0),
          " ")
        graft.text.Bleu.corpusBleu(
          docs(s, dir).select(col("source"), col("doc_id"), cand.as("cand"), col("text").as("ref")),
          Seq("source"), "doc_id", "cand", "ref")
      },
      Some {
        def grams(side: String, carry: String, n: Int): String =
          if (n == 1) s"SELECT $carry id, 1 AS n, unnest($side) AS gram FROM base"
          else
            s"""SELECT $carry id, $n AS n, unnest(CASE WHEN len($side) >= $n
               |  THEN list_transform(range(1, len($side) - ${n - 2}), i -> array_to_string($side[i:i+${n - 1}], ' '))
               |  ELSE [] END) AS gram FROM base""".stripMargin
        val cSides = (1 to 4).map(grams("ct", "source,", _)).mkString(" UNION ALL ")
        val rSides = (1 to 4).map(grams("rt", "", _)).mkString(" UNION ALL ")
        val dropHash = h32("concat(CAST(id AS VARCHAR), '|', CAST(i AS VARCHAR))")
        s"""WITH tk AS (SELECT source, doc_id AS id,
           |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS rt FROM documents),
           |base AS (SELECT source, id, rt,
           |    list_filter(rt, (x, i) -> $dropHash % 7 <> 0) AS ct FROM tk),
           |cg AS (SELECT source, id, n, gram, count(*) AS cc FROM ($cSides) GROUP BY 1, 2, 3, 4),
           |rg AS (SELECT id, n, gram, count(*) AS rc FROM ($rSides) GROUP BY 1, 2, 3),
           |clip AS (SELECT source, n, CAST(sum(least(cc, rc)) AS BIGINT) AS cl
           |  FROM cg JOIN rg USING (id, n, gram) GROUP BY 1, 2),
           |lens AS (SELECT source, len(ct) AS lc, len(rt) AS lr FROM base),
           |tots AS (SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
           |    CAST(sum(lc) AS BIGINT) AS cand_tokens, CAST(sum(lr) AS BIGINT) AS ref_tokens,
           |    CAST(sum(greatest(lc - 0, 0)) AS BIGINT) AS t1, CAST(sum(greatest(lc - 1, 0)) AS BIGINT) AS t2,
           |    CAST(sum(greatest(lc - 2, 0)) AS BIGINT) AS t3, CAST(sum(greatest(lc - 3, 0)) AS BIGINT) AS t4
           |  FROM lens GROUP BY 1),
           |cw AS (SELECT source,
           |    CAST(sum(CASE WHEN n = 1 THEN cl END) AS BIGINT) AS c1, CAST(sum(CASE WHEN n = 2 THEN cl END) AS BIGINT) AS c2,
           |    CAST(sum(CASE WHEN n = 3 THEN cl END) AS BIGINT) AS c3, CAST(sum(CASE WHEN n = 4 THEN cl END) AS BIGINT) AS c4
           |  FROM clip GROUP BY 1),
           |p AS (SELECT t.source, n_pairs, cand_tokens, ref_tokens,
           |    CASE WHEN t1 > 0 THEN CAST(coalesce(c1, 0) AS DOUBLE) / CAST(t1 AS DOUBLE) END AS p1,
           |    CASE WHEN t2 > 0 THEN CAST(coalesce(c2, 0) AS DOUBLE) / CAST(t2 AS DOUBLE) END AS p2,
           |    CASE WHEN t3 > 0 THEN CAST(coalesce(c3, 0) AS DOUBLE) / CAST(t3 AS DOUBLE) END AS p3,
           |    CASE WHEN t4 > 0 THEN CAST(coalesce(c4, 0) AS DOUBLE) / CAST(t4 AS DOUBLE) END AS p4
           |  FROM tots t LEFT JOIN cw USING (source)),
           |b AS (SELECT *, floor((CASE WHEN cand_tokens >= ref_tokens THEN 1.0
           |    WHEN cand_tokens > 0 THEN exp(1.0 - CAST(ref_tokens AS DOUBLE) / CAST(cand_tokens AS DOUBLE)) END)
           |    * 1000000 + 0.5) / 1000000 AS bp FROM p)
           |SELECT source, n_pairs, cand_tokens, ref_tokens, bp,
           |  floor(p1 * 1000000 + 0.5) / 1000000 AS p1, floor(p2 * 1000000 + 0.5) / 1000000 AS p2,
           |  floor(p3 * 1000000 + 0.5) / 1000000 AS p3, floor(p4 * 1000000 + 0.5) / 1000000 AS p4,
           |  CASE WHEN (p1 = 0.0 OR p2 = 0.0 OR p3 = 0.0 OR p4 = 0.0) THEN 0.0
           |    ELSE floor(bp * exp((((ln(p1) + ln(p2)) + ln(p3)) + ln(p4)) / 4) * 1000000 + 0.5) / 1000000 END AS bleu
           |FROM b""".stripMargin
      }),

    // Dirichlet query-likelihood retrieval — the LM twin of
    // q_bm25_retrieve on the same probe queries
    QueryDef("q_qlm",
      (s, dir) =>
        graft.text.QueryLikelihood
          .retrieveTopK(
            docs(s, dir),
            Seq(
              "q_joins"  -> Seq("join", "hash", "merge"),
              "q_scan"   -> Seq("scan", "filter", "column"),
              "q_stream" -> Seq("stream", "window", "batch")),
            k = 10, mu = 1000.0)
          .select(col("query_id"), col("id").as("doc_id"), col("rank"), col("qlm")),
      Some("""WITH qt(query_id, term) AS (VALUES
          |  ('q_joins','join'), ('q_joins','hash'), ('q_joins','merge'),
          |  ('q_scan','scan'), ('q_scan','filter'), ('q_scan','column'),
          |  ('q_stream','stream'), ('q_stream','window'), ('q_stream','batch')),
          |tok AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
          |dl AS (SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM tok),
          |coll AS (SELECT CAST(CAST(sum(len(toks)) AS BIGINT) AS DOUBLE) AS c FROM tok),
          |tf AS (SELECT id, term, count(*) AS tf FROM (SELECT id, unnest(toks) AS term FROM tok)
          |  WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
          |cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1),
          |ql AS (SELECT query_id, CAST(count(*) AS DOUBLE) AS qlen FROM qt JOIN cf USING (term) GROUP BY 1),
          |m AS (SELECT query_id, id,
          |    CAST(sum(CAST(floor(ln(1.0 + CAST(tf AS DOUBLE) * c / (CAST(1000 AS DOUBLE) * CAST(cf AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS mt
          |  FROM tf JOIN cf USING (term) JOIN qt USING (term), coll GROUP BY 1, 2),
          |s AS (SELECT query_id, m.id AS doc_id,
          |    floor((mt + qlen * ln(CAST(1000 AS DOUBLE) / (dl + CAST(1000 AS DOUBLE)))) * 1000000 + 0.5) / 1000000 AS qlm
          |  FROM m JOIN dl ON m.id = dl.id JOIN ql USING (query_id)),
          |r AS (SELECT query_id, doc_id, qlm,
          |    row_number() OVER (PARTITION BY query_id ORDER BY qlm DESC, doc_id) AS rank FROM s)
          |SELECT query_id, doc_id, CAST(rank AS BIGINT) AS rank, qlm FROM r WHERE rank <= 10""".stripMargin)),

    // Bernoulli NB quality-classifier shape: train + score in one plan
    // on the derived length-bucket label (word PRESENCE separates the
    // buckets in this corpus; per-token distributions do not)
    QueryDef("q_nb",
      (s, dir) =>
        graft.text.NaiveBayes.bernoulliNb(
          docs(s, dir).withColumn("bucket",
            when(col("n_chars") >= 300, lit("long")).otherwise(lit("short"))),
          "doc_id", "text", "bucket")
          .select(col("doc_id"), col("label"), col("class"), col("log_post"), col("posterior")),
      Some(s"""WITH $nbScoredCtes
           |SELECT id AS doc_id, label, class, log_post, posterior FROM scored""".stripMargin)),

    // word2vec negative-sampling table: prob ~ count^0.75 + cumulative
    // sampling ranges over the vocabulary rank
    QueryDef("q_sampling_table",
      (s, dir) => WordVocab.samplingTable(docs(s, dir), "text"),
      Some(s"""WITH t AS (SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
           |  FROM documents),
           |c AS (SELECT word, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
           |wt AS (SELECT word, n, ${r6("pow(CAST(n AS DOUBLE), 0.75)")} AS weight FROM c),
           |tot AS (SELECT CAST(sum(CAST(weight AS DECIMAL(38,6))) AS DOUBLE) AS tw FROM wt),
           |pr AS (SELECT word, n, weight, ${r6("weight / t.tw")} AS prob FROM wt, tot t),
           |cm AS (SELECT *, CAST(sum(CAST(prob AS DECIMAL(38,6)))
           |    OVER (ORDER BY n DESC, word) AS DOUBLE) AS cum_hi FROM pr)
           |SELECT word, n, weight, prob, ${r6("cum_hi - prob")} AS cum_lo, cum_hi FROM cm""".stripMargin)),

    // KWIC concordance: every 'spark' occurrence with +/-3 words of
    // context, sliced row-locally from the carried token array
    QueryDef("q_kwic",
      (s, dir) =>
        graft.text.Concordance.kwic(docs(s, dir), "doc_id", "text", "spark", k = 3),
      Some("""WITH tok AS (SELECT doc_id,
          |    list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS ts
          |  FROM documents),
          |h AS (SELECT doc_id, ts, unnest(ts) AS w, unnest(range(0, len(ts))) AS pos FROM tok)
          |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
          |  coalesce(array_to_string(ts[greatest(1, pos - 2) : pos], ' '), '') AS left_ctx,
          |  w AS term,
          |  coalesce(array_to_string(ts[pos + 2 : pos + 4], ' '), '') AS right_ctx
          |FROM h WHERE w = 'spark'""".stripMargin)),

    // held-out perplexity of the add-1 unigram LM (the honest version
    // of q_unigram_lm's self-trained score)
    QueryDef("q_heldout_ppl",
      (s, dir) =>
        graft.text.LmEval.heldoutUnigramPerplexity(docs(s, dir), "doc_id", "text",
          smoothing = 1.0, trainPct = 70, seed = "lm42"),
      Some(s"""WITH tk AS (SELECT ${h32("concat('lm42', '|', CAST(doc_id AS VARCHAR))")} % 100 < 70 AS train,
           |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS w
           |  FROM documents),
           |c AS (SELECT w, count(*) AS c FROM tk WHERE train GROUP BY 1),
           |ks AS (SELECT CAST(coalesce(sum(c), 0) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v FROM c),
           |te AS (SELECT t.w, c.c FROM tk t LEFT JOIN c ON t.w = c.w WHERE NOT t.train),
           |sc AS (SELECT c IS NULL AS oov,
           |    ${r6("-ln((CAST(coalesce(c, 0) AS DOUBLE) + 1.0) / (CAST(ks.n AS DOUBLE) + 1.0 * CAST(ks.v + 1 AS DOUBLE)))")} AS nll
           |  FROM te, ks),
           |ag AS (SELECT (SELECT n FROM ks) AS n_train_tokens, (SELECT v FROM ks) AS vocab_size,
           |    count(*) AS n_test_tokens, count(CASE WHEN oov THEN 1 END) AS n_oov,
           |    ${r6(s"coalesce(${dsum("nll")}, 0.0) / CAST(count(*) AS DOUBLE)")} AS avg_nll
           |  FROM sc)
           |SELECT n_train_tokens, vocab_size, n_test_tokens, n_oov, avg_nll,
           |  ${r6("exp(avg_nll)")} AS ppl FROM ag""".stripMargin)),

    // Heaps'-law vocabulary-growth fit over id-ordered checkpoints
    QueryDef("q_heaps",
      (s, dir) =>
        WordVocab.heapsLaw(docs(s, dir), "doc_id", "text",
          checkpoints = Seq(16L, 32L, 64L, 128L, 256L, 512L)),
      Some {
        val cps = Seq(16L, 32L, 64L, 128L, 256L, 512L)
        val melt = cps.map(c =>
          s"SELECT (SELECT coalesce(sum(CASE WHEN id < $c THEN nt END), 0) FROM dt) AS nn, " +
            s"(SELECT count(CASE WHEN fd < $c THEN 1 END) FROM fw) AS vv").mkString("\nUNION ALL ")
        s"""WITH tk AS (SELECT doc_id AS id,
           |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS w
           |  FROM documents),
           |fw AS (SELECT w, min(id) AS fd FROM tk GROUP BY 1),
           |dt AS (SELECT doc_id AS id,
           |    len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS nt
           |  FROM documents),
           |mp AS ($melt),
           |pt AS (SELECT ${r6("ln(CAST(nn AS DOUBLE))")} AS x, ${r6("ln(CAST(vv AS DOUBLE))")} AS y
           |  FROM mp WHERE nn >= 2 AND vv >= 2),
           |ft AS (SELECT count(*) AS n_points, CAST(count(*) AS DOUBLE) AS nd,
           |    ${dsum("x")} AS sx, ${dsum("y")} AS sy, ${dsum(r6("x * y"))} AS sxy,
           |    ${dsum(r6("x * x"))} AS sxx, ${dsum(r6("y * y"))} AS syy FROM pt),
           |fb AS (SELECT *, nd * sxx - sx * sx AS det,
           |    (nd * sxy - sx * sy) / (nd * sxx - sx * sx) AS beta,
           |    syy - sy * sy / nd AS sstot FROM ft),
           |fc AS (SELECT *, sstot - beta * (sxy - sx * sy / nd) AS ssres FROM fb)
           |SELECT n_points,
           |  CASE WHEN n_points >= 3 AND det > 0 THEN ${r6("beta")} END AS heaps_beta,
           |  CASE WHEN n_points >= 3 AND det > 0 THEN ${r6("exp((sy - beta * sx) / nd)")} END AS heaps_k,
           |  CASE WHEN n_points >= 3 AND det > 0 AND sstot > 0 THEN ${r6("1.0 - ssres / sstot")} END AS r2
           |FROM fc""".stripMargin
      }),

    // Church-Gale term burstiness: content words clump (vmr >> 1),
    // glue spreads (~Poisson)
    QueryDef("q_term_burstiness",
      (s, dir) =>
        graft.text.Keywords.termBurstiness(docs(s, dir), "doc_id", "text", minDf = 25L),
      Some(s"""WITH tk AS (SELECT doc_id,
           |    unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS w
           |  FROM documents),
           |tf AS (SELECT doc_id, w, count(*) AS tf FROM tk GROUP BY 1, 2),
           |tm AS (SELECT w AS term, CAST(sum(tf) AS BIGINT) AS cf, count(*) AS df,
           |    CAST(sum(tf * tf) AS BIGINT) AS sq FROM tf GROUP BY 1 HAVING count(*) >= 25),
           |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
           |SELECT term, cf, df,
           |  ${r6("CAST(cf AS DOUBLE) / CAST(df AS DOUBLE)")} AS burstiness,
           |  CASE WHEN CAST(cf AS DOUBLE) / nd.n > 0 THEN
           |    ${r6("(CAST(sq AS DOUBLE) / nd.n - (CAST(cf AS DOUBLE) / nd.n) * (CAST(cf AS DOUBLE) / nd.n)) / (CAST(cf AS DOUBLE) / nd.n)")}
           |  END AS vmr
           |FROM tm, nd""".stripMargin)),

    // BM25 + min-span proximity boost: same probe terms as q_bm25,
    // co-occurring terms get lambda/(1+span) on top
    QueryDef("q_bm25_prox",
      (s, dir) =>
        Bm25.scoreWithProximity(docs(s, dir), Seq("spark", "hash", "merge"),
          lambda = 2.0),
      Some(s"""WITH tok AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
           |t AS (SELECT id, unnest(toks) AS term FROM tok),
           |dl AS (SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM tok),
           |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs, (SELECT avg(dl) FROM dl) AS avgdl),
           |tf AS (SELECT id, term, count(*) AS tf FROM t WHERE term IN ('spark','hash','merge') GROUP BY 1, 2),
           |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |bs AS (SELECT id, sum(ln(1 + (n_docs - df + 0.5)/(df + 0.5)) * tf/(tf + 1.2*(1 - 0.75 + 0.75*dl/avgdl))) AS raw
           |  FROM tf JOIN idf USING (term) JOIN dl USING (id), st GROUP BY id),
           |pos AS (SELECT id, p, term FROM (
           |    SELECT id, unnest(toks) AS term, generate_subscripts(toks, 1) AS p FROM tok)
           |  WHERE term IN ('spark','hash','merge')),
           |lg AS (SELECT id, p, term, lag(term) OVER w AS pt, lag(p) OVER w AS pp
           |  FROM pos WINDOW w AS (PARTITION BY id ORDER BY p)),
           |sp AS (SELECT id, CAST(min(p - pp) AS BIGINT) AS min_span FROM lg
           |  WHERE pt IS NOT NULL AND pt <> term GROUP BY 1)
           |SELECT bs.id, ${r6("bs.raw")} AS bm25, sp.min_span,
           |  ${r6("CASE WHEN sp.min_span IS NOT NULL THEN bs.raw + CAST(2.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(sp.min_span AS DOUBLE)) ELSE bs.raw END")} AS bm25_prox
           |FROM bs LEFT JOIN sp ON bs.id = sp.id""".stripMargin)),

    // S-stemmer vocabulary profile: per-stem surface-form and token
    // counts (the synthetic vocab has no plural pairs, so collapses are
    // spec-pinned on crafted input; the query pins the stem arithmetic
    // on real data)
    QueryDef("q_stem",
      (s, dir) =>
        docs(s, dir)
          .select(explode(TextFunctions.wordTokens(col("text"))).as("term"))
          .withColumn("stem", TextFunctions.sStem(col("term")))
          .groupBy(col("stem"))
          .agg(countDistinct(col("term")).as("n_forms"), count(lit(1)).as("n_tokens")),
      Some("""WITH t AS (SELECT unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'')) AS term FROM documents),
          |s AS (SELECT term, CASE
          |  WHEN ends_with(term,'ies') THEN
          |    CASE WHEN ends_with(term,'eies') OR ends_with(term,'aies') THEN term
          |         ELSE substr(term, 1, len(term)-3) || 'y' END
          |  WHEN ends_with(term,'es') THEN
          |    CASE WHEN ends_with(term,'aes') OR ends_with(term,'ees') OR ends_with(term,'oes') THEN term
          |         ELSE substr(term, 1, len(term)-1) END
          |  WHEN ends_with(term,'s') THEN
          |    CASE WHEN ends_with(term,'ss') OR ends_with(term,'us') THEN term
          |         ELSE substr(term, 1, len(term)-1) END
          |  ELSE term END AS stem FROM t)
          |SELECT stem, CAST(count(DISTINCT term) AS BIGINT) AS n_forms,
          |  CAST(count(*) AS BIGINT) AS n_tokens
          |FROM s GROUP BY 1""".stripMargin)),

    // template-structure clusters: same line-length-bucket skeleton,
    // different content — what shingle dedup cannot see
    QueryDef("q_templates",
      (s, dir) =>
        docs(s, dir)
          .filter(col("text").isNotNull)
          .select(TextFunctions.structureHash(col("text")).as("structure_hash"),
            TextFunctions.fingerprint(col("text")).as("__fp"))
          .groupBy(col("structure_hash"))
          .agg(count(lit(1)).as("n_docs"), countDistinct(col("__fp")).as("n_contents"))
          .filter(col("n_docs") >= 2),
      Some("""WITH t AS (SELECT
          |    md5(array_to_string(list_transform(
          |      list_filter(list_transform(string_split(regexp_replace(text, '\r', '', 'g'), chr(10)), l -> trim(l)), l -> l <> ''),
          |      l -> least(50, CAST(floor(len(l) / 10.0) AS INT))), ',')) AS structure_hash,
          |    md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
          |  FROM documents WHERE text IS NOT NULL)
          |SELECT structure_hash, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(count(DISTINCT fp) AS BIGINT) AS n_contents
          |FROM t GROUP BY 1 HAVING count(*) >= 2""".stripMargin)),

    // language-ID confidence margin: top vs runner-up stopword hits —
    // which q_lang_id calls deserve trust
    QueryDef("q_lang_margin",
      { (s, dir) =>
        val withToks = docs(s, dir)
          .withColumn("__toks", TextFunctions.wordTokens(col("text")))
        val hits = TextFunctions.Stopwords.map { case (_, words) =>
          TextFunctions.stopwordHits(col("__toks"), words) }
        val sorted = sort_array(array(hits: _*), asc = false)
        withToks.select(
          col("doc_id"),
          TextFunctions.langId(col("text")).as("lang_pred"),
          element_at(sorted, 1).cast("long").as("top_hits"),
          element_at(sorted, 2).cast("long").as("second_hits"),
          (element_at(sorted, 1) - element_at(sorted, 2)).cast("long").as("margin"))
      },
      Some {
        val langs = TextFunctions.Stopwords.map(_._1)
        s"""WITH pred AS ($langIdSelectSql),
           |t AS (SELECT doc_id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
           |h AS (SELECT doc_id, $langHitColsSql FROM t),
           |s AS (SELECT doc_id, list_reverse(list_sort([${langs.map(l => s"h_$l").mkString(", ")}])) AS hs FROM h)
           |SELECT pred.doc_id, pred.lang_pred,
           |  CAST(hs[1] AS BIGINT) AS top_hits, CAST(hs[2] AS BIGINT) AS second_hits,
           |  CAST(hs[1] - hs[2] AS BIGINT) AS margin
           |FROM pred JOIN s ON pred.doc_id = s.doc_id""".stripMargin
      }),

    // RM1 pseudo-relevance expansion terms off the spark/hash/merge probe
    QueryDef("q_prf_terms",
      (s, dir) =>
        Bm25.expansionTerms(docs(s, dir), Seq("spark", "hash", "merge")),
      Some(s"""WITH tok AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
           |t AS (SELECT id, unnest(toks) AS term FROM tok),
           |dl AS (SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM tok),
           |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs, (SELECT avg(dl) FROM dl) AS avgdl),
           |tf AS (SELECT id, term, count(*) AS tf FROM t WHERE term IN ('spark','hash','merge') GROUP BY 1, 2),
           |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |bs AS (SELECT id, sum(ln(1 + (n_docs - df + 0.5)/(df + 0.5)) * tf/(tf + 1.2*(1 - 0.75 + 0.75*dl/avgdl))) AS raw
           |  FROM tf JOIN idf USING (term) JOIN dl USING (id), st GROUP BY id),
           |top AS (SELECT id FROM (SELECT id, ${r6("raw")} AS s0 FROM bs)
           |  ORDER BY s0 DESC, id LIMIT 10),
           |e AS (SELECT tok.id, CAST(len(toks) AS DOUBLE) AS dl, unnest(toks) AS term
           |  FROM tok JOIN top USING (id)),
           |f AS (SELECT id, term, dl, count(*) AS tf FROM e
           |  WHERE term NOT IN ('spark','hash','merge') AND dl > 0 GROUP BY 1, 2, 3),
           |w AS (SELECT term, CAST(count(*) AS BIGINT) AS n_docs,
           |    ${r6(s"(${dsum(r6("CAST(tf AS DOUBLE) / dl"))})")} AS weight
           |  FROM f GROUP BY 1)
           |SELECT term, n_docs, weight FROM w ORDER BY weight DESC, term LIMIT 10""".stripMargin)),

    // Yule's K repetitiveness constant per source
    QueryDef("q_yule_k",
      (s, dir) =>
        graft.text.Lexical.yuleK(docs(s, dir), Seq("source")),
      Some(s"""WITH t AS (SELECT source, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS w FROM documents),
           |vocab AS (SELECT source, w, CAST(count(*) AS BIGINT) AS m FROM t GROUP BY 1, 2),
           |spec AS (SELECT source, m, CAST(count(*) AS BIGINT) AS vm FROM vocab GROUP BY 1, 2),
           |agg AS (SELECT source, CAST(sum(m * vm) AS BIGINT) AS n_tokens,
           |    CAST(sum(vm) AS BIGINT) AS n_types, CAST(sum(m * m * vm) AS BIGINT) AS s2
           |  FROM spec GROUP BY 1)
           |SELECT source, n_tokens, n_types,
           |  CASE WHEN n_tokens > 0 THEN ${r6("10000.0 * CAST(s2 - n_tokens AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))")} END AS yule_k
           |FROM agg""".stripMargin)),

    // Luhn-verified card-number candidates over deterministically
    // planted digit runs (the corpus itself is digit-free)
    QueryDef("q_luhn",
      (s, dir) =>
        graft.text.Lexical.luhnScan(
          docs(s, dir).withColumn("text",
            when(pmod(col("doc_id"), lit(7)) === 0,
              concat(col("text"), lit(" card "),
                lpad(pmod(col("doc_id") * 2654435761L, lit(10000000000L)).cast("string"), 10, "0"),
                lpad(pmod((col("doc_id") + 13L) * 97L, lit(100000L)).cast("string"), 5, "0")))
              .otherwise(col("text")))),
      Some("""WITH aug AS (SELECT doc_id,
          |    CASE WHEN doc_id % 7 = 0 THEN text || ' card ' ||
          |      lpad(CAST((doc_id * 2654435761) % 10000000000 AS VARCHAR), 10, '0') ||
          |      lpad(CAST(((doc_id + 13) * 97) % 100000 AS VARCHAR), 5, '0')
          |    ELSE text END AS txt
          |  FROM documents),
          |runs AS (SELECT doc_id,
          |    list_filter(string_split_regex(txt, '[^0-9]+'), x -> len(x) >= 13 AND len(x) <= 19) AS rs
          |  FROM aug)
          |SELECT doc_id AS id, CAST(len(rs) AS BIGINT) AS n_candidates,
          |  CAST(len(list_filter(rs, x -> len(x) > 0 AND
          |    CAST(list_sum(list_transform(range(1, len(x) + 1), i ->
          |      CASE WHEN i % 2 = 0 THEN
          |        CASE WHEN CAST(substr(reverse(x), CAST(i AS INT), 1) AS BIGINT) * 2 > 9
          |             THEN CAST(substr(reverse(x), CAST(i AS INT), 1) AS BIGINT) * 2 - 9
          |             ELSE CAST(substr(reverse(x), CAST(i AS INT), 1) AS BIGINT) * 2 END
          |      ELSE CAST(substr(reverse(x), CAST(i AS INT), 1) AS BIGINT) END)) AS BIGINT) % 10 = 0)) AS BIGINT) AS n_luhn_valid
          |FROM runs WHERE len(rs) > 0""".stripMargin)),

    // ERR@10 of the BM25 ranking — the cascade-model metric next to
    // q_retrieval_eval's nDCG
    QueryDef("q_err",
      { (s, dir) =>
        val qs = Seq(
          "q_joins"  -> Seq("join", "hash", "merge"),
          "q_scan"   -> Seq("scan", "filter", "column"),
          "q_stream" -> Seq("stream", "window", "batch"))
        val ranking = Bm25.retrieveTopK(docs(s, dir), qs, k = 10)
          .select(col("query_id"), col("id").as("doc_id"), col("rank"))
        val rel = graft.text.RetrievalEval.containsAllRelevance(docs(s, dir), qs)
        graft.text.RetrievalEval.errAtK(ranking, rel, k = 10)
          .select(col("query_id"), col("n_relevant"), col("err_at_k").as("err_at_10"))
      },
      Some(s"""WITH qt(query_id, term) AS (VALUES
           |  ('q_joins','join'), ('q_joins','hash'), ('q_joins','merge'),
           |  ('q_scan','scan'), ('q_scan','filter'), ('q_scan','column'),
           |  ('q_stream','stream'), ('q_stream','window'), ('q_stream','batch')),
           |tok AS (SELECT doc_id AS id, list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x<>'') AS toks FROM documents),
           |t AS (SELECT id, unnest(toks) AS term FROM tok),
           |dl AS (SELECT id, CAST(len(toks) AS DOUBLE) AS dl FROM tok),
           |st AS (SELECT (SELECT count(*) FROM documents) AS n_docs, (SELECT avg(dl) FROM dl) AS avgdl),
           |tf AS (SELECT id, term, count(*) AS tf FROM t WHERE term IN (SELECT term FROM qt) GROUP BY 1, 2),
           |idf AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
           |sc AS (SELECT qt.query_id, tf.id,
           |    floor((sum(ln(1 + (n_docs - df + 0.5)/(df + 0.5)) * tf/(tf + 1.2*(1 - 0.75 + 0.75*dl/avgdl)))) * 1000000 + 0.5) / 1000000 AS bm25
           |  FROM tf JOIN qt USING (term) JOIN idf USING (term) JOIN dl USING (id), st GROUP BY 1, 2),
           |b AS (SELECT query_id, id AS doc_id, rank FROM (SELECT query_id, id, bm25,
           |    row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, id) AS rank FROM sc) WHERE rank <= 10),
           |rel AS (SELECT q.query_id, t2.id FROM tok t2, qt q WHERE list_contains(t2.toks, q.term)
           |  GROUP BY 1, 2 HAVING count(*) = 3),
           |nrel AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_relevant FROM rel GROUP BY 1),
           |j AS (SELECT b.query_id, b.rank, (rel.id IS NOT NULL) AS isrel
           |  FROM b LEFT JOIN rel ON rel.query_id = b.query_id AND rel.id = b.doc_id),
           |wj AS (SELECT query_id, rank, isrel,
           |    count(CASE WHEN isrel THEN 1 END) OVER (PARTITION BY query_id ORDER BY rank
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS jj
           |  FROM j),
           |eq AS (SELECT query_id,
           |    CAST(coalesce(sum(CASE WHEN isrel THEN CAST(${r6("pow(0.5, CAST(jj AS DOUBLE)) / CAST(rank AS DOUBLE)")} AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS err
           |  FROM wj GROUP BY 1)
           |SELECT q.query_id, coalesce(n_relevant, CAST(0 AS BIGINT)) AS n_relevant,
           |  ${r6("coalesce(err, 0.0)")} AS err_at_10
           |FROM (SELECT DISTINCT query_id FROM b) q
           |LEFT JOIN eq USING (query_id) LEFT JOIN nrel USING (query_id)""".stripMargin)),

    // top-20 term league-table churn between the doc-parity halves:
    // RBO (top-weighted) next to plain set Jaccard
    QueryDef("q_top_terms_drift",
      { (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val terms = docs(s, dir)
          .select((pmod(col("doc_id"), lit(2)) === 0).as("__h"),
            explode(TextFunctions.wordTokens(col("text"))).as("term"))
          .groupBy(col("__h"), col("term")).agg(count(lit(1)).as("__n"))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("__h")).orderBy(col("__n").desc, col("term"))))
          .filter(col("rank") <= 20)
          .withColumn("q", lit("terms"))
        val a = terms.filter(col("__h")).select(col("q"), col("term"), col("rank"))
        val b = terms.filter(!col("__h")).select(col("q"), col("term"), col("rank"))
        val rboRow = graft.text.RetrievalEval.rbo(a, b, "q", "term", "rank", k = 20, p = 0.9)
        val jac = a.select(col("term")).intersect(b.select(col("term")))
          .agg(count(lit(1)).as("__inter"))
        rboRow
          .crossJoin(broadcast(jac)) // one-row intersection count: lint-exempt
          .select(col("n_a"), col("n_b"),
            graft.functions.Portable.r6(col("overlap_k")).as("overlap_k"),
            graft.functions.Portable.r6(col("rbo")).as("rbo"),
            graft.functions.Portable.r6(col("__inter").cast("double") /
              (col("n_a") + col("n_b") - col("__inter")).cast("double")).as("jaccard"))
      },
      Some {
        val wts = (1 to 20).map(d => s"($d, CAST(${math.pow(0.9, d)} AS DOUBLE))")
        s"""WITH t AS (SELECT doc_id % 2 = 0 AS h,
           |    unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '')) AS term
           |  FROM documents),
           |tc AS (SELECT h, term, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1, 2),
           |rk AS (SELECT h, term,
           |    CAST(row_number() OVER (PARTITION BY h ORDER BY n DESC, term) AS BIGINT) AS rank
           |  FROM tc QUALIFY rank <= 20),
           |a AS (SELECT term, rank AS ra FROM rk WHERE h),
           |b AS (SELECT term, rank AS rb FROM rk WHERE NOT h),
           |common AS (SELECT greatest(ra, rb) AS m, CAST(count(*) AS BIGINT) AS c
           |  FROM a JOIN b USING (term) GROUP BY 1),
           |wt(d, w) AS (VALUES ${wts.mkString(", ")}),
           |grid AS (SELECT d, w FROM wt),
           |terms AS (SELECT grid.d, grid.w,
           |    CAST(sum(coalesce(common.c, 0)) OVER (ORDER BY grid.d
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS x
           |  FROM grid LEFT JOIN common ON common.m = grid.d),
           |rbo0 AS (SELECT CAST(coalesce(sum(CAST(${r6("w * CAST(x AS DOUBLE) / CAST(d AS DOUBLE)")} AS DECIMAL(38,6))), 0) AS DOUBLE) AS srb,
           |    max(CASE WHEN d = 20 THEN x END) AS x20
           |  FROM terms),
           |sz AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
           |    (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
           |    (SELECT CAST(count(*) AS BIGINT) FROM a JOIN b USING (term)) AS inter)
           |SELECT n_a, n_b,
           |  ${r6("CAST(x20 AS DOUBLE) / 20.0")} AS overlap_k,
           |  ${r6(s"(1.0 - 0.9) / 0.9 * srb")} AS rbo,
           |  ${r6("CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE)")} AS jaccard
           |FROM rbo0, sz""".stripMargin
      }),

    // Burrows' Delta stylometric distance between sources (top 50 words)
    QueryDef("q_burrows",
      (s, dir) =>
        graft.text.Lexical.burrowsDelta(docs(s, dir), "source", nWords = 50),
      Some(s"""WITH toks AS (SELECT source AS s,
           |    unnest(list_filter(string_split_regex(lower(text),'[^a-z]+'), x -> x <> '')) AS w
           |  FROM documents),
           |counts AS (SELECT s, w, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1, 2),
           |totals AS (SELECT s, CAST(sum(c) AS BIGINT) AS tot FROM counts GROUP BY 1),
           |top AS (SELECT w FROM (SELECT w, sum(c) AS cw FROM counts GROUP BY 1
           |    ORDER BY cw DESC, w LIMIT 50)),
           |grid AS (SELECT totals.s, top.w,
           |    CAST(coalesce(counts.c, 0) AS DOUBLE) / CAST(totals.tot AS DOUBLE) AS f
           |  FROM totals CROSS JOIN top
           |  LEFT JOIN counts ON counts.s = totals.s AND counts.w = top.w),
           |st AS (SELECT w, CAST(count(*) AS BIGINT) AS k, ${ds("f")} AS sf, ${ds("f * f")} AS qf
           |  FROM grid GROUP BY 1),
           |z AS (SELECT grid.s, grid.w,
           |    CASE WHEN sqrt(greatest(qf / CAST(k AS DOUBLE) - (sf / CAST(k AS DOUBLE)) * (sf / CAST(k AS DOUBLE)), 0.0)) > 0
           |      THEN ${r6("(f - sf / CAST(k AS DOUBLE)) / sqrt(greatest(qf / CAST(k AS DOUBLE) - (sf / CAST(k AS DOUBLE)) * (sf / CAST(k AS DOUBLE)), 0.0))")}
           |      ELSE 0.0 END AS z
           |  FROM grid JOIN st USING (w))
           |SELECT a.s AS source_a, b.s AS source_b, CAST(count(*) AS BIGINT) AS n_words,
           |  ${r6(s"(${ds("abs(a.z - b.z)")}) / CAST(count(*) AS DOUBLE)")} AS delta
           |FROM z a JOIN z b ON a.w = b.w AND a.s < b.s
           |GROUP BY 1, 2""".stripMargin))
  )
}
