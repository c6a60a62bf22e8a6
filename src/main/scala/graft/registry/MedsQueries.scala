package graft
package registry

import graft.meds.{Meds, MedsPipeline}
import graft.operators._
import org.apache.spark.sql.functions._

/** MEDS_transforms stages: code metadata, patient and measurement
  * filters, time-derived measurements, outliers, normalization, vocabulary,
  * tokenization/tensorization, extraction, sharding and the composed
  * pipeline.
  */
object MedsQueries {
  import Shared._

  /** Reference-shaped declarative stage list (configs/preprocess.yaml
    * structure) reproducing exactly what q_meds_pipeline composes in code;
    * checked in as configs/preprocess_example.yaml for users.
    */
  private val MedsPipelineYaml: String =
    """stages:
      |  - filter_patients
      |  - add_time_derived_measurements
      |  - fit_outlier_detection
      |  - occlude_outliers
      |  - fit_normalization
      |  - fit_vocabulary_indices
      |  - normalization
      |stage_configs:
      |  filter_patients:
      |    min_measurements_per_patient: 60
      |  add_time_derived_measurements:
      |    age:
      |      DOB_code: null            # unset the MEDS_BIRTH default -> first-event anchor
      |      age_unit: "yrs"
      |    time_of_day:
      |      time_of_day_code: "time_of_day"
      |  occlude_outliers:
      |    stddev_cutoff: 3.0
      |    drop_is_inlier: true
      |""".stripMargin

  private val medsPipelineOracleSql: String =
    """WITH m AS (SELECT user_id AS patient_id, ts AS time, event_type AS code, CAST(value AS DOUBLE) AS v FROM events),
          |pf AS (SELECT * FROM m WHERE patient_id IN (
          |  SELECT patient_id FROM m WHERE time IS NOT NULL GROUP BY 1 HAVING count(*) >= 60)),
          |u AS (SELECT DISTINCT patient_id, time FROM pf WHERE time IS NOT NULL),
          |dd AS (SELECT patient_id, time, min(time) OVER (PARTITION BY patient_id) AS dob FROM u),
          |age AS (SELECT patient_id, time, 'AGE' AS code,
          |  (epoch_us(time)-epoch_us(dob))/(1000000*(86400*CAST(365.2422 AS DOUBLE))) AS v
          |  FROM dd WHERE epoch_us(time) > epoch_us(dob)),
          |tod AS (SELECT DISTINCT patient_id, time,
          |  CASE WHEN hour(time)<6 THEN 'time_of_day//[00,06)' WHEN hour(time)<12 THEN 'time_of_day//[06,12)'
          |       WHEN hour(time)<18 THEN 'time_of_day//[12,18)' ELSE 'time_of_day//[18,24)' END AS code,
          |  CAST(NULL AS DOUBLE) AS v FROM pf WHERE time IS NOT NULL),
          |wd AS (SELECT patient_id, time, code, v FROM pf
          |       UNION ALL SELECT * FROM age UNION ALL SELECT * FROM tod),
          |st0 AS (SELECT code,
          |  count(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN 1 END) AS n,
          |  CAST(coalesce(sum(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN CAST(v AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s,
          |  CAST(coalesce(sum(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN CAST(v*v AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s2
          |  FROM wd GROUP BY 1),
          |ms0 AS (SELECT code, CASE WHEN n>0 THEN s/n END AS mean,
          |        CASE WHEN n>0 THEN sqrt(greatest(s2/n - (s/n)*(s/n), 0)) END AS std FROM st0),
          |oc AS (SELECT wd.patient_id, wd.time, wd.code,
          |       CASE WHEN abs(wd.v - ms0.mean) <= 3.0*ms0.std THEN wd.v END AS v
          |       FROM wd LEFT JOIN ms0 USING (code)),
          |st1 AS (SELECT code,
          |  count(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN 1 END) AS n,
          |  CAST(coalesce(sum(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN CAST(v AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s,
          |  CAST(coalesce(sum(CASE WHEN v IS NOT NULL AND NOT isnan(v) THEN CAST(v*v AS DECIMAL(38,6)) END),0) AS DOUBLE) AS s2
          |  FROM oc GROUP BY 1),
          |ms1 AS (SELECT code, CASE WHEN n>0 THEN s/n END AS mean,
          |        CASE WHEN n>0 THEN sqrt(greatest(s2/n - (s/n)*(s/n), 0)) END AS std FROM st1),
          |vc AS (SELECT code, row_number() OVER (ORDER BY code NULLS FIRST) AS idx
          |       FROM (SELECT DISTINCT code FROM oc))
          |SELECT oc.patient_id, epoch_us(oc.time) AS time_us, CAST(vc.idx AS BIGINT) AS code,
          |  floor(((oc.v - ms1.mean)/ms1.std) * 1000000 + 0.5) / 1000000 AS numeric_value
          |FROM oc JOIN vc USING (code) JOIN ms1 USING (code)""".stripMargin

  val all: Seq[QueryDef] = Seq(
    QueryDef("q_agg_code_metadata",
      (s, dir) => CodeMetadata.aggregate(meds(s, dir)),
      Some(s"SELECT event_type AS code, $aggColsSql FROM events GROUP BY 1")),

    // the reference's explicit cross-shard REDUCE: aggregate two
    // patient-disjoint shards separately, then merge the partials — must
    // hash-match a direct whole-table aggregation (same oracle SQL).
    QueryDef("q_agg_merge",
      { (s, dir) =>
        val m = meds(s, dir)
        val shards = Seq(
          m.filter(pmod(col("patient_id"), lit(2)) === 0),
          m.filter(pmod(col("patient_id"), lit(2)) === 1))
        CodeMetadata.mergePartials(shards.map(CodeMetadata.aggregate(_)))
      },
      // merged partials must equal the direct aggregation — same SQL
      Some(s"SELECT event_type AS code, $aggColsSql FROM events GROUP BY 1")),

    QueryDef("q_agg_all_codes",
      (s, dir) =>
        CodeMetadata.aggregate(meds(s, dir), summarizeOverAllCodes = true),
      Some(s"SELECT event_type AS code, $aggColsSql FROM events GROUP BY GROUPING SETS ((event_type), ())")),

    QueryDef("q_filter_measurements",
      { (s, dir) =>
        val df = medsE(s, dir)
        val meta = CodeMetadata.aggregate(meds(s, dir))
        Filters
          .filterMeasurements(df, meta, minPatientsPerCode = Some(100), minOccurrencesPerCode = Some(2000))
          .select(col("event_id"), col("patient_id"), timeUs(), col("code"), col("numeric_value"))
      },
      Some("""SELECT event_id, user_id AS patient_id, epoch_us(ts) AS time_us, event_type AS code, value AS numeric_value
          |FROM events WHERE event_type IN (
          |  SELECT event_type FROM events GROUP BY 1
          |  HAVING count(DISTINCT user_id) >= 100 AND count(*) >= 2000)""".stripMargin)),

    QueryDef("q_filter_patients_meas",
      (s, dir) =>
        Filters
          .filterPatientsByNumMeasurements(medsE(s, dir), 60)
          .select(col("event_id"), col("patient_id"), timeUs(), col("code"), col("numeric_value")),
      Some("""SELECT event_id, user_id AS patient_id, epoch_us(ts) AS time_us, event_type AS code, value AS numeric_value
          |FROM events WHERE user_id IN (
          |  SELECT user_id FROM events WHERE ts IS NOT NULL GROUP BY 1 HAVING count(*) >= 60)""".stripMargin)),

    QueryDef("q_filter_patients_events",
      (s, dir) =>
        Filters
          .filterPatientsByNumEvents(medsE(s, dir), 60)
          .select(col("event_id"), col("patient_id"), timeUs(), col("code"), col("numeric_value")),
      // NB: a null time counts as one distinct event (Polars n_unique
      // parity — Filters.filterPatientsByNumEvents adds +1 when any null
      // time exists), hence the max(CASE ...) term.
      Some("""SELECT event_id, user_id AS patient_id, epoch_us(ts) AS time_us, event_type AS code, value AS numeric_value
          |FROM events WHERE user_id IN (
          |  SELECT user_id FROM events GROUP BY 1
          |  HAVING count(DISTINCT ts) + max(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) >= 60)""".stripMargin)),

    QueryDef("q_add_age",
      (s, dir) =>
        TimeDerived
          .ageEvents(meds(s, dir), TimeDerived.dobFromFirstEvent, "AGE", "years")
          .select(col("patient_id"), timeUs(), col("code"), graft.functions.Portable.r6(col("numeric_value")).as("numeric_value")),
      Some("""WITH u AS (SELECT DISTINCT user_id, ts FROM events WHERE ts IS NOT NULL),
          |d AS (SELECT user_id, ts, min(ts) OVER (PARTITION BY user_id) AS dob FROM u)
          |SELECT user_id AS patient_id, epoch_us(ts) AS time_us, 'AGE' AS code,
          |  floor(((epoch_us(ts)-epoch_us(dob)) / (1000000*(86400*CAST(365.2422 AS DOUBLE)))) * 1000000 + 0.5) / 1000000 AS numeric_value
          |FROM d WHERE epoch_us(ts) > epoch_us(dob)""".stripMargin)),

    QueryDef("q_time_of_day",
      (s, dir) =>
        TimeDerived
          .timeOfDayEvents(meds(s, dir))
          .select(col("patient_id"), timeUs(), col("code")),
      Some("""SELECT DISTINCT user_id AS patient_id, epoch_us(ts) AS time_us,
          |  CASE WHEN hour(ts)<6 THEN 'time_of_day//[00,06)' WHEN hour(ts)<12 THEN 'time_of_day//[06,12)'
          |       WHEN hour(ts)<18 THEN 'time_of_day//[12,18)' ELSE 'time_of_day//[18,24)' END AS code
          |FROM events WHERE ts IS NOT NULL""".stripMargin)),

    QueryDef("q_time_derived_stage",
      { (s, dir) =>
        import TimeDerived.{AgeConfig, TimeOfDayConfig}
        // "yrs" exercises normalizeTimeUnit alias resolution
        TimeDerived
          .addTimeDerivedMeasurements(
            meds(s, dir),
            Seq(AgeConfig(TimeDerived.dobFromFirstEvent, "AGE", "yrs"), TimeOfDayConfig()))
          .select(
            col("patient_id"), timeUs(), col("code"),
            when(col("code") === "AGE", graft.functions.Portable.r6(col("numeric_value")))
              .otherwise(col("numeric_value")).as("numeric_value"))
      },
      Some("""WITH u AS (SELECT DISTINCT user_id, ts FROM events WHERE ts IS NOT NULL),
          |d AS (SELECT user_id, ts, min(ts) OVER (PARTITION BY user_id) AS dob FROM u),
          |age AS (SELECT user_id AS patient_id, epoch_us(ts) AS time_us, 'AGE' AS code,
          |  floor(((epoch_us(ts)-epoch_us(dob)) / (1000000*(86400*CAST(365.2422 AS DOUBLE)))) * 1000000 + 0.5) / 1000000 AS numeric_value
          |  FROM d WHERE epoch_us(ts) > epoch_us(dob)),
          |tod AS (SELECT DISTINCT user_id AS patient_id, epoch_us(ts) AS time_us,
          |  CASE WHEN hour(ts)<6 THEN 'time_of_day//[00,06)' WHEN hour(ts)<12 THEN 'time_of_day//[06,12)'
          |       WHEN hour(ts)<18 THEN 'time_of_day//[12,18)' ELSE 'time_of_day//[18,24)' END AS code,
          |  CAST(NULL AS DOUBLE) AS numeric_value
          |  FROM events WHERE ts IS NOT NULL),
          |orig AS (SELECT user_id AS patient_id, epoch_us(ts) AS time_us, event_type AS code,
          |  CAST(value AS DOUBLE) AS numeric_value FROM events)
          |SELECT * FROM age UNION ALL SELECT * FROM tod UNION ALL SELECT * FROM orig""".stripMargin)),

    QueryDef("q_meds_pipeline",
      { (s, dir) =>
        import TimeDerived.{AgeConfig, TimeOfDayConfig}
        MedsPipeline
          .run(meds(s, dir), MedsPipeline.Config(
            minMeasurementsPerPatient = Some(60),
            timeDerived = Seq(AgeConfig(TimeDerived.dobFromFirstEvent, "AGE", "yrs"), TimeOfDayConfig()),
            stddevCutoff = Some(3.0)))
          .data
          .select(col("patient_id"), timeUs(), col("code"),
            graft.functions.Portable.r6(col("numeric_value")).as("numeric_value"))
      },
      // the full composed chain: patient filter -> time-derived -> stats
      // -> occlude -> refit -> vocab -> normalize (MedsPipeline.run)
      Some(medsPipelineOracleSql)),

    // the SAME pipeline as q_meds_pipeline, but composed from a declarative
    // reference-shaped YAML stage list through ConfigPipeline instead of
    // Scala — proves the config interface reproduces the code-composed
    // (oracle-verified) result bit-for-bit
    QueryDef("q_pipeline_config",
      { (s, dir) =>
        graft.meds.ConfigPipeline
          .run(meds(s, dir), MedsPipelineYaml)
          .data
          .select(col("patient_id"), timeUs(), col("code"),
            graft.functions.Portable.r6(col("numeric_value")).as("numeric_value"))
      },
      // the config-driven runner reproduces the code-composed pipeline
      Some(medsPipelineOracleSql)),

    QueryDef("q_occlude_outliers",
      { (s, dir) =>
        val meta = CodeMetadata.aggregate(meds(s, dir))
        Outliers
          .occludeOutliers(medsE(s, dir), meta, stddevCutoff = 1.5)
          .select(col("event_id"), col("patient_id"), timeUs(), col("code"),
            col("numeric_value"), col("numeric_value/is_inlier"))
      },
      Some(s"""WITH $statsCtes
           |SELECT e.event_id, e.user_id AS patient_id, epoch_us(e.ts) AS time_us, e.event_type AS code,
           |  CASE WHEN abs(e.value-st.mean) <= 1.5*st.std THEN e.value END AS numeric_value,
           |  abs(e.value-st.mean) <= 1.5*st.std AS "numeric_value/is_inlier"
           |FROM events e LEFT JOIN st ON e.event_type = st.code""".stripMargin)),

    QueryDef("q_winsorize",
      (s, dir) =>
        Outliers
          .winsorize(medsE(s, dir), lowerQ = 0.05, upperQ = 0.95, exact = true)
          .select(col("event_id"), col("patient_id"), timeUs(), col("code"),
            graft.functions.Portable.r6(col("numeric_value")).as("numeric_value")),
      Some("""WITH b AS (SELECT event_type, quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
          |           FROM events GROUP BY 1)
          |SELECT e.event_id, e.user_id AS patient_id, epoch_us(e.ts) AS time_us, e.event_type AS code,
          |  floor((CASE WHEN e.value IS NULL THEN e.value
          |             WHEN e.value < b.lo THEN b.lo
          |             WHEN e.value > b.hi THEN b.hi ELSE e.value END) * 1000000 + 0.5) / 1000000 AS numeric_value
          |FROM events e LEFT JOIN b ON e.event_type = b.event_type""".stripMargin)),

    QueryDef("q_normalize",
      { (s, dir) =>
        val meta = Vocabulary.lexicographicIndices(CodeMetadata.aggregate(meds(s, dir)))
        Normalize
          .normalize(meds(s, dir), meta)
          .select(col("patient_id"), timeUs(), col("code"), graft.functions.Portable.r6(col("numeric_value")).as("numeric_value"))
      },
      Some(s"""WITH $statsCtes,
           |v AS (SELECT code, mean, std, row_number() OVER (ORDER BY code NULLS FIRST) AS idx FROM st)
           |SELECT e.user_id AS patient_id, epoch_us(e.ts) AS time_us, v.idx AS code,
           |  floor(((e.value - v.mean)/v.std) * 1000000 + 0.5) / 1000000 AS numeric_value
           |FROM events e JOIN v ON e.event_type = v.code""".stripMargin)),

    QueryDef("q_fit_vocab",
      (s, dir) =>
        Vocabulary
          .lexicographicIndices(CodeMetadata.aggregate(meds(s, dir)))
          .select(col("code"), col("code/vocab_index")),
      // NULLS FIRST everywhere a vocab rank is replayed: DuckDB's default
      // ORDER BY is NULLS LAST while the Spark leg (Vocabulary.
      // lexicographicIndices, asc_nulls_first — the reference's order) and
      // every other Spark ascending sort put nulls first. The driver data
      // has no null codes today, but a null event_type would otherwise
      // shift every vocab index by one on the Spark side only (round-12
      // ADVICE).
      Some("""SELECT event_type AS code, row_number() OVER (ORDER BY event_type NULLS FIRST) AS "code/vocab_index"
          |FROM (SELECT DISTINCT event_type FROM events)""".stripMargin)),

    QueryDef("q_fit_vocab_scalable",
      (s, dir) =>
        Vocabulary
          .lexicographicIndicesScalable(CodeMetadata.aggregate(meds(s, dir)))
          .select(col("code"), col("code/vocab_index")),
      Some("""SELECT event_type AS code, row_number() OVER (ORDER BY event_type NULLS FIRST) AS "code/vocab_index"
          |FROM (SELECT DISTINCT event_type FROM events)""".stripMargin)),

    QueryDef("q_reorder_measurements",
      { (s, dir) =>
        import org.apache.spark.sql.expressions.Window
        val patterns = Seq("^signup$", "^purchase$", "^error$")
        // Coarsen events to days so (patient, time) groups hold >1 measurement.
        val df = medsE(s, dir).withColumn("time", date_trunc("day", col("time")))
        val w = Window.partitionBy("patient_id", "time")
          .orderBy(col("__code_order_idx"), col("code"), col("event_id"))
        df.withColumn("__code_order_idx", Reorder.codeOrderIdx(patterns))
          .withColumn("order_in_event", row_number().over(w).cast("long"))
          .select(col("event_id"), col("patient_id"), timeUs(), col("code"), col("order_in_event"))
      },
      Some("""WITH e AS (SELECT event_id, user_id, date_trunc('day', ts) AS t, event_type,
          |  CASE WHEN regexp_matches(event_type,'^signup$') THEN 0
          |       WHEN regexp_matches(event_type,'^purchase$') THEN 1
          |       WHEN regexp_matches(event_type,'^error$') THEN 2 ELSE 3 END AS idx FROM events)
          |SELECT event_id, user_id AS patient_id, epoch_us(t) AS time_us, event_type AS code,
          |  CAST(row_number() OVER (PARTITION BY user_id, t ORDER BY idx, event_type, event_id) AS BIGINT) AS order_in_event
          |FROM e""".stripMargin)),

    QueryDef("q_tokenize_schema",
      (s, dir) =>
        Tokenize
          .schemaExploded(meds(s, dir))
          .select(col("patient_id"), unix_micros(col("start_time")).as("start_time_us"),
            col("event_idx").cast("long").as("event_idx"), timeUs()),
      Some("""WITH u AS (SELECT DISTINCT user_id, ts FROM events WHERE ts IS NOT NULL)
          |SELECT user_id AS patient_id,
          |  epoch_us(min(ts) OVER (PARTITION BY user_id)) AS start_time_us,
          |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS BIGINT) AS event_idx,
          |  epoch_us(ts) AS time_us
          |FROM u""".stripMargin)),

    QueryDef("q_tokenize_seqs",
      (s, dir) =>
        Tokenize
          .seqsExploded(meds(s, dir))
          .select(col("patient_id"), timeUs(), col("n_measurements"), col("codes"),
            graft.functions.Portable.r6(col("time_delta_days")).as("time_delta_days")),
      Some("""WITH pe AS (SELECT user_id, ts, count(*) AS n_measurements,
          |  array_to_string(list_sort(list(event_type)), ',') AS codes
          |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
          |SELECT user_id AS patient_id, epoch_us(ts) AS time_us, n_measurements, codes,
          |  floor(((epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts))/(86400.0*1000000.0)) * 1000000 + 0.5) / 1000000 AS time_delta_days
          |FROM pe""".stripMargin)),

    // Tensorization (§2 #14, the reference's convert_to_NRT) against the
    // DuckDB oracle — codes are vocab-indexed (1-based lexicographic, 0
    // reserved for padding per fit_vocabulary_indices.py:120), run
    // through the REAL seqOfPatientEvents → toDense pipeline, then the
    // dense+mask tensors explode back to one scalar row per
    // (patient, event-slot, measurement-slot) so every padded cell,
    // mask bit, truncation boundary and the leading-NaN time delta is
    // hash-compared. Valid because the synthetic events have no
    // (user, ts, event_type) ties at oracle scales (measured), so the
    // struct sort orders are total in both engines; null values no
    // longer matter either way — the oracle's list sort keys carry
    // NULLS FIRST to match Spark's null-first struct ordering
    // (round-12 ADVICE).
    QueryDef("q_tensorize",
      { (s, dir) =>
        val m = meds(s, dir)
        val vocab = Vocabulary
          .lexicographicIndices(CodeMetadata.aggregate(m))
          .select(col("code"), col("code/vocab_index"))
        val indexed = m.join(vocab, Seq("code"))
          .select(col("patient_id"), col("time"),
            col("code/vocab_index").as("code"), col("numeric_value"))
        val dense = graft.operators.Tensorize.toDense(
          Tokenize.seqOfPatientEvents(indexed),
          maxEvents = 8, maxMeasurementsPerEvent = 4)
        dense
          .select(col("patient_id"), col("n_events").cast("long").as("n_events"),
            posexplode(arrays_zip(
              col("time_delta_days"), col("event_mask"), col("code"),
              col("code_mask"), col("numeric_value"), col("numeric_value_mask")))
              .as(Seq("e", "z")))
          .select(col("patient_id"), col("n_events"), col("e").cast("long").as("e"),
            col("z.time_delta_days").as("__tdd"), col("z.event_mask").as("event_mask"),
            posexplode(arrays_zip(
              col("z.code"), col("z.code_mask"), col("z.numeric_value"),
              col("z.numeric_value_mask"))).as(Seq("i", "w")))
          .select(col("patient_id"), col("n_events"), col("e"),
            col("i").cast("long").as("i"),
            graft.functions.Portable.r6(col("__tdd")).as("time_delta_days"),
            col("event_mask"),
            col("w.code").as("code"), col("w.code_mask").as("code_mask"),
            graft.functions.Portable.r6(col("w.numeric_value")).as("numeric_value"),
            col("w.numeric_value_mask").as("numeric_value_mask"))
      },
      // Tensorize: replay vocab-indexing + per-event (idx, val) and
      // per-patient (ts) ordered lists, then pad/truncate to the 8×4
      // dense window by list indexing. The day-delta division is forced
      // to DOUBLE on both sides (integer micros / 8.64e10 — bit-equal);
      // out-of-range list indexes are NULL in DuckDB, coalesced to the
      // pad values exactly where toDense pads.
      Some(s"""WITH v AS (SELECT code, CAST(row_number() OVER (ORDER BY code NULLS FIRST) AS BIGINT) AS idx
           |  FROM (SELECT DISTINCT event_type AS code FROM events)),
           |mi AS (SELECT e.user_id AS patient_id, e.ts, v.idx, CAST(e.value AS DOUBLE) AS val
           |  FROM events e JOIN v ON v.code = e.event_type WHERE e.ts IS NOT NULL),
           |pe AS (SELECT patient_id, ts, list(idx ORDER BY idx, val NULLS FIRST) AS codes,
           |    list(val ORDER BY idx, val NULLS FIRST) AS vals
           |  FROM mi GROUP BY 1, 2),
           |se AS (SELECT patient_id, list(epoch_us(ts) ORDER BY ts) AS tus,
           |    list(codes ORDER BY ts) AS codes, list(vals ORDER BY ts) AS vals
           |  FROM pe GROUP BY 1),
           |g AS (SELECT se.*, ee.e, ii.i FROM se
           |  CROSS JOIN (SELECT unnest(range(8)) AS e) ee
           |  CROSS JOIN (SELECT unnest(range(4)) AS i) ii)
           |SELECT patient_id, CAST(least(len(tus), 8) AS BIGINT) AS n_events,
           |  CAST(e AS BIGINT) AS e, CAST(i AS BIGINT) AS i,
           |  ${graft.functions.Portable.r6Sql(
             "CASE WHEN e + 1 > len(tus) THEN 0.0 WHEN e = 0 THEN 'NaN'::DOUBLE " +
             "ELSE CAST(tus[e+1] - tus[e] AS DOUBLE) / CAST(86400000000 AS DOUBLE) END")} AS time_delta_days,
           |  e + 1 <= len(tus) AS event_mask,
           |  coalesce(codes[e+1][i+1], 0) AS code,
           |  coalesce(len(codes[e+1]), 0) >= i + 1 AS code_mask,
           |  ${graft.functions.Portable.r6Sql("coalesce(vals[e+1][i+1], 0.0)")} AS numeric_value,
           |  vals[e+1][i+1] IS NOT NULL AS numeric_value_mask
           |FROM g""".stripMargin)),

    QueryDef("q_shard_assign",
      (s, dir) =>
        Shard.splitByModulo(meds(s, dir), Seq("train" -> 8, "tuning" -> 1, "held_out" -> 1), 4),
      Some("""SELECT DISTINCT user_id AS patient_id,
          |  CASE WHEN user_id%10 < 8 THEN 'train' WHEN user_id%10 < 9 THEN 'tuning' ELSE 'held_out' END AS split,
          |  CAST(floor(user_id/10.0) AS BIGINT) % 4 AS shard
          |FROM events""".stripMargin)),

    QueryDef("q_convert_events",
      { (s, dir) =>
        import Extract._
        extractEvent(
          ev(s, dir),
          EventConfig(
            patientId = "user_id",
            time = Some("ts"),
            code = Seq(CodeLit("EVENT"), CodeCol("event_type")),
            numericValue = Some("value"),
            extraCols = Map("event_id" -> "event_id")
          )
        ).select(col("event_id"), col("patient_id"), timeUs(), col("code"), col("numeric_value"))
      },
      Some("""SELECT event_id, user_id AS patient_id, epoch_us(ts) AS time_us,
          |  concat_ws('//', 'EVENT', coalesce(CAST(event_type AS VARCHAR), 'UNK')) AS code,
          |  value AS numeric_value
          |FROM events WHERE ts IS NOT NULL""".stripMargin)),

    // String timestamps in two different formats, parsed via the config's
    // format list (reference in_format coalesce), plus text_value /
    // categorical_value output columns.
    QueryDef("q_convert_multifmt",
      { (s, dir) =>
        import Extract._
        val raw = ev(s, dir).withColumn(
          "ts_str",
          when(col("event_id") % 2 === 0, date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS"))
            .otherwise(date_format(col("ts"), "MM/dd/yyyy HH:mm:ss.SSSSSS"))
        )
        extractEvent(
          raw,
          EventConfig(
            patientId = "user_id",
            time = Some("ts_str"),
            code = Seq(CodeLit("EVENT"), CodeCol("event_type")),
            numericValue = Some("value"),
            timeFormat = Some(Seq("yyyy-MM-dd HH:mm:ss.SSSSSS", "MM/dd/yyyy HH:mm:ss.SSSSSS")),
            textValue = Some("props"),
            categoricalValue = Some("event_type"),
            extraCols = Map("event_id" -> "event_id")
          )
        ).select(col("event_id"), col("patient_id"), timeUs(), col("code"),
          col("text_value"), col("categorical_value"), col("numeric_value"))
      },
      Some("""WITH raw AS (SELECT *,
          |  CASE WHEN event_id % 2 = 0 THEN strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
          |       ELSE strftime(ts, '%m/%d/%Y %H:%M:%S.%f') END AS ts_str FROM events),
          |p AS (SELECT *,
          |  coalesce(try_strptime(ts_str, '%Y-%m-%d %H:%M:%S.%f'),
          |           try_strptime(ts_str, '%m/%d/%Y %H:%M:%S.%f')) AS t FROM raw)
          |SELECT event_id, user_id AS patient_id, epoch_us(t) AS time_us,
          |  concat_ws('//', 'EVENT', coalesce(CAST(event_type AS VARCHAR), 'UNK')) AS code,
          |  CAST(props AS VARCHAR) AS text_value,
          |  CAST(event_type AS VARCHAR) AS categorical_value,
          |  value AS numeric_value
          |FROM p WHERE t IS NOT NULL""".stripMargin)),

    QueryDef("q_merge_sort",
      { (s, dir) =>
        val m = meds(s, dir)
        val p1 = m.filter(col("code").isin("click", "view")).withColumn("channel", lit("web"))
        val p2 = m.filter(col("code") === "purchase")
        Extract
          .mergeCohort(Seq(p1, p2, p2),
            uniqueBy = Some(Seq("patient_id", "time", "code", "numeric_value", "channel")))
          .select(col("patient_id"), timeUs(), col("code"), col("numeric_value"), col("channel"))
      },
      Some("""WITH p1 AS (SELECT user_id AS patient_id, ts AS t, event_type AS code, value AS numeric_value, 'web' AS channel
          |            FROM events WHERE event_type IN ('click','view')),
          |p2 AS (SELECT user_id, ts, event_type, value, NULL FROM events WHERE event_type = 'purchase'),
          |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p2)
          |SELECT DISTINCT patient_id, epoch_us(t) AS time_us, code, numeric_value, channel FROM u""".stripMargin)),

    QueryDef("q_code_metadata_join",
      { (s, dir) =>
        import s.implicits._
        val codes = CodeMetadata
          .aggregate(meds(s, dir))
          .select(col("code"), col(CodeMetadata.CodeNOccurrences).as("n_occurrences"))
        val metadata = Seq(
          ("click", "Click event"), ("view", "View event"),
          ("purchase", "Purchase"), ("signup", "Signup")
        ).toDF("code", "description")
        Extract.attachCodeMetadata(codes, metadata)
      },
      Some("""WITH c AS (SELECT event_type AS code, count(*) AS n_occurrences FROM events GROUP BY 1),
          |m AS (SELECT * FROM (VALUES ('click','Click event'),('view','View event'),('purchase','Purchase'),('signup','Signup')) AS t(code, description))
          |SELECT c.code, c.n_occurrences, m.description FROM c LEFT JOIN m ON c.code = m.code""".stripMargin)),

    // Two metadata sources with an overlapping code: descriptions concat
    // with the separator, other metadata columns collect into sorted lists
    // (emitted here as a joined string for engine-portable comparison).
    QueryDef("q_extract_metadata_multi",
      { (s, dir) =>
        import s.implicits._
        val codes = CodeMetadata.aggregate(meds(s, dir)).select(col("code"))
        val m1 = Seq(("click", "Click event", 1), ("view", "View event", 2), ("purchase", "Purchase v1", 3))
          .toDF("code", "description", "priority")
        val m2 = Seq(("purchase", "Completed checkout"), ("signup", "Account created"))
          .toDF("code", "description")
        val multi = Extract.extractCodeMetadataMulti(Seq(m1, m2), descriptionSeparator = "; ")
          .withColumn("priorities", array_join(col("priority").cast("array<string>"), ","))
          .drop("priority")
        Extract.attachCodeMetadata(codes, multi)
          .select(col("code"), col("description"), col("priorities"))
      },
      Some("""WITH m1 AS (SELECT * FROM (VALUES ('click','Click event',1),('view','View event',2),
          |                                  ('purchase','Purchase v1',3)) t(code, description, priority)),
          |m2 AS (SELECT * FROM (VALUES ('purchase','Completed checkout'),('signup','Account created')) t(code, description)),
          |u AS (SELECT DISTINCT * FROM (SELECT code, description, priority FROM m1
          |                              UNION ALL SELECT code, description, NULL FROM m2)),
          |multi AS (SELECT code,
          |    string_agg(description, '; ' ORDER BY description) AS description,
          |    coalesce(string_agg(CAST(priority AS VARCHAR), ',' ORDER BY priority), '') AS priorities
          |  FROM u GROUP BY 1),
          |c AS (SELECT DISTINCT event_type AS code FROM events)
          |SELECT c.code, m.description, m.priorities FROM c LEFT JOIN multi m ON c.code = m.code""".stripMargin)),

    QueryDef("q_finalize",
      (s, dir) =>
        Meds
          .finalizeData(medsE(s, dir))
          .select(col("event_id"), col("patient_id"), timeUs(), col("code"), col("numeric_value")),
      Some("""SELECT event_id, user_id AS patient_id, epoch_us(ts) AS time_us, event_type AS code,
          |  CAST(value AS REAL) AS numeric_value
          |FROM events""".stripMargin)),

    QueryDef("q_finalize_metadata",
      { (s, dir) =>
        val meta = meds(s, dir)
          .select(col("code")).distinct()
          .withColumn("description", upper(col("code")))
          .withColumn("parent_codes", concat(lit("evt//"), col("code"))) // scalar -> wrapped in list
        Meds.finalizeMetadata(meta)
          .select(col("code"), col("description"), try_element_at(col("parent_codes"), lit(1)).as("parent_code"))
      },
      Some("""SELECT DISTINCT event_type AS code, upper(event_type) AS description,
          |  concat('evt//', event_type) AS parent_code
          |FROM events""".stripMargin)),

    QueryDef("q_extract_dsl",
      { (s, dir) =>
        import EventParser._
        ev(s, dir).select(
          col("event_id"),
          col("user_id").cast("long").as("patient_id"),
          unix_micros(col("ts")).as("time_us"),
          toColumn(Str("EVENT//{event_type}")).as("code"),
          toColumn(FirstValid(Seq(
            Guarded(Map("event_type" -> "purchase"), Col("value")),
            Literal(-1.0)
          ))).as("numeric_value")
        )
      },
      Some("""SELECT event_id, user_id AS patient_id, epoch_us(ts) AS time_us,
          |  concat('EVENT//', CAST(event_type AS VARCHAR)) AS code,
          |  coalesce(CASE WHEN event_type = 'purchase' THEN value END, -1.0) AS numeric_value
          |FROM events""".stripMargin)),

    // MAD robust outliers; flag recomputed on the r6-rounded z so a 1-ulp
    // percentile-interpolation difference can't flip the 3.5 boundary
    QueryDef("q_mad",
      (s, dir) =>
        Outliers
          .madOutliers(ev(s, dir), Seq("event_type"), "value", k = 3.5, exact = true)
          .withColumn("robust_z", graft.functions.Portable.r6(col("robust_z")))
          .select(
            col("event_id"), col("event_type"), col("robust_z"),
            coalesce(abs(col("robust_z")) > 3.5, lit(false)).as("is_outlier")),
      Some(s"""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
           |  FROM events WHERE value IS NOT NULL GROUP BY 1),
           |mad AS (SELECT e.event_type, quantile_cont(abs(e.value - m.med), 0.5) AS mad
           |  FROM events e JOIN med m USING (event_type) WHERE e.value IS NOT NULL GROUP BY 1),
           |z AS (SELECT e.event_id, e.event_type,
           |    ${graft.functions.Portable.r6Sql("(e.value - m.med) / (1.4826 * nullif(d.mad, 0))")} AS robust_z
           |  FROM events e LEFT JOIN med m USING (event_type) LEFT JOIN mad d USING (event_type))
           |SELECT event_id, event_type, robust_z,
           |  coalesce(abs(robust_z) > 3.5, false) AS is_outlier
           |FROM z""".stripMargin)),

    // per-code robust scaling (median/IQR) with exact R-7 percentiles;
    // approx sketch is the 100 TB path, oracle-checked here exactly
    QueryDef("q_robust_scale",
      (s, dir) =>
        Outliers
          .robustScale(medsE(s, dir), exact = true)
          .select(col("event_id"), col("patient_id"), col("code"),
            graft.functions.Portable.r6(col("scaled_value")).as("scaled_value")),
      Some("""WITH b AS (SELECT event_type, quantile_cont(value, 0.25) AS q1,
          |  quantile_cont(value, 0.5) AS med, quantile_cont(value, 0.75) AS q3
          |  FROM events GROUP BY 1)
          |SELECT e.event_id, e.user_id AS patient_id, e.event_type AS code,
          |  floor(((e.value - b.med) / nullif(b.q3 - b.q1, 0)) * 1000000 + 0.5) / 1000000 AS scaled_value
          |FROM events e LEFT JOIN b ON e.event_type = b.event_type""".stripMargin)),

    // per-code mean imputation over deterministically nulled values
    QueryDef("q_impute",
      (s, dir) =>
        Impute
          .meanImpute(
            medsE(s, dir).withColumn("numeric_value",
              when(col("event_id") % 97 === 0, lit(null)).otherwise(col("numeric_value"))),
            Seq("code"), "numeric_value")
          .select(col("event_id"), col("code"),
            graft.functions.Portable.r6(col("numeric_value")).as("numeric_value"),
            col("numeric_value/imputed").as("imputed")),
      Some("""WITH v AS (SELECT event_id, event_type AS code,
          |  CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS value FROM events),
          |m AS (SELECT code,
          |  count(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN 1 END) AS n,
          |  CAST(coalesce(sum(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN CAST(value AS DECIMAL(38,6)) END), 0) AS DOUBLE) AS s
          |  FROM v GROUP BY 1)
          |SELECT event_id, v.code AS code,
          |  floor(CASE WHEN value IS NOT NULL AND NOT isnan(value) THEN value
          |             WHEN n > 0 THEN s / n END * 1000000 + 0.5) / 1000000 AS numeric_value,
          |  CAST(CASE WHEN (value IS NULL OR isnan(value)) AND n > 0 THEN 1 ELSE 0 END AS BIGINT) AS imputed
          |FROM v JOIN m ON v.code IS NOT DISTINCT FROM m.code""".stripMargin)),

    // winsorized mean of value per event type ([p5, p95] band)
    QueryDef("q_wins_mean",
      (s, dir) =>
        Outliers.winsorizedMean(ev(s, dir), Seq("event_type"), "value",
            pLo = 0.05, pHi = 0.95, exact = true)
          .select(col("event_type"), col("n"),
            graft.functions.Portable.r6(col("mean")).as("mean"),
            graft.functions.Portable.r6(col("wins_mean")).as("wins_mean"),
            graft.functions.Portable.r6(col("lo")).as("lo"),
            graft.functions.Portable.r6(col("hi")).as("hi")),
      Some("""WITH v AS (SELECT event_type, CAST(value AS DOUBLE) AS x FROM events
          |  WHERE value IS NOT NULL AND NOT isnan(CAST(value AS DOUBLE))),
          |b AS (SELECT event_type, quantile_cont(x, 0.05) AS lo, quantile_cont(x, 0.95) AS hi
          |      FROM v GROUP BY 1),
          |c AS (SELECT v.event_type, x, lo, hi, least(greatest(x, lo), hi) AS w
          |      FROM v JOIN b USING (event_type)),
          |g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
          |        CAST(sum(CAST(floor(x * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS s,
          |        CAST(sum(CAST(floor(w * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS sw,
          |        max(lo) AS lo, max(hi) AS hi
          |      FROM c GROUP BY 1)
          |SELECT event_type, n,
          |  floor(s / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS mean,
          |  floor(sw / CAST(n AS DOUBLE) * 1000000 + 0.5) / 1000000 AS wins_mean,
          |  floor(lo * 1000000 + 0.5) / 1000000 AS lo,
          |  floor(hi * 1000000 + 0.5) / 1000000 AS hi
          |FROM g""".stripMargin)),

    // rendezvous-hash rebalance audit: growing 8->10 shards should move
    // ~(10-8)/10 of keys — the consistent-placement proof a mod-N
    // layout fails by an order of magnitude
    QueryDef("q_rendezvous",
      (s, dir) =>
        Shard.rendezvousRebalanceAudit(ev(s, dir), "user_id",
          fromShards = 8, toShards = 10, seed = "rdz"),
      Some {
        def hw(n: Int) =
          s"list_transform(range(0, $n), sh -> ${h32("concat('rdz', '|', CAST(key AS VARCHAR), '|', CAST(sh AS VARCHAR))")})"
        s"""WITH k AS (SELECT DISTINCT user_id AS key FROM events WHERE user_id IS NOT NULL),
           |a AS (SELECT key, ${hw(8)} AS lf, ${hw(10)} AS lt FROM k),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
           |    CAST(count(CASE WHEN list_position(lf, list_max(lf)) <> list_position(lt, list_max(lt)) THEN 1 END) AS BIGINT) AS n_moved
           |  FROM a)
           |SELECT n_keys, n_moved,
           |  CASE WHEN n_keys > 0 THEN ${r6("CAST(n_moved AS DOUBLE) / CAST(n_keys AS DOUBLE)")} END AS moved_frac,
           |  ${r6("CAST(2 AS DOUBLE) / CAST(10 AS DOUBLE)")} AS expected_frac
           |FROM m""".stripMargin
      })
  )
}
