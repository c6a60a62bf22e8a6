package graft

import graft.meds.{Meds, MedsPipeline}
import graft.operators.TimeDerived
import org.apache.spark.sql.functions._

class MedsPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("run composes the reference stage chain end-to-end on real events") {
    val meds = Meds.fromEvents(graft.sources.Tables.events(spark, "/root/testdata/sf0.001"))
    val result = MedsPipeline.run(meds, MedsPipeline.Config(
      minMeasurementsPerPatient = Some(5),
      timeDerived = Seq(
        TimeDerived.AgeConfig(TimeDerived.dobFromFirstEvent, "AGE", "yrs"),
        TimeDerived.TimeOfDayConfig()),
      minOccurrencesPerCode = Some(10),
      stddevCutoff = Some(3.0)))

    val nData = result.data.count()
    assert(nData > 0)
    // the generated measurement codes entered the vocabulary
    val vocab = result.codeMetadata.select("code").as[String].collect().toSet
    assert(vocab.contains("AGE") && vocab.exists(_.startsWith("time_of_day//")))
    // normalized codes are vocabulary indices covering 1..V
    val codeRange = result.data.agg(min("code"), max("code")).as[(Long, Long)].head()
    assert(codeRange._1 >= 1L && codeRange._2 <= vocab.size)
    // z-scoring: per-code mean of normalized values ~ 0, std ~ 1
    val stats = result.data.filter(col("numeric_value").isNotNull)
      .groupBy("code").agg(avg("numeric_value").as("m"), stddev_pop("numeric_value").as("s"), count(lit(1)).as("n"))
      .filter(col("n") >= 30).as[(Long, Double, Double, Long)].collect()
    assert(stats.nonEmpty)
    assert(stats.forall { case (_, m, s, _) => math.abs(m) < 0.15 && math.abs(s - 1.0) < 0.15 },
      s"normalization off: ${stats.take(3).toSeq}")
    // tokenization: one row per patient with aligned per-event lists
    val tok = result.tokenized
    assert(tok.count() ==
      result.data.filter(col("time").isNotNull).select("patient_id").distinct().count())
    assert(tok.filter(
      size(col("code")) =!= size(col("numeric_value")) ||
      size(col("code")) =!= size(col("time_delta_days"))).count() == 0)
  }

  test("run with an empty config is the identity modulo normalization plumbing") {
    val meds = Seq(
      (1L, java.sql.Timestamp.valueOf("2020-01-01 10:00:00"), "HR", Some(60.0)),
      (1L, java.sql.Timestamp.valueOf("2020-01-01 11:00:00"), "HR", Some(80.0))
    ).toDF("patient_id", "time", "code", "numeric_value")
    val result = MedsPipeline.run(meds)
    assert(result.data.count() == 2)
    assert(result.codeMetadata.count() == 1)
  }

  test("run keeps single-occurrence and constant-valued codes: their values normalize to NaN") {
    val t = java.sql.Timestamp.valueOf("2020-01-01 10:00:00")
    val meds = Seq(
      (1L, t, "ONCE", Some(4.0)),
      (1L, t, "FLAT", Some(2.0)), (2L, t, "FLAT", Some(2.0)),
      (1L, t, "HR", Some(60.0)), (2L, t, "HR", Some(80.0))
    ).toDF("patient_id", "time", "code", "numeric_value")
    val result = MedsPipeline.run(meds, MedsPipeline.Config(stddevCutoff = Some(3.0)))
    val idx = result.codeMetadata.select("code", "code/vocab_index").as[(String, Long)].collect().toMap
    val z = result.data.select("code", "numeric_value").as[(Long, Double)].collect()
    assert(z.length == 5)
    assert(z.filter(r => r._1 == idx("ONCE") || r._1 == idx("FLAT")).forall(_._2.isNaN))
    assert(z.filter(_._1 == idx("HR")).map(_._2).sorted.toSeq == Seq(-1.0, 1.0))
  }
}
