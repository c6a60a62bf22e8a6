package graft

import graft.operators.Shard
import graft.sources.{MedsIO, Parquet, Tables}
import org.apache.spark.SparkThrowable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** [[graft.sources.Parquet]] resolves a dataset's schema on the driver. It
  * must agree with `spark.read.parquet` on every input shape the library
  * reads, and reading through it must launch no Spark job.
  */
class ParquetReadSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def assertParity(path: String): DataFrame = {
    val got = Parquet.read(spark, path)
    val want = spark.read.parquet(path)
    assert(got.schema == want.schema, s"$path:\n${got.schema.treeString}\nvs\n${want.schema.treeString}")
    got
  }

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def condition(body: => Any): String =
    intercept[Exception](body) match {
      case e: SparkThrowable => e.getCondition
      case e => fail(s"not a Spark error: $e")
    }

  /** Spark jobs started while `body` runs. Listener events arrive
    * asynchronously but in order, so a marked job run afterwards flushes
    * every earlier job start through the listener.
    */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val marker = s"jobsDuring-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          flushed.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(flushed.await(60, TimeUnit.SECONDS), "the marker job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("schema equals spark.read.parquet for every test-data table") {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // as Tables.read sets it
    val tables = new java.io.File(sf).list().filter(_.endsWith(".parquet")).sorted
    assert(tables.length >= 8)
    tables.foreach { t =>
      val path = s"$sf/$t"
      assert(assertParity(path).count() == spark.read.parquet(path).count(), t)
    }
  }

  test("a Spark-written directory: _SUCCESS and .crc files are not data") {
    val dir = tmp("pq_success")
    (1 to 50).map(i => (i.toLong, s"v$i", i * 0.5)).toDF("id", "s", "x")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val names = new java.io.File(dir).list()
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")))
    assert(sameRows(assertParity(dir), spark.read.parquet(dir)))
  }

  test("summary files win over data files, _common_metadata over _metadata, as in Spark") {
    def onePart(df: DataFrame): java.nio.file.Path = {
      val d = tmp("pq_part")
      df.coalesce(1).write.mode("overwrite").parquet(d)
      new java.io.File(d).listFiles().filter(_.getName.endsWith(".parquet")).head.toPath
    }
    val dir = tmp("pq_summary")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.mode("overwrite").parquet(dir)
    // a data file whose name sorts before the summaries
    Files.copy(onePart(Seq((3L, "c")).toDF("id", "s")), Paths.get(dir, "0.parquet"))
    Files.copy(onePart(Seq(1.5).toDF("from_metadata")), Paths.get(dir, "_metadata"))
    assert(assertParity(dir).columns.toSeq == Seq("from_metadata"))
    Files.copy(onePart(Seq(true).toDF("from_common")), Paths.get(dir, "_common_metadata"))
    assert(assertParity(dir).columns.toSeq == Seq("from_common"))
  }

  test("partitionBy(split, shard) output: partition columns and rows equal spark.read.parquet") {
    val cohort = (1L to 40L).map(p =>
      (p, java.sql.Timestamp.valueOf(f"2020-01-${p % 27 + 1}%02d 10:00:00"), "HR", p * 1.0))
      .toDF("patient_id", "time", "code", "numeric_value")
    val assign = Shard.splitByModulo(cohort, Seq("train" -> 8, "tuning" -> 1, "held_out" -> 1), 2)
    val dir = tmp("pq_sharded")
    MedsIO.writeSharded(cohort, assign, dir)
    val back = MedsIO.readSharded(spark, dir)
    val want = spark.read.parquet(dir)
    assert(back.schema == want.schema)
    assert(back.columns.takeRight(2).toSeq == Seq("split", "shard"))
    assert(back.count() == 40 && sameRows(back, want))
  }

  test("two files with different columns: mergeSchema=true merges them, off reads the first footer") {
    val dir = tmp("pq_merge")
    Seq((1, "a")).toDF("a", "b").write.mode("overwrite").parquet(dir)
    Seq((2, 2.5)).toDF("a", "c").write.mode("append").parquet(dir)
    try {
      spark.conf.set("spark.sql.parquet.mergeSchema", "true")
      val merged = assertParity(dir)
      assert(merged.columns.toSet == Set("a", "b", "c"))
      assert(sameRows(merged, spark.read.parquet(dir)))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    assert(assertParity(dir).columns.length == 2)
  }

  test("a dataset rewritten with a new schema is never read with the stale one") {
    val dir = tmp("pq_rewrite")
    Seq((1L, "a")).toDF("id", "s").write.mode("overwrite").parquet(dir)
    assert(Parquet.read(spark, dir).columns.toSeq == Seq("id", "s"))
    Seq(("x", 2.0, 3)).toDF("k", "v", "n").write.mode("overwrite").parquet(dir)
    val again = assertParity(dir)
    assert(again.columns.toSeq == Seq("k", "v", "n"))
    assert(sameRows(again, spark.read.parquet(dir)))
  }

  test("a missing path or an empty directory fails with Spark's own error class") {
    val missing = s"${tmp("pq_missing")}/nothing_here"
    assert(condition(Parquet.read(spark, missing)) == "PATH_NOT_FOUND")
    assert(condition(spark.read.parquet(missing)) == "PATH_NOT_FOUND")
    val empty = tmp("pq_empty")
    assert(condition(Parquet.read(spark, empty)) == condition(spark.read.parquet(empty)))
  }

  test("Tables.read, Tables.events and Main.readMeds launch no Spark job") {
    val medsDir = tmp("pq_meds")
    Main.readMeds(spark, sf).write.mode("overwrite").parquet(medsDir)
    // the guard is live: Spark's own inference is one job per read
    assert(jobsDuring(spark.read.parquet(s"$sf/orders.parquet")) >= 1)
    assert(jobsDuring {
      Tables.read(spark, sf, "orders")
      Tables.events(spark, sf)
      Main.readMeds(spark, sf)
      Main.readMeds(spark, medsDir)
    } == 0)
  }

  test("building each MEDS-stage registry query launches no Spark job") {
    // q_fit_vocab_scalable is left out: its zipWithIndex fit runs at
    // construction by design
    val keys = Seq(
      "q_agg_code_metadata", "q_agg_merge", "q_agg_all_codes", "q_filter_measurements",
      "q_filter_patients_meas", "q_filter_patients_events", "q_add_age", "q_time_of_day",
      "q_time_derived_stage", "q_meds_pipeline", "q_pipeline_config", "q_occlude_outliers",
      "q_winsorize", "q_normalize", "q_fit_vocab", "q_reorder_measurements",
      "q_tokenize_schema", "q_tokenize_seqs", "q_tensorize")
    val registry = SparkEntry.queries
    val jobs = keys.map(k => k -> jobsDuring(registry(k)(spark, sf))).filter(_._2 != 0)
    assert(jobs.isEmpty, s"queries that ran jobs while being built: $jobs")
  }
}
