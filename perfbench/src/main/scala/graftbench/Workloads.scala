package graftbench

import graft.dedup.Dedup
import graft.functions.Portable.r6
import graft.meds.{ConfigPipeline, MedsPipeline}
import graft.operators.TimeDerived
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One benchmark workload. An operation's output is reduced to a digest
  * string outside the timed region and compared with the digest of a
  * reference computed once per run, in the cold warm-up iteration.
  */
trait Workload {
  def name: String
  /** Operation names, run cyclically in this order by the one client. */
  def ops: IndexedSeq[String]
  /** Write the seeded inputs. */
  def generate(spark: SparkSession, seed: Long): Unit
  /** The written input table, as the program reads it. */
  def input(spark: SparkSession): DataFrame
  def inputProps(spark: SparkSession, seed: Long): Map[String, Any]
  /** The timed part of operation `op`; returns what `digestOf` needs. */
  def run(spark: SparkSession, tr: Tracer, op: String): Any
  def digestOf(spark: SparkSession, op: String, result: Any): String
  /** The queries (materialised results) an operation made, with their
    * seconds; by default the operation is one query.
    */
  def queries(op: String, result: Any, seconds: Double): Seq[(String, Double)] = Seq(op -> seconds)
  /** The cold warm-up iteration. Returns the expected digest per
    * operation, plus the outputs handed to the DuckDB oracle check as
    * (registry query, parquet directory).
    */
  def warmUp(spark: SparkSession, traced: Boolean): (Map[String, String], Seq[(String, String)])
  /** Per-layer figures only this workload exercises (traced run only). */
  def layerExtras(spark: SparkSession, tr: Tracer, ctx: Bench.Ctx): Map[String, Double]
}

object Workloads {
  def apply(name: String, work: String, root: String, cores: Int): Workload = name match {
    case "meds_etl"       => new MedsEtl(work, root, cores)
    case "dedup_curation" => new DedupCuration(work, cores)
    case "meds_queries"   => new MedsQueries(work, root, cores)
    case other => throw new IllegalArgumentException(s"unknown workload `$other`")
  }

  /** Run `tasks` on up to `threads` threads, results in task order. The
    * warm-up compiles many independent plans, and compiling them side by
    * side keeps set-up within the run's time budget.
    */
  def parallel[T](threads: Int)(tasks: Seq[() => T]): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val fs = tasks.map(t => pool.submit(new java.util.concurrent.Callable[T] { def call(): T = t() }))
      fs.map(f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException => throw e.getCause })
    } finally pool.shutdownNow()
  }

  private def writeCheck(df: DataFrame, dir: String): String = {
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    Inputs.digest(df.sparkSession.read.parquet(dir))
  }

  private def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t) / 1e9)
  }

  // ---------------------------------------------------------------- meds_etl

  /** `graft.Main.run` with the shipped example config over a seeded
    * MEDS cohort; checked against the code-composed `MedsPipeline.run`.
    */
  final class MedsEtl(work: String, root: String, cores: Int) extends Workload {
    val name = "meds_etl"
    val ops: IndexedSeq[String] = IndexedSeq("meds_etl")
    private val in = s"$work/input/meds_etl"
    private val out = s"$work/out/meds_etl"
    private val configPath = s"$root/configs/preprocess_example.yaml"
    private val cohort = Inputs.Cohort(patients = 4000, codes = 20000, minLen = 20, alpha = 1.3, maxLen = 3000)

    def generate(spark: SparkSession, seed: Long): Unit =
      Inputs.medsCohort(spark, seed, cohort, cores).write.mode("overwrite").parquet(in)

    def input(spark: SparkSession): DataFrame = spark.read.parquet(in)

    def inputProps(spark: SparkSession, seed: Long): Map[String, Any] =
      Inputs.cohortProps(input(spark), "patient_id", "time", "code")

    def run(spark: SparkSession, tr: Tracer, op: String): Any =
      tr.call("graft.Main.run")(graft.Main.run(spark, readFile(configPath), in, out))

    private def outDigest(data: DataFrame, meta: DataFrame): String =
      Inputs.digest(data) + "|" + Inputs.digest(meta)

    def digestOf(spark: SparkSession, op: String, result: Any): String =
      outDigest(spark.read.parquet(s"$out/data"), spark.read.parquet(s"$out/metadata"))

    def warmUp(spark: SparkSession, traced: Boolean): (Map[String, String], Seq[(String, String)]) = {
      import TimeDerived.{AgeConfig, TimeOfDayConfig}
      run(spark, Bench.NoTrace(spark), name)
      val r = MedsPipeline.run(graft.Main.readMeds(spark, in), MedsPipeline.Config(
        minMeasurementsPerPatient = Some(60),
        timeDerived = Seq(AgeConfig(TimeDerived.dobFromFirstEvent, "AGE", "yrs"), TimeOfDayConfig()),
        stddevCutoff = Some(3.0)))
      (Map(name -> outDigest(r.data, r.codeMetadata)), Nil)
    }

    def layerExtras(spark: SparkSession, tr: Tracer, ctx: Bench.Ctx): Map[String, Double] =
      configStages(spark, tr, configPath, in, s"$work/out/meds_etl_prefix", cores)
  }

  /** The example config cut after its first `k` stages. */
  private def prefixConfig(text: String, k: Int): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper(
      new com.fasterxml.jackson.dataformat.yaml.YAMLFactory())
    val root = mapper.readTree(text).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val stages = root.get("stages").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    while (stages.size() > k) stages.remove(stages.size() - 1)
    mapper.writeValueAsString(root)
  }

  private def readFile(path: String): String = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8)

  /** Median seconds of `PrefixReps` runs of `body`, and its last result. */
  private def prefixTimed[T](body: => T): (T, Double) = {
    val rs = (1 to PrefixReps).map(_ => timed(body))
    (rs.last._1, Bench.median(rs.map(_._2)))
  }
  private val PrefixReps = 3

  /** The graft.meds layer of `graft.Main.run` with the config at
    * `configPath` over `in`: `ConfigPipeline.run`'s own (driver-only)
    * time, each stage's self time as the difference between traced runs
    * of the config cut after it and before it (prefix 0 is the same read
    * and write with no stage; each prefix is timed as the median of
    * `PrefixReps` runs), each stage's output rows, and the parquet write
    * figures of the full config's run.
    */
  def configStages(spark: SparkSession, tr: Tracer, configPath: String, in: String, out: String,
      cores: Int): Map[String, Double] = {
    val text = readFile(configPath)
    val frame = graft.Main.readMeds(spark, in)
    val build = (1 to 5).map(_ => timed(ConfigPipeline.run(frame, text))._2)
    val stages = ConfigPipeline.parse(text).stages
    val (_, t0) = prefixTimed(graft.Main.readMeds(spark, in).write.mode("overwrite").parquet(s"$out/data"))
    // each prefix's output rows are read back outside its timing
    val runs = stages.indices.map { k =>
      val ((_, op), t) = prefixTimed(tr.op(s"prefix:${stages(k)}", traced = true)(
        tr.call("graft.Main.run")(graft.Main.run(spark, prefixConfig(text, k + 1), in, out))))
      (t, spark.read.parquet(s"$out/data").count().toDouble, op.get)
    }
    tr.drain()
    val full = tr.opMetrics(runs.last._3, cores)
    val times = t0 +: runs.map(_._1)
    stages.indices.flatMap { k =>
      Seq(s"meds.stage_s.${stages(k)}" -> (times(k + 1) - times(k)), s"meds.rows_out.${stages(k)}" -> runs(k)._2)
    }.toMap ++ Map("meds.build_s" -> Bench.median(build),
      "io.write_bytes" -> full.writeBytes.toDouble, "io.write_s" -> full.writeS)
  }

  // ---------------------------------------------------------- dedup_curation

  /** The curation sequence over a seeded corpus in the registry's
    * `documents` layout, with the registry's parameters, so its DuckDB
    * oracles check the outputs.
    */
  final class DedupCuration(work: String, cores: Int) extends Workload {
    val name = "dedup_curation"
    val ops: IndexedSeq[String] = IndexedSeq("dedup_curation")
    private val dir = s"$work/input/dedup_curation"
    val MaxDocFreq = 1000
    private val corpus = Inputs.Corpus(docs = 4000, vocab = 5000, copyFrac = 0.15, mutate = 0.04,
      capBoilerFrac = 0.3, hotBoilerFrac = 0.1)

    private def docs(spark: SparkSession) = Tables.documents(spark, dir)

    def generate(spark: SparkSession, seed: Long): Unit =
      Inputs.corpus(spark, seed, corpus, cores).drop("is_copy")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def input(spark: SparkSession): DataFrame = docs(spark)

    private var props: Map[String, Any] = Map.empty
    def inputProps(spark: SparkSession, seed: Long): Map[String, Any] = {
      props = Inputs.corpusProps(Inputs.corpus(spark, seed, corpus, cores), MaxDocFreq)
      props
    }

    private def jaccard(d: DataFrame, tr: Tracer) =
      tr.call("Dedup.ngramJaccardPairs")(Dedup.ngramJaccardPairs(d, 0.5, 5, maxDocFreq = MaxDocFreq))
    private def clusters(d: DataFrame, tr: Tracer) = {
      val p = jaccard(d, tr)
      tr.call("Dedup.connectedComponents")(Dedup.connectedComponents(p))
    }
    private def survivors(d: DataFrame, tr: Tracer) = {
      val c = clusters(d, tr)
      tr.call("Dedup.keepBestPerCluster")(Dedup.keepBestPerCluster(
        d.select(col("doc_id").as("id"), col("n_chars").cast("long").as("score")), c, "score"))
        .select(col("cluster_id"), col("id"), col("score"))
    }
    private def sigs(d: DataFrame, tr: Tracer) =
      tr.call("Dedup.minhashSignatures")(Dedup.minhashSignatures(d, numHashes = 8, n = 5))
    private def minhashPairs(d: DataFrame, tr: Tracer) = {
      val s = sigs(d, tr)
      tr.call("Dedup.minhashCandidatePairs")(Dedup.minhashCandidatePairs(s, numHashes = 8, numBands = 4))
    }
    private def containment(d: DataFrame, tr: Tracer) =
      tr.call("Dedup.ngramContainmentPairs")(Dedup.ngramContainmentPairs(d, 0.4, 5))
        .select(col("id_a"), col("id_b"), r6(col("cont_a")).as("cont_a"), r6(col("cont_b")).as("cont_b"))
    private def jaccardOut(d: DataFrame, tr: Tracer) =
      jaccard(d, tr).select(col("id_a"), col("id_b"), r6(col("jaccard")).as("jaccard"))
    private def clusterOut(d: DataFrame, tr: Tracer) =
      clusters(d, tr).select(col("id"), col("label").as("cluster_id"))

    /** Each materialised output, by the registry query whose oracle checks it. */
    private val outputs: Seq[(String, (DataFrame, Tracer) => DataFrame)] = Seq(
      "q_dedup_survivors" -> survivors, "q_dedup_minhash" -> minhashPairs, "q_containment" -> containment)
    /** Prefixes of the sequence, checked and timed in the traced run. */
    private val prefixes: Seq[(String, (DataFrame, Tracer) => DataFrame)] = Seq(
      "q_dedup_jaccard" -> jaccardOut, "q_dedup_cluster" -> clusterOut, "q_minhash_sigs" -> sigs)

    private def materialise(tr: Tracer, q: String, df: DataFrame): String =
      tr.call(s"materialise $q")(Inputs.digest(df))

    def run(spark: SparkSession, tr: Tracer, op: String): Any = {
      val d = docs(spark)
      outputs.map { case (q, f) =>
        val t = System.nanoTime()
        val dg = materialise(tr, q, f(d, tr))
        (q, dg, (System.nanoTime() - t) / 1e9)
      }
    }

    private def parts(result: Any) = result.asInstanceOf[Seq[(String, String, Double)]]
    def digestOf(spark: SparkSession, op: String, result: Any): String = parts(result).map(_._2).mkString("|")
    override def queries(op: String, result: Any, seconds: Double): Seq[(String, Double)] =
      parts(result).map(p => p._1 -> p._3)

    /** Writes each output once through the same calls an operation makes,
      * then runs one operation.
      */
    def warmUp(spark: SparkSession, traced: Boolean): (Map[String, String], Seq[(String, String)]) = {
      val d = docs(spark)
      val noTrace = Bench.NoTrace(spark)
      val checked = parallel(cores)((outputs ++ (if (traced) prefixes else Nil)).map { case (q, f) => () =>
        val path = s"$work/check/$q"
        (q, path, writeCheck(f(d, noTrace), path))
      })
      val expected = Map(name -> checked.take(outputs.size).map(_._3).mkString("|")) ++
        checked.drop(outputs.size).map { case (q, _, dg) => q -> dg }
      run(spark, noTrace, name)
      (expected, checked.map { case (q, p, _) => q -> p })
    }

    def layerExtras(spark: SparkSession, tr: Tracer, ctx: Bench.Ctx): Map[String, Double] = {
      val d = docs(spark)
      // prefix materialisation: each step's self time is the difference
      // between the prefix that ends with it and the one before
      def prefix(label: String, f: (DataFrame, Tracer) => DataFrame): (Double, Int, String) = {
        val ((dg, id), t) = prefixTimed(tr.op(s"prefix:$label", traced = true)(materialise(tr, label, f(d, tr))))
        (t, id.get, dg)
      }
      val (tJ, opJ, dJ) = prefix("q_dedup_jaccard", jaccardOut)
      val (tC, opC, dC) = prefix("q_dedup_cluster", clusterOut)
      val (tK, _, dK) = prefix("q_dedup_survivors", survivors)
      val (tS, _, dS) = prefix("q_minhash_sigs", sigs)
      val (tP, _, dP) = prefix("q_dedup_minhash", minhashPairs)
      val (tT, _, dT) = prefix("q_containment", containment)
      ctx.check("q_dedup_jaccard", dJ); ctx.check("q_dedup_cluster", dC)
      ctx.check("q_minhash_sigs", dS)
      ctx.check(name, Seq(dK, dP, dT).mkString("|"))
      tr.drain()
      val candidates = tr.pairGeneratorRows(opJ).toDouble
      val verified = dJ.takeWhile(_ != ':').toDouble
      val ccJobs = tr.spanIdsNamed("Dedup.connectedComponents").filter(tr.opOf(_) == opC)
        .map(tr.jobsUnder).sum.toDouble
      val texts = d.select("text").limit(3000).collect().map(_.getString(0)).toSeq
      val kernels = Kernels.run(texts, n = 5, numHashes = 8, maxBucket = MaxDocFreq, minNs = 300000000L)
      Map(
        "dedup.step_s.jaccard" -> tJ, "dedup.step_s.components" -> (tC - tJ),
        "dedup.step_s.keep_best" -> (tK - tC), "dedup.step_s.minhash_sigs" -> tS,
        "dedup.step_s.minhash_pairs" -> (tP - tS), "dedup.step_s.containment" -> tT,
        "dedup.candidate_pairs" -> candidates, "dedup.verified_pairs" -> verified,
        "dedup.pair_yield" -> (if (candidates > 0) verified / candidates else 0.0),
        "dedup.max_bucket" -> props.getOrElse("largest_kept_bucket", 0L).toString.toDouble,
        "dedup.cc_jobs" -> ccJobs) ++
        kernels.flatMap { case (k, t) =>
          Seq(s"functions.$k.ns_per_row" -> t.nsPerRow, s"functions.$k.alloc_bytes_per_row" -> t.allocBytesPerRow)
        }
    }
  }

  // ------------------------------------------------------------ meds_queries

  /** The registry's MEDS-stage queries, the keys from
    * `q_agg_code_metadata` to `q_tensorize` (the two composed pipelines
    * among them), each run to `count()` in this fixed order.
    */
  val MedsQueryKeys: IndexedSeq[String] = IndexedSeq(
    "q_agg_code_metadata", "q_agg_merge", "q_agg_all_codes", "q_filter_measurements",
    "q_filter_patients_meas", "q_filter_patients_events", "q_add_age", "q_time_of_day",
    "q_time_derived_stage", "q_meds_pipeline", "q_pipeline_config", "q_occlude_outliers",
    "q_winsorize", "q_normalize", "q_fit_vocab", "q_fit_vocab_scalable",
    "q_reorder_measurements", "q_tokenize_schema", "q_tokenize_seqs", "q_tensorize")

  final class MedsQueries(work: String, root: String, cores: Int) extends Workload {
    val name = "meds_queries"
    val ops: IndexedSeq[String] = MedsQueryKeys
    private val dir = s"$work/input/meds_queries"
    private val size = Inputs.Events(rows = 8000, users = 200)
    private val registry = graft.SparkEntry.queries

    def generate(spark: SparkSession, seed: Long): Unit =
      Inputs.events(spark, seed, size, cores).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

    def input(spark: SparkSession): DataFrame = Tables.events(spark, dir)

    def inputProps(spark: SparkSession, seed: Long): Map[String, Any] =
      Inputs.cohortProps(input(spark), "user_id", "ts", "event_type")

    def run(spark: SparkSession, tr: Tracer, op: String): Any = {
      val df = tr.call(s"SparkEntry.queries($op)")(registry(op)(spark, dir))
      tr.call("count")(df.count())
    }

    def digestOf(spark: SparkSession, op: String, result: Any): String = result.toString

    /** Writes every query's output once, then runs it twice as an
      * operation does; an operation's digest is its row count.
      */
    def warmUp(spark: SparkSession, traced: Boolean): (Map[String, String], Seq[(String, String)]) = {
      val noTrace = Bench.NoTrace(spark)
      val checked = parallel(cores)(ops.map { q => () =>
        val path = s"$work/check/$q"
        val dg = writeCheck(registry(q)(spark, dir), path)
        run(spark, noTrace, q)
        run(spark, noTrace, q)
        (q, path, dg.takeWhile(_ != ':'))
      })
      (checked.map(c => c._1 -> c._3).toMap, checked.map(c => c._1 -> c._2))
    }

    def layerExtras(spark: SparkSession, tr: Tracer, ctx: Bench.Ctx): Map[String, Double] = {
      val perQuery = ops.map(q => s"operators.$q.s" -> Bench.median(ctx.tracedLatencies(q)))
      // the same stage split through graft.Main.run over this cohort;
      // Main reads a directory holding events.parquet as MEDS
      configStages(spark, tr, s"$root/configs/preprocess_example.yaml", dir, s"$work/out/meds_prefix", cores) ++
        perQuery
    }
  }
}
