package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, rand}

import scala.collection.mutable

/** The benchmark JVM: one workload, one seed, one closed-loop client.
  *
  * Untraced run: start a session and generate the seeded inputs
  * `SetupReps` times, run one cold warm-up iteration that also computes
  * the reference digests, then run operations back to back for
  * `--seconds`, checking each output against its reference outside the
  * timed region. Traced run: one set-up, then twice `--seconds` with
  * every other operation traced, followed by the workload's per-layer
  * extras. Everything measured goes to the JSON file named by `--out`;
  * `run.py` turns it into the reported metrics.
  */
object Bench {

  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, root: String, cores: Int, out: String, selfcheck: Boolean)

  def NoTrace(spark: SparkSession): Tracer = new Tracer(spark, listen = false)

  /** Attempted and failed operations, and every operation's latency. */
  final class Ctx(expected: Map[String, String]) {
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val latencies = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
    val queries = mutable.ArrayBuffer.empty[(String, Double, Boolean)]

    def check(op: String, digest: String): Unit = {
      attempted += 1
      if (!expected.get(op).contains(digest)) {
        failed += 1
        failures += s"$op: output digest $digest, reference ${expected.getOrElse(op, "missing")}"
      }
    }
    def fail(op: String, e: Throwable): Unit = {
      attempted += 1
      failed += 1
      failures += s"$op: ${e.getClass.getName}: ${e.getMessage}".take(2000)
    }
    def tracedLatencies(op: String): Seq[Double] =
      latencies.collect { case (o, s, true) if o == op => s }.toSeq
  }

  def newSession(a: Args): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // built the way graft.Main builds its standalone session: graft's
    // session defaults, shuffle partitions = cores, UTC
    val b = SparkSession.builder().appName(s"graft-bench-${a.workload}")
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    val s = graft.SessionDefaults.applyTo(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m.getOrElse("trace", "0") == "1",
      m("work"), m("root"), m("cores").toInt, m("out"), m.getOrElse("selfcheck", "0") == "1")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val result = if (a.selfcheck) selfCheck(a) else run(a)
    Json.write(a.out, result)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }
  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def host(a: Args, spark: SparkSession): Map[String, Any] = Map(
    "cores" -> a.cores, "master" -> spark.sparkContext.master,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
    "java" -> System.getProperty("java.version"), "spark" -> spark.version)

  def run(a: Args): Map[String, Any] = {
    val w = Workloads(a.workload, a.work, a.root, a.cores)
    // wall time of each phase of the run, for sizing the benchmark
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime(); phases(name) = (now - mark) / 1e9; mark = now
    }
    var spark: SparkSession = null
    val setup = mutable.ArrayBuffer.empty[Double]
    val inputDigests = mutable.ArrayBuffer.empty[String]
    // a failure outside the measured loop fails the run: it is recorded
    // and every measured operation then fails its check
    val setupFailures = mutable.ArrayBuffer.empty[String]
    def attempt[T](what: String, orElse: T)(body: => T): T =
      try body catch { case e: Exception =>
        setupFailures += s"$what: ${e.getClass.getName}: ${e.getMessage}".take(2000); orElse }
    // set-up: session start and input generation, repeated (median
    // reported), then one cold warm-up iteration, which also computes
    // the reference digests and writes the outputs the oracle checks
    for (_ <- 1 to (if (a.trace) 1 else SetupReps)) {
      if (spark != null) spark.stop()
      val t = System.nanoTime()
      spark = newSession(a)
      w.generate(spark, a.seed)
      setup += (System.nanoTime() - t) / 1e9
      inputDigests += Inputs.digest(w.input(spark))
    }
    if (inputDigests.distinct.size != 1)
      setupFailures += s"same seed, different input digests: $inputDigests"
    val tw = System.nanoTime()
    val (expected, checks) = attempt("warm-up", (Map.empty[String, String], Seq.empty[(String, String)]))(
      w.warmUp(spark, a.trace))
    val warmUpS = (System.nanoTime() - tw) / 1e9
    phase("setup")
    val props = w.inputProps(spark, a.seed)
    // start measuring from a collected heap, not the warm-up's garbage
    System.gc()
    phase("input_props")
    val ctx = new Ctx(if (setupFailures.isEmpty) expected else Map.empty)
    ctx.failures ++= setupFailures
    val tr = new Tracer(spark, listen = a.trace)

    // closed loop: the next operation starts when the previous one ends;
    // a traced run traces every other operation, flipping the parity each
    // pass, so traced and untraced samples of each op interleave in time
    val window = (if (a.trace) 2L else 1L) * a.seconds * 1000000000L
    val start = System.nanoTime()
    var i = 0
    val tracedOps = mutable.ArrayBuffer.empty[Int]
    while (System.nanoTime() - start < window) {
      val op = w.ops(i % w.ops.size)
      val traced = a.trace && (i % w.ops.size + i / w.ops.size) % 2 == 1
      try {
        val t = System.nanoTime()
        val (res, id) = tr.op(s"op:$op", traced)(w.run(spark, tr, op))
        val sec = (System.nanoTime() - t) / 1e9
        ctx.latencies += ((op, sec, traced))
        ctx.queries ++= w.queries(op, res, sec).map { case (q, s) => (q, s, traced) }
        id.foreach(tracedOps += _)
        ctx.check(op, w.digestOf(spark, op, res))
      } catch { case e: Exception => ctx.fail(op, e) }
      i += 1
    }

    phase("measure")
    val (layers, kinds) = if (!a.trace) (Map.empty[String, Double], Nil) else {
      val extras = w.layerExtras(spark, tr, ctx)
      tr.drain()
      val ms = tracedOps.toSeq.map(tr.opMetrics(_, a.cores))
      (perLayer(ms, ctx) ++ extras, kindSeconds(ms).map { case (k, s) => Map("kind" -> k, "s" -> s) })
    }
    val oracle = graft.SparkEntry.oracleSql
    phase("per_layer")
    val canary = Map("host_canary_s" -> graft.Bench.hostCanarySec(),
      "host_canary_mt_s" -> graft.Bench.hostCanaryMtSec(a.cores))
    phase("canary")
    val out = Map(
      "phase_s" -> phases,
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace, "seconds" -> a.seconds,
      "host" -> host(a, spark), "canary" -> canary,
      "setup_s" -> (median(setup.toSeq) + warmUpS), "setup_reps_s" -> setup, "warm_up_s" -> warmUpS,
      "input_digest" -> inputDigests.head, "input_props" -> props,
      "ops" -> ctx.latencies.map { case (o, s, t) => Map("op" -> o, "s" -> s, "traced" -> t) },
      "queries" -> ctx.queries.map { case (q, s, t) => Map("query" -> q, "s" -> s, "traced" -> t) },
      "attempted" -> ctx.attempted, "failed" -> ctx.failed, "failures" -> ctx.failures,
      "expected" -> expected,
      "oracle_checks" -> checks.map { case (q, p) =>
        Map("query" -> q, "path" -> p, "sql" -> oracle(q)) },
      "per_layer" -> layers, "plan_kinds_by_time" -> kinds,
      "spans" -> (if (a.trace) tr.spanJson else Nil))
    tr.close()
    spark.stop()
    out
  }

  /** Plan-node kinds by mean seconds per traced operation, largest first. */
  private def kindSeconds(ms: Seq[Tracer.OpMetrics]): Seq[(String, Double)] =
    ms.flatMap(_.nodes.keys).distinct
      .map(k => k -> mean(ms.map(_.nodes.get(k).map(_._1).getOrElse(0.0)))).sortBy(-_._2)

  /** Per-layer engine and plan figures, averaged over traced operations. */
  private def perLayer(ms: Seq[Tracer.OpMetrics], ctx: Ctx): Map[String, Double] = {
    def avg(f: Tracer.OpMetrics => Double) = mean(ms.map(f))
    val top = kindSeconds(ms)
    val plan = Tracer.Kinds.flatMap { k =>
      Seq(s"plan.$k.s" -> avg(_.nodes.get(k).map(_._1).getOrElse(0.0)),
        s"plan.$k.rows" -> avg(_.nodes.get(k).map(_._2.toDouble).getOrElse(0.0)))
    } ++ (0 until 3).map(r => s"plan.top${r + 1}.s" -> top.lift(r).map(_._2).getOrElse(0.0))
    // tracing overhead: traced over untraced, with run_s and query_p50_s
    // defined as in run.py (per-name medians, summed over the cycle or
    // the median across queries)
    def perName(xs: Seq[(String, Double, Boolean)], traced: Boolean): Seq[Double] =
      xs.filter(_._3 == traced).groupBy(_._1).values.map(g => median(g.map(_._2))).toSeq
    val overhead = Seq(
      "trace.overhead.run_s" -> perName(ctx.latencies.toSeq, true).sum / perName(ctx.latencies.toSeq, false).sum,
      "trace.overhead.query_p50_s" ->
        median(perName(ctx.queries.toSeq, true)) / median(perName(ctx.queries.toSeq, false)))
    Map(
      "engine.plan_s" -> avg(_.planS), "engine.jobs" -> avg(_.jobs), "engine.stages" -> avg(_.stages),
      "engine.tasks" -> avg(_.tasks), "engine.driver_gap_s" -> avg(_.driverGapS),
      "engine.task_s" -> avg(_.taskS), "engine.cpu_s" -> avg(_.cpuS), "engine.cpu_util" -> avg(_.cpuUtil),
      "engine.gc_s" -> avg(_.gcS), "engine.shuffle_write_bytes" -> avg(_.shuffleWrite.toDouble),
      "engine.shuffle_read_bytes" -> avg(_.shuffleRead.toDouble), "engine.spill_bytes" -> avg(_.spill.toDouble),
      "engine.peak_task_mem_bytes" -> avg(_.peakTaskMem.toDouble), "engine.task_skew" -> avg(_.taskSkew),
      "io.read_bytes" -> avg(_.readBytes.toDouble), "io.write_bytes" -> avg(_.writeBytes.toDouble),
      "io.write_s" -> avg(_.writeS),
      "failed_frac" -> ctx.failed.toDouble / math.max(1, ctx.attempted)) ++ plan ++ overhead
  }

  /** Generator and digest self-checks: the same seed gives identical
    * input digests, another seed different ones, and an output digest
    * does not depend on row order or partitioning.
    */
  def selfCheck(a: Args): Map[String, Any] = {
    val spark = newSession(a)
    val results = Seq("meds_etl", "dedup_curation", "meds_queries").map { name =>
      val w = Workloads(name, a.work, a.root, a.cores)
      def gen(seed: Long) = { w.generate(spark, seed); Inputs.digest(w.input(spark)) }
      val (d1, d2, d3) = (gen(a.seed), gen(a.seed), gen(a.seed + 1))
      w.generate(spark, a.seed)
      val df = w.input(spark)
      val reordered = df.repartition(7, rand(1)).sortWithinPartitions(df.columns.map(col(_).desc): _*)
      val (o1, o2, o3) = (Inputs.digest(df), Inputs.digest(reordered), Inputs.digest(df.coalesce(1)))
      name -> Map(
        "same_seed_same_digest" -> (d1 == d2), "other_seed_other_digest" -> (d1 != d3),
        "digest_order_independent" -> (o1 == o2 && o1 == o3),
        "digests" -> Seq(d1, d2, d3), "reordered" -> Seq(o1, o2, o3))
    }.toMap
    spark.stop()
    Map("selfcheck" -> results)
  }
}
