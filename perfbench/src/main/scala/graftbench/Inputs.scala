package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of the seed
  * and the row keys (through `xxhash64` or a seeded permutation of the
  * ids), so the same seed gives the same rows under any partitioning, and
  * the program under test only ever sees the written parquet.
  */
object Inputs {

  /** Uniform [0, 1) from the seed, a per-use salt and the row keys. */
  def u(seed: Long, salt: Int, keys: Column*): Column =
    shiftrightunsigned(xxhash64((lit(seed) +: lit(salt) +: keys): _*), 11).cast("double") /
      lit((1L << 53).toDouble)

  private val Multipliers = Seq(1000003L, 1000033L, 1000037L, 1000039L, 1000081L, 1000099L)

  /** A seeded permutation of the row ids 0 until n, as
    * (id * a + b) mod n with a prime a > n (so coprime to n), plus its
    * inverse. Draws taken at permuted positions are stratified: every
    * seed gets the same multiset of values in a different order, so the
    * work a workload does barely moves with the seed.
    */
  final case class Perm(seed: Long, salt: Int, n: Long) {
    private val a = Multipliers(java.lang.Math.floorMod(seed * 31 + salt, Multipliers.size.toLong).toInt)
    private val b = java.lang.Math.floorMod(new scala.util.Random(seed * 1000003L + salt).nextLong(), n)
    private val aInv = BigInt(a).modInverse(BigInt(n)).toLong
    def pos(id: Column): Column = pmod(id * a + b, lit(n))
    def id(pos: Column): Column = pmod((pos - b) * aInv, lit(n))
    /** Stratified uniform in (0, 1): the midpoint of the id's stratum. */
    def u(id: Column): Column = (pos(id) + 0.5) / n.toDouble
  }

  /** Zipf(1)-like rank in [0, n): log-uniform over [1, n + 1). */
  def zipfRank(uc: Column, n: Int): Column =
    least(lit(n - 1L), floor(exp(uc * lit(math.log(n + 1.0)))).cast("long") - 1L)

  /** Approximately standard-normal (Irwin–Hall with four uniforms). */
  private def normal(seed: Long, salt: Int, keys: Column*): Column =
    (u(seed, salt, keys: _*) + u(seed, salt + 1, keys: _*) + u(seed, salt + 2, keys: _*) +
      u(seed, salt + 3, keys: _*) - 2.0) * math.sqrt(3.0)

  private val Day = 86400L * 1000000L
  private val Epoch1990 = 631152000L * 1000000L
  private val Epoch2024 = 1704067200L * 1000000L

  // ------------------------------------------------------------ MEDS cohort

  final case class Cohort(patients: Int, codes: Int, minLen: Int, alpha: Double, maxLen: Int)

  /** MEDS measurement rows (patient_id, time, code, numeric_value):
    * Pareto-tailed (stratified) per-patient lengths, measurements grouped 1-4 per
    * event time, Zipf-distributed codes (LAB codes carry log-normal
    * values with 0.5% ×50 outliers, DX codes none), and two static rows
    * (null time) per patient.
    */
  def medsCohort(spark: SparkSession, seed: Long, c: Cohort, slices: Int): DataFrame = {
    val pid = col("patient_id")
    val patients = spark.range(0, c.patients, 1, slices).toDF("patient_id").select(
      pid,
      least(lit(c.maxLen), floor(lit(c.minLen.toDouble) *
        pow(lit(1.0) - Perm(seed, 1, c.patients).u(pid), lit(-1.0 / c.alpha))).cast("int")).as("len"),
      (lit(Epoch1990) + (u(seed, 2, pid) * lit(30 * 365 * Day.toDouble)).cast("long")).as("start"),
      (lit(3600L * 1000000L) * pow(lit(720.0), u(seed, 3, pid))).cast("long").as("gap"),
      (lit(1L) + floor(u(seed, 4, pid) * 4).cast("long")).as("per_event"))
    val i = col("i")
    val e = floor(i / col("per_event"))
    val rank = zipfRank(u(seed, 6, pid, i), c.codes)
    val isLab = pmod(rank, lit(3L)) =!= 0
    val value = (lit(5.0) + pmod(rank, lit(97L)).cast("double")) *
      exp(normal(seed, 7, pid, i) * 0.25) *
      when(u(seed, 11, pid, i) < 0.005, lit(50.0)).otherwise(lit(1.0))
    val dynamic = patients
      .select(pid, col("start"), col("gap"), col("per_event"),
        explode(sequence(lit(0L), col("len").cast("long") - 1L)).as("i"))
      .select(
        pid,
        timestamp_micros(col("start") + e * col("gap") +
          floor(u(seed, 5, pid, e) * col("gap") / 2).cast("long")).as("time"),
        when(isLab, concat(lit("LAB//"), rank.cast("string")))
          .otherwise(concat(lit("DX//"), rank.cast("string"))).as("code"),
        when(isLab, round(value, 2)).cast(FloatType).as("numeric_value"))
    val statics = patients.select(pid, explode(array(
      when(u(seed, 20, pid) < 0.5, lit("GENDER//F")).otherwise(lit("GENDER//M")),
      concat(lit("RACE//"), floor(u(seed, 21, pid) * 6).cast("long").cast("string")))).as("code"))
      .select(pid, lit(null).cast(TimestampType).as("time"), col("code"),
        lit(null).cast(FloatType).as("numeric_value"))
    statics.unionByName(dynamic)
  }

  /** The cohort's properties later changes cite: rows, patients,
    * distinct codes, p50/p99 per-patient length and the static-row share.
    */
  def cohortProps(meds: DataFrame, pidCol: String, timeCol: String, codeCol: String): Map[String, Any] = {
    val perPatient = meds.groupBy(col(pidCol)).agg(count(lit(1)).as("n"))
      .agg(sum("n").as("rows"), count(lit(1)).as("patients"),
        percentile(col("n"), lit(0.5)).as("p50"), percentile(col("n"), lit(0.99)).as("p99"))
      .head()
    val other = meds.agg(countDistinct(col(codeCol)).as("codes"),
      sum(when(col(timeCol).isNull, 1L).otherwise(0L)).as("static")).head()
    val rows = perPatient.getLong(0)
    Map(
      "rows" -> rows, "patients" -> perPatient.getLong(1),
      "distinct_codes" -> other.getLong(0),
      "patient_len_p50" -> perPatient.getDouble(2), "patient_len_p99" -> perPatient.getDouble(3),
      "static_row_share" -> other.getLong(1).toDouble / rows)
  }

  // ----------------------------------------------- events (registry layout)

  final case class Events(rows: Int, users: Int)

  private val EventTypes = Seq("view" -> 0.40, "click" -> 0.25, "purchase" -> 0.15,
    "signup" -> 0.12, "error" -> 0.08)

  /** The registry's `events` table layout (event_id, ts, user_id,
    * event_type, value, props) over 30 days: strictly increasing `ts`
    * (no (user, ts, type) ties, which the tensorize oracle relies on),
    * Zipf-distributed users so per-user lengths are heavy-tailed,
    * weighted event types (both stratified, so every seed has the same
    * per-user and per-type counts), and log-normal values with 0.5%
    * outliers.
    */
  def events(spark: SparkSession, seed: Long, c: Events, slices: Int): DataFrame = {
    val id = col("event_id")
    val step = 30 * Day / c.rows
    val cum = EventTypes.scanLeft(0.0)(_ + _._2).tail
    val pick = Perm(seed, 3, c.rows).u(id)
    val etype = EventTypes.zip(cum).init.foldRight(lit(EventTypes.last._1)) {
      case (((name, _), bound), rest) => when(pick < bound, lit(name)).otherwise(rest)
    }
    spark.range(0, c.rows, 1, slices).toDF("event_id").select(
      id,
      timestamp_micros(lit(Epoch2024) + id * step + floor(u(seed, 1, id) * step).cast("long"))
        .cast(TimestampNTZType).as("ts"),
      zipfRank(Perm(seed, 2, c.rows).u(id), c.users).as("user_id"),
      etype.as("event_type"),
      round(lit(20.0) * exp(normal(seed, 4, id) * 0.8) *
        when(u(seed, 8, id) < 0.005, lit(40.0)).otherwise(lit(1.0)), 2).as("value"),
      concat(lit("{\"k\": "), floor(u(seed, 9, id) * 100).cast("long").cast("string"), lit("}"))
        .as("props"))
  }

  // ------------------------------------------------------------------ corpus

  final case class Corpus(docs: Int, vocab: Int, copyFrac: Double, mutate: Double,
      capBoilerFrac: Double, hotBoilerFrac: Double)

  /** Words are base-26 letter strings, so the engine's `[a-z]+`
    * tokenizer sees exactly the generated tokens.
    */
  private def word(rank: Column): Column =
    translate(conv(rank.cast("string"), 10, 26), "0123456789abcdefghijklmnop",
      "abcdefghijklmnopqrstuvwxyz")

  /** Boilerplate appended to a share of the corpus: the first is shared
    * by more documents than the pair generators' bucket cap (1000), the
    * second by fewer, so it stays and forms the hot buckets.
    */
  val CapBoiler = "copyright all rights reserved terms of use privacy policy apply"
  val HotBoiler = "subscribe to our weekly newsletter for more stories like this"

  /** The registry's `documents` layout (doc_id, text, lang, source,
    * n_chars): Zipf vocabulary, Pareto-tailed (stratified) lengths,
    * planted near-duplicate families (a copy re-draws each token of an
    * original with probability `mutate`) and two boilerplate tails.
    */
  def corpus(spark: SparkSession, seed: Long, c: Corpus, slices: Int): DataFrame = {
    val id = col("doc_id")
    // exact shares: the first copyFrac·n positions of one permutation are
    // copies, each of an original drawn from the remaining positions; the
    // boilerplate tails take the first positions of another
    val copies = Perm(seed, 1, c.docs)
    val nCopies = (c.copyFrac * c.docs).toLong
    val isCopy = copies.pos(id) < nCopies
    val source = copies.id(lit(nCopies) + floor(u(seed, 2, id) * (c.docs - nCopies)).cast("long"))
    val boiler = Perm(seed, 5, c.docs).pos(id)
    val base = col("base")
    spark.range(0, c.docs, 1, slices).toDF("doc_id")
      .select(id, isCopy.as("is_copy"), when(isCopy, source).otherwise(id).as("base"))
      .select(id, col("is_copy"), base,
        least(lit(400), floor(lit(24.0) * pow(lit(1.0) - Perm(seed, 4, c.docs).u(base), lit(-0.5))).cast("int"))
          .as("len"))
      .select(id, col("is_copy"),
        transform(sequence(lit(0), col("len") - 1), i =>
          word(when(col("is_copy") && u(seed, 6, id, i) < c.mutate,
            zipfRank(u(seed, 7, id, i), c.vocab))
            .otherwise(zipfRank(u(seed, 3, base, i), c.vocab)))).as("toks"))
      .select(id, col("is_copy"),
        concat_ws(" ", col("toks"),
          when(boiler < (c.capBoilerFrac * c.docs).toLong, lit(CapBoiler))
            .when(boiler < ((c.capBoilerFrac + c.hotBoilerFrac) * c.docs).toLong, lit(HotBoiler)))
          .as("text"))
      .select(id, col("text"),
        element_at(array(lit("en"), lit("fr"), lit("de"), lit("zh")),
          (floor(u(seed, 8, id) * 4) + 1).cast("int")).as("lang"),
        concat(lit("src"), floor(u(seed, 9, id) * 10).cast("long").cast("string")).as("source"),
        length(col("text")).cast("long").as("n_chars"),
        col("is_copy"))
  }

  /** Corpus properties: documents, planted near-duplicate share, and the
    * largest 5-shingle document frequency, uncapped and under the
    * pair generators' cap.
    */
  def corpusProps(docs: DataFrame, cap: Int): Map[String, Any] = {
    val n = docs.count()
    val copies = docs.filter(col("is_copy")).count()
    val df = graft.dedup.Dedup.shingleHashTable(docs, "doc_id", "text", 5)
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .agg(max("df"), max(when(col("df") <= cap, col("df")))).head()
    Map("docs" -> n, "near_dup_share" -> copies.toDouble / n,
      "largest_shingle_bucket" -> df.getLong(0), "largest_kept_bucket" -> df.getLong(1))
  }

  // ------------------------------------------------------------------ digest

  /** Order-independent digest of a frame: row count plus the sums of the
    * two 32-bit halves of a per-row xxhash64 over every column (floating
    * columns rounded to six decimals, as the registry's outputs are).
    */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      f.dataType match {
        case FloatType | DoubleType => graft.functions.Portable.r6(col(f.name).cast(DoubleType))
        case _ => col(f.name)
      }
    }
    val h = xxhash64(cols.toSeq: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").bitwiseAND(0xFFFFFFFFL)), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0L)}:${Option(r.get(2)).getOrElse(0L)}"
  }
}
