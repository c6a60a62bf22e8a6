package graft.dedup

import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash/LSH band index: build once over the corpus, then
  * dedup every INCREMENTAL batch against it without recomputing a
  * single corpus signature — the production shape of "is this new
  * document a near-dup of anything we already have", which the batch
  * [[Dedup.minhashCandidatePairs]] answers only by re-reading the whole
  * corpus. The [[graft.ann.IvfIO]] discipline applied to dedup.
  *
  * Layout under `dir`: `bands/` — (band, sig, id, bucket_n), written
  * `partitionBy("band")`. `bucket_n` is the bucket's size AT BUILD
  * time, stored denormalized so the query side can drop degenerate
  * buckets (boilerplate band values shared by millions of docs) with a
  * FILTER — no index-side aggregation at query time.
  *
  * Query shape: the new batch's band keys (batch-sized × numBands) are
  * the BROADCAST side of one equi-join on (band, sig) against the
  * index scan; the index never shuffles, and candidates arrive with
  * their band-agreement count. `append` maintains the index
  * incrementally (bucket_n of appended rows counts only the batch —
  * the conservative direction: a bucket is dropped only when some
  * WRITE already saw it oversized; `write` afresh to re-tighten).
  */
object LshIO {

  /** The index's signature parameters, persisted at write time as
    * `params.json` next to `bands/`. [[candidatesAgainst]]/[[append]]
    * recompute probe band keys from caller-supplied (numHashes,
    * numBands, n) — probing an index written with DIFFERENT parameters
    * would silently return empty or wrong candidates, so the manifest
    * is validated on every read-side entry point and mismatch is an
    * error, not a wrong answer.
    */
  final case class Params(numHashes: Int, numBands: Int, n: Int)

  private def paramsPath(dir: String) =
    new org.apache.hadoop.fs.Path(s"$dir/params.json")

  /** Atomic manifest write: the bytes land at a temp path and RENAME
    * into place, so a reader racing the write (or a crash mid-write)
    * sees either no manifest or a complete one — never a truncated
    * file. Rename is atomic on HDFS and POSIX local FS; object stores
    * without atomic rename get copy-then-delete, where the window is
    * covered by [[readParams]] failing closed on malformed bytes.
    */
  private def writeParams(spark: SparkSession, dir: String, p: Params): Unit = {
    val path = paramsPath(dir)
    val tmp = new org.apache.hadoop.fs.Path(
      s"$dir/.params.json.tmp-${java.util.UUID.randomUUID()}")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(tmp, true)
    try out.write(
      s"""{"numHashes":${p.numHashes},"numBands":${p.numBands},"n":${p.n}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(path)) fs.delete(path, false)
    if (!fs.rename(tmp, path))
      sys.error(s"LshIO: could not move manifest into place at $path")
  }

  /** The manifest of an existing index; None when absent (an index
    * whose bands exist but whose manifest is missing fails CLOSED at
    * [[requireParams]] — see there).
    */
  def readParams(spark: SparkSession, dir: String): Option[Params] = {
    val path = paramsPath(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      val txt =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      def field(k: String): Int =
        s""""$k"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(txt) match {
          case Some(m) => m.group(1).toInt
          case None => sys.error(s"LshIO: malformed params manifest at $path: $txt")
        }
      Some(Params(field("numHashes"), field("numBands"), field("n")))
    }
  }

  /** Fail CLOSED on every read-side entry: a missing manifest is an
    * error, not a silently-trusted "pre-manifest" index — a crash
    * between the bands write and the manifest rename (or a hand-rolled
    * index dir) must surface here, not as empty/wrong candidates.
    */
  private def requireParams(
      spark: SparkSession, dir: String, caller: Params, op: String): Unit =
    readParams(spark, dir) match {
      case Some(stored) =>
        require(stored == caller,
          s"LshIO.$op: index at $dir was written with $stored but caller supplied " +
            s"$caller — probing with mismatched parameters silently yields wrong " +
            "candidates. Rebuild the index or pass the stored parameters.")
      case None =>
        sys.error(
          s"LshIO.$op: no params manifest at ${paramsPath(dir)} — the index is " +
            "incomplete (crashed write?) or was not built by LshIO.write. " +
            "Rebuild with write() rather than probing with unverifiable parameters.")
    }

  private def bandTable(
      docs: DataFrame,
      numHashes: Int,
      numBands: Int,
      n: Int,
      idCol: String,
      textCol: String): DataFrame = {
    val sig = Dedup.withMinhashSig(docs, col(textCol), "__sig", numHashes, n)
      .filter(col("__sig").isNotNull)
    sig
      .select(col(idCol).cast("long").as("id"),
        explode(Dedup.bandKeysColumn(col("__sig"), numHashes, numBands)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.sig").as("sig"), col("id"))
  }

  private def withBucketN(bands: DataFrame): DataFrame = {
    val counts = bands.groupBy("band", "sig").agg(count(lit(1)).as("bucket_n"))
    bands.join(counts, Seq("band", "sig"))
  }

  /** Build and persist the index over `docs`. */
  def write(
      docs: DataFrame,
      dir: String,
      numHashes: Int = 16,
      numBands: Int = 4,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val spark = docs.sparkSession
    // invalidate any existing manifest BEFORE overwriting the bands:
    // a crash anywhere in the rebuild then leaves a manifest-less index
    // that every read-side entry point rejects loudly, never a stale
    // manifest validating old-parameter probes against new bands
    val p = paramsPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, false)
    withBucketN(bandTable(docs, numHashes, numBands, n, idCol, textCol))
      .write.mode("overwrite").partitionBy("band").parquet(s"$dir/bands")
    writeParams(spark, dir, Params(numHashes, numBands, n))
  }

  /** Append a new batch's band rows to an existing index. */
  def append(
      docs: DataFrame,
      dir: String,
      numHashes: Int = 16,
      numBands: Int = 4,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    requireParams(docs.sparkSession, dir, Params(numHashes, numBands, n), "append")
    withBucketN(bandTable(docs, numHashes, numBands, n, idCol, textCol))
      .write.mode("append").partitionBy("band").parquet(s"$dir/bands")
  }

  def read(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, s"$dir/bands")

  /** Candidate near-dup pairs of a NEW batch against the stored index:
    * (id_new, id_index, n_bands_agree), id_new ≠ id_index. The batch's
    * band keys broadcast; index buckets larger than `maxBucketSize` (as
    * recorded at write) are dropped whole — past the cap they are
    * degenerate families better handled by exact dedup.
    */
  def candidatesAgainst(
      newDocs: DataFrame,
      spark: SparkSession,
      dir: String,
      numHashes: Int = 16,
      numBands: Int = 4,
      n: Int = 3,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxBucketSize: Long = 1000L): DataFrame = {
    requireParams(spark, dir, Params(numHashes, numBands, n), "candidatesAgainst")
    val probe = bandTable(newDocs, numHashes, numBands, n, idCol, textCol)
      .withColumnRenamed("id", "id_new")
    read(spark, dir)
      .filter(col("bucket_n") <= maxBucketSize)
      .join(broadcast(probe), Seq("band", "sig"))
      .filter(col("id") =!= col("id_new"))
      .groupBy(col("id_new"), col("id").as("id_index"))
      .agg(count(lit(1)).as("n_bands_agree"))
  }
}
