package graft.sources

import graft.meds.Meds
import graft.operators.Shard
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MEDS cohort I/O in the reference's sharded layout.
  *
  * The reference materializes each pipeline stage as
  * `<stage>/<split>/<shard>.parquet` (reference:
  * src/MEDS_transforms/extract/split_and_shard_patients.py +
  * merge_to_MEDS_cohort.py write pattern). graft maps that to Spark's
  * native partitioned-parquet layout `<root>/split=<s>/shard=<n>/...`:
  *   - partition pruning gives free split/shard selection on read
  *     (`spark.read...filter('split === "train")` never touches other
  *     directories);
  *   - each (split, shard) holds whole patients (shard = hash of
  *     patient_id), so per-patient operators downstream can run
  *     shard-parallel without cross-shard shuffles, exactly like the
  *     reference's map stage;
  *   - within each shard, rows are sorted by (patient_id, time) — the
  *     MEDS on-disk contract.
  */
object MedsIO {

  /** Write a MEDS measurement table in sharded layout.
    *
    * @param splitAssignment (patient_id, split, shard) from
    *   [[Shard.splitAndShardPatients]] / [[Shard.splitByModulo]]; it is
    *   patient-count sized (a "vocabulary" table relative to measurements)
    *   and therefore broadcast onto the fact table.
    */
  def writeSharded(df: DataFrame, splitAssignment: DataFrame, path: String): Unit =
    df.join(broadcast(splitAssignment), Seq(Meds.PatientId))
      .repartition(col("split"), col("shard"), col(Meds.PatientId))
      .sortWithinPartitions(col("split"), col("shard"), col(Meds.PatientId), col(Meds.Time))
      .write
      .mode("overwrite")
      .partitionBy("split", "shard")
      .parquet(path)

  /** Read a sharded cohort back; `split`/`shard` become ordinary columns
    * recovered from the directory names, and split/shard predicates prune
    * partitions at planning time.
    */
  def readSharded(spark: SparkSession, path: String): DataFrame =
    Parquet.read(spark, path)

  /** Identity of an extracted dataset, serialized to `metadata/dataset.json`
    * (reference: extract/finalize_MEDS_metadata.py:117-123 key set).
    */
  final case class DatasetInfo(
      datasetName: String,
      datasetVersion: String,
      etlName: String = "graft",
      etlVersion: String = "0.1.0",
      medsVersion: String = "0.3.2"
  )

  /** Write the final MEDS metadata artifacts
    * (finalize_MEDS_metadata.py:110-156):
    *   - `metadata/codes.parquet`: schema-finalized code metadata,
    *     vocabulary-sized -> written as a literal SINGLE parquet FILE (the
    *     lone part-file is renamed onto the path), so strict MEDS readers
    *     that open the path as a file (e.g. polars `read_parquet` on the
    *     literal path) work;
    *   - `metadata/dataset.json`: dataset_name/version + etl name/version +
    *     meds_version;
    *   - `metadata/patient_splits.parquet`: (patient_id: long, split:
    *     string). INTENTIONAL DEVIATION from the reference: this is a Spark
    *     output DIRECTORY of part-files, not a single file — patient-count
    *     sized data (hundreds of millions of rows at 100 TB) is not worth a
    *     1-task coalesce bottleneck; the reference's single-file layout is
    *     an artifact of single-node Polars. Readers should load the
    *     directory (every parquet engine, including polars
    *     `scan_parquet("<dir>/**/*.parquet")`, can).
    */
  def writeMetadata(
      codeMetadata: DataFrame,
      patientSplits: DataFrame,
      info: DatasetInfo,
      path: String
  ): Unit = {
    val spark = codeMetadata.sparkSession
    val metaDir = s"$path/metadata"
    // Hadoop FS API so the sink works on any cluster filesystem, not just local
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(metaDir), spark.sparkContext.hadoopConfiguration)
    // codes.parquet must be a literal file: write the one-part directory to a
    // temp path, then rename the part-file onto the final name
    val codesTmp = s"$metaDir/.codes.parquet.tmp"
    Meds.finalizeMetadata(codeMetadata)
      .coalesce(1).write.mode("overwrite").parquet(codesTmp)
    val part = fs.globStatus(new org.apache.hadoop.fs.Path(s"$codesTmp/part-*.parquet")) match {
      case Array(one) => one.getPath
      case other => throw new IllegalStateException(
        s"expected exactly one part-file under $codesTmp, found ${other.length}")
    }
    val codesDest = new org.apache.hadoop.fs.Path(s"$metaDir/codes.parquet")
    if (fs.exists(codesDest)) fs.delete(codesDest, true)
    if (!fs.rename(part, codesDest))
      throw new IllegalStateException(s"rename $part -> $codesDest failed")
    fs.delete(new org.apache.hadoop.fs.Path(codesTmp), true)
    patientSplits
      .select(col(Meds.PatientId).cast("long").as(Meds.PatientId), col("split").cast("string").as("split"))
      .write.mode("overwrite").parquet(s"$metaDir/patient_splits.parquet")
    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }
    val json =
      s"""{"dataset_name": "${esc(info.datasetName)}", "dataset_version": "${esc(info.datasetVersion)}", "etl_name": "${esc(info.etlName)}", "etl_version": "${esc(info.etlVersion)}", "meds_version": "${esc(info.medsVersion)}"}"""
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$metaDir/dataset.json"), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Ingest row-chunking (reference: extract/shard_events.py — split raw
    * input into ~`rowsPerShard`-row chunks so downstream map stages get
    * bounded units of work).
    *
    * In Spark the chunk is an output FILE: the writer's `maxRecordsPerFile`
    * option rolls files at the row bound inside each write task. This costs
    * ZERO extra scans and ZERO shuffles — the count + repartition(ceil(n /
    * rowsPerShard)) formulation would add one full scan (the count) and one
    * full round-robin shuffle, both pure overhead at 100 TB.
    */
  def writeRowChunked(df: DataFrame, path: String, rowsPerShard: Long): Unit =
    df.write
      .mode("overwrite")
      .option("maxRecordsPerFile", rowsPerShard)
      .parquet(path)

  /** Small-file compaction: rewrite a parquet directory into ~`targetFiles`
    * files — the periodic maintenance pass every long-lived ingest needs
    * (streaming sinks and per-shard writers accrete kilobyte files whose
    * open/footer overhead eventually dominates scan time). One
    * `coalesce` (NOT repartition: no shuffle — existing partitions are
    * concatenated) and one rewrite to a temp dir, swapped in only after
    * the write commits, so a mid-compaction failure leaves the original
    * data untouched.
    */
  def compactFiles(spark: SparkSession, path: String, targetFiles: Int): Unit = {
    require(targetFiles > 0, s"targetFiles must be positive, got $targetFiles")
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(path + "._compact_tmp")
    Parquet.read(spark, path).coalesce(targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    val old = new org.apache.hadoop.fs.Path(path + "._compact_old")
    fs.rename(hadoopPath, old)
    fs.rename(tmp, hadoopPath)
    fs.delete(old, true)
  }
}
