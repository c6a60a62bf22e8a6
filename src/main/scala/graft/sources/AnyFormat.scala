package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Format-flexible ingest: resolve `<dir>/<prefix>.{parquet, csv,
  * csv.gz}` in preference order and read it — the Spark analog of the
  * reference's input resolution
  * (extract/utils.py:41 `get_supported_fp`; shard_events.py reads raw
  * csv/csv.gz event dumps before anything is parquet).
  *
  * Spark decompresses `.gz` transparently, but a gzip file is NOT
  * splittable: one .csv.gz = one task regardless of size. Fine for the
  * reference's per-file ingest sharding (many modest files), wrong for
  * one 100 GB archive — `writeRowChunked` exists to re-chunk into
  * splittable parquet immediately after this first read, which is
  * exactly the reference's shard_events stage.
  */
object AnyFormat {

  /** Resolution priority mirrors the reference exactly: parquet, then
    * csv.gz, then csv — when both `<prefix>.csv` and `<prefix>.csv.gz`
    * exist the two systems must pick the SAME file.
    */
  val Extensions: Seq[String] = Seq("parquet", "csv.gz", "csv")

  /** The first existing `<dir>/<prefix>.<ext>`, or None. */
  def resolve(spark: SparkSession, dir: String, prefix: String): Option[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    Extensions.map(e => new org.apache.hadoop.fs.Path(s"$dir/$prefix.$e"))
      .find(p => p.getFileSystem(conf).exists(p))
      .map(_.toString)
  }

  /** Read the resolved file. CSV: header row expected; pass `schema` for
    * contract enforcement (otherwise one extra inference pass — avoid at
    * scale).
    */
  def read(
      spark: SparkSession,
      dir: String,
      prefix: String,
      schema: Option[StructType] = None
  ): DataFrame = {
    val path = resolve(spark, dir, prefix).getOrElse(
      throw new IllegalArgumentException(
        s"no $dir/$prefix.{${Extensions.mkString(",")}} exists"))
    if (path.endsWith(".parquet")) Parquet.read(spark, path)
    else {
      val r = spark.read.option("header", "true")
      schema.fold(r.option("inferSchema", "true"))(s => r.schema(s)).csv(path)
    }
  }

  /** LLM-corpus resolution order: the reference's formats plus JSON
    * Lines (the dominant crawl/corpus interchange format), compressed
    * variants preferred like csv.gz. Same gzip caveat: one .gz file =
    * one task; re-chunk with `MedsIO.writeRowChunked` right after.
    */
  val CorpusExtensions: Seq[String] =
    Seq("parquet", "jsonl.gz", "jsonl", "csv.gz", "csv")

  /** [[read]] over [[CorpusExtensions]]: jsonl/jsonl.gz handled via
    * `spark.read.json` (schema strongly recommended — inference is a
    * full extra pass and unions ragged records into wide nullables).
    */
  def readCorpus(
      spark: SparkSession,
      dir: String,
      prefix: String,
      schema: Option[StructType] = None
  ): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val path = CorpusExtensions.map(e => new org.apache.hadoop.fs.Path(s"$dir/$prefix.$e"))
      .find(p => p.getFileSystem(conf).exists(p))
      .map(_.toString)
      .getOrElse(throw new IllegalArgumentException(
        s"no $dir/$prefix.{${CorpusExtensions.mkString(",")}} exists"))
    if (path.contains(".jsonl"))
      schema.fold(spark.read)(s => spark.read.schema(s)).json(path)
    else read(spark, dir, prefix, schema)
  }
}
