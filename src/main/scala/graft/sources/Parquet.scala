package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** The one library read path for an existing parquet dataset.
  *
  * `spark.read.parquet(path)` infers the schema with a one-task Spark job
  * (`ParquetFileFormat.mergeSchemasInParallel`) even when schema merging
  * is off and only one footer is read. On a small query that job is a
  * large share of its construction cost, and every graft stage starts
  * with a read. [[read]] takes the same decision on the driver:
  *
  *   1. list the leaf files with Spark's own file index, so hidden,
  *      `_`/`.`-prefixed and `._COPYING_` files are skipped and
  *      `key=value` directories become partition columns exactly as
  *      `spark.read.parquet` sees them;
  *   2. read the footer Spark would read (a summary file, else the first
  *      data file by path) and convert it with Spark's own converter
  *      under the session's settings (`nanosAsLong`, `binaryAsString`, ...);
  *   3. hand that schema to `spark.read.schema(s).parquet(path)`, which
  *      plans without inference.
  *
  * With `spark.sql.parquet.mergeSchema` on, every footer counts, so the
  * read falls back to Spark's inference. Nothing is cached: each call
  * lists and reads the footer again, so a rewritten dataset is never
  * seen with a stale schema. Missing paths fail with Spark's own
  * `PATH_NOT_FOUND`, and a directory without data files with Spark's
  * own `UNABLE_TO_INFER_SCHEMA`.
  */
object Parquet {

  def read(spark: SparkSession, path: String): DataFrame =
    schema(spark, path).fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** The schema `spark.read.parquet(path)` would infer, resolved on the
    * driver; None when Spark must infer it (schema merging on, or no
    * data file to read a footer from).
    */
  private def schema(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.sessionState
    if (state.conf.getConf(SQLConf.PARQUET_SCHEMA_MERGING_ENABLED)) None
    else {
      val hadoopConf = state.newHadoopConf()
      val glob = new Path(path)
      // a literal path or a glob; null or empty when nothing matches
      val roots = Option(glob.getFileSystem(hadoopConf).globStatus(glob)).toSeq.flatten.map(_.getPath)
      val index = new InMemoryFileIndex(spark, roots, Map.empty, None)
      // Spark's footer choice (ParquetUtils.inferSchema without merging):
      // a `_common_metadata` summary, else `_metadata`, else the first
      // data file by path
      def rank(name: String): Int = name match {
        case "_common_metadata" => 0
        case "_metadata" => 1
        case _ => 2
      }
      val files = index.allFiles()
      if (files.isEmpty) None
      else {
        val first = files.minBy(f => (rank(f.getPath.getName), f.getPath.toString))
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(first, hadoopConf), SKIP_ROW_GROUPS)
        val data = ParquetFileFormat.readSchemaFromFooter(
          new Footer(first.getPath, footer), new ParquetToSparkSchemaConverter(state.conf))
        val resolver = state.conf.resolver
        Some(StructType(data ++ index.partitionSchema.filterNot(p => data.exists(f => resolver(f.name, p.name)))))
      }
    }
  }
}
