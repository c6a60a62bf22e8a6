package graft

import graft.registry._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query registry. Each query is declared once, as a [[QueryDef]]
  * (Spark build function + DuckDB oracle) in its operator family's file
  * under `graft.registry`; `queries` and `oracleSql` are views of [[all]].
  */
object SparkEntry {

  val all: Seq[QueryDef] = Seq(
    MedsQueries.all,
    DedupQueries.all,
    AnnQueries.all,
    TextQueries.all,
    PipelineQueries.all,
    RelationalQueries.all,
    StatisticsQueries.all,
    ModelQueries.all,
    SeriesQueries.all,
    QualityQueries.all,
    GraphQueries.all
  ).flatten

  private val duplicated = all.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
  require(duplicated.isEmpty, s"queries registered twice: ${duplicated.toSeq.sorted.mkString(", ")}")

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  lazy val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Flagship: full code-metadata aggregation on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_agg_code_metadata")(spark, "/root/testdata/sf0.001")
}
