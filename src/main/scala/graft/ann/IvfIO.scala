package graft.ann

import graft.plans.Materialize.PinOps
import graft.sources.Parquet
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted IVF index: build once, search many.
  *
  * Layout under `dir`:
  *   - `centroids/` — k rows (cid, centroid) — kilobytes, broadcast on read;
  *   - `corpus/` — the corpus WITH its cell assignment, `partitionBy("cid")`
  *     so each cell is its own directory.
  *
  * The payoff is at search time: probe cells are collected (a queries ×
  * nProbe list — small by construction) and pushed as a LITERAL `isin`
  * filter, so Catalyst statically prunes the scan to the probed
  * directories. At 100 TB a search touches ~nProbe/k of the corpus bytes;
  * everything else is never read. This is the file-layout analog of the
  * reference's per-shard map inputs.
  */
object IvfIO {

  /** Build and persist the index: assign every corpus vector to its
    * nearest centroid and lay the corpus out cell-per-directory.
    */
  def write(
      corpus: DataFrame,
      centroids: DataFrame,
      dir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Unit = {
    centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    KMeans
      .assign(corpus, centroids, idCol, vecCol)
      .select(col(idCol), col(vecCol), col("cid"))
      .write
      .mode("overwrite")
      .partitionBy("cid")
      .parquet(s"$dir/corpus")
  }

  def readCentroids(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, s"$dir/centroids")

  def readCorpus(spark: SparkSession, dir: String): DataFrame =
    Parquet.read(spark, s"$dir/corpus")

  /** Top-k cosine search against the persisted index. Each query probes
    * its `nProbe` nearest cells; the union of probed cells becomes a
    * literal partition filter on the corpus scan (static pruning — the
    * non-probed cells are never read). Ranking reuses the map-side
    * bounded-heap top-k.
    */
  def search(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      k: Int,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val centroids = readCentroids(spark, dir)
    val queryCells = queries
      .crossJoin(broadcast(centroids))
      .select(col(idCol), col(vecCol), col("cid"),
        KMeans.sqDist(col(vecCol), col("centroid")).as("__d"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("__d"), col("cid"))))
      .filter(col("__r") <= nProbe)
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"), col("cid"))
      // materialize once: the frame feeds both the driver-side probe-cell
      // collect and the broadcast join below — without this the centroid
      // cross join + window would run twice
      .pin(false)
    // queries × nProbe is small by construction: literalize for pruning
    val probedCells = queryCells.select("cid").distinct().collect().map(_.getLong(0))
    val scored = readCorpus(spark, dir)
      .filter(col("cid").isin(probedCells: _*))
      .as("c")
      .join(broadcast(queryCells.as("q")),
        col("c.cid") === col("q.cid") && col(s"c.$idCol") =!= col("query_id"))
      .select(
        col("query_id"),
        col(s"c.$idCol").as("neighbor_id"),
        Similarity.cosine(col("__qv"), col(s"c.$vecCol")).as("cos")
      )
    Similarity.topKFromScores(scored, k)
  }
}
