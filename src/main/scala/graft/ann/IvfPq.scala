package graft.ann

import graft.plans.Materialize.PinOps
import graft.sources.Parquet
import graft.ann.{ProductQuantizer => PQ}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ: the production billion-vector index — a coarse quantizer
  * prunes the search to nProbe cells (directory-level partition pruning,
  * like [[IvfIO]]) and residual product quantization compresses each
  * in-cell vector to `numBlocks` bytes.
  *
  * Residuals (vector − its cell centroid) are what PQ encodes: they
  * concentrate near zero, so the same code budget quantizes them much
  * finer than raw vectors — the standard IVF-PQ accuracy trick. At
  * search time each (query, probed cell) pair gets its own ADC table
  * computed from the query's residual against THAT cell, then scoring is
  * a per-row table-lookup sum over the pruned code partitions. Corpus
  * bytes read: ~nProbe/k of `numBlocks` bytes per vector.
  */
object IvfPq {

  private def residual(vec: Column, centroid: Column): Column =
    zip_with(vec.cast("array<double>"), centroid, (x, c) => x - c)

  /** (id, cid, residual-as-vecCol): each corpus vector assigned to its
    * nearest coarse cell with the cell centroid subtracted — the frame
    * every IVF-PQ stage (fit, encode, index write) starts from.
    */
  def assignResiduals(
      corpus: DataFrame,
      coarseCentroids: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    KMeans.assign(corpus, coarseCentroids, idCol, vecCol)
      .join(broadcast(coarseCentroids), "cid")
      .select(col(idCol), col("cid"), residual(col(vecCol), col("centroid")).as(vecCol))

  /** Fit the residual PQ model: assign the corpus to coarse cells, subtract
    * the cell centroid, and product-quantize the residuals.
    */
  def fitResidualPq(
      corpus: DataFrame,
      coarseCentroids: DataFrame,
      numBlocks: Int = 8,
      k: Int = 16,
      iters: Int = 3,
      dim: Int = 64,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): PQ.Model = {
    val assigned = assignResiduals(corpus, coarseCentroids, idCol, vecCol)
      .select(col(idCol), col(vecCol))
    PQ.fit(assigned, numBlocks, k, iters, dim, idCol, vecCol)
  }

  /** Build and persist the index under `dir`:
    * `coarse/` (cid, centroid), `pq/` (blk, cid, centroid),
    * `codes/` (id, codes) partitioned by coarse cid.
    */
  def write(
      corpus: DataFrame,
      coarseCentroids: DataFrame,
      pq: PQ.Model,
      dir: String,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): Unit = {
    coarseCentroids.write.mode("overwrite").parquet(s"$dir/coarse")
    val spark = corpus.sparkSession
    import spark.implicits._
    pq.centroids.zipWithIndex
      .flatMap { case (cs, blk) => cs.zipWithIndex.map { case (c, cid) => (blk, cid, c) } }
      .toDF("blk", "cid", "centroid")
      .write.mode("overwrite").parquet(s"$dir/pq")
    // materialize once: the encode branch and the cid join would otherwise
    // each re-run the corpus-vs-centroids assignment (pruning defeats
    // exchange reuse — same pattern as connectedComponents/Curation)
    val assigned = assignResiduals(corpus, coarseCentroids, idCol, vecCol).pin(false)
    PQ.encode(assigned.select(col(idCol), col(vecCol)), pq, idCol, vecCol)
      .join(assigned.select(col(idCol).as("id"), col("cid")), "id")
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/codes")
  }

  def readPqModel(spark: SparkSession, dir: String, numBlocks: Int, k: Int, blockDim: Int): PQ.Model = {
    val rows = Parquet.read(spark, s"$dir/pq")
      .collect()
      .map(r => (r.getAs[Number](0).intValue(), r.getAs[Number](1).intValue(), r.getSeq[Double](2).toIndexedSeq))
    val byBlk = rows.groupBy(_._1)
    PQ.Model(numBlocks, blockDim, k,
      (0 until numBlocks).map(b => byBlk(b).sortBy(_._2).map(_._3).toIndexedSeq))
  }

  /** Approximate top-k: probe each query's `nProbe` nearest coarse cells
    * (literal partition filter on the codes table), compute the per-
    * (query, cell) residual ADC table, and rank by summed lookups.
    */
  def search(
      spark: SparkSession,
      dir: String,
      queries: DataFrame,
      pq: PQ.Model,
      kTop: Int,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame =
    searchFrames(
      Parquet.read(spark, s"$dir/codes"),
      Parquet.read(spark, s"$dir/coarse"),
      queries, pq, kTop, nProbe, idCol, vecCol)

  /** [[search]] over in-memory frames — `codes` is (id, codes, cid),
    * `coarse` is (cid, centroid). The parquet-backed [[search]] delegates
    * here; an in-memory caller (or the DuckDB-oracled `q_ann_ivfpq_adc`)
    * skips the index round-trip. The probed-cell filter is computed
    * driver-side (nProbe × queries cell ids, bounded) so a parquet-backed
    * codes frame still gets literal partition pruning.
    */
  def searchFrames(
      codes: DataFrame,
      coarse: DataFrame,
      queries: DataFrame,
      pq: PQ.Model,
      kTop: Int,
      nProbe: Int = 2,
      idCol: String = "vec_id",
      vecCol: String = "embedding"
  ): DataFrame = {
    val cents = typedlit(pq.centroids.map(_.map(_.toSeq).toSeq).toSeq)
    val qres = residual(col(vecCol), col("centroid"))
    val dtable = transform(
      array((0 until pq.numBlocks).map { b =>
        struct(lit(b).as("blk"), slice(qres, b * pq.blockDim + 1, pq.blockDim).as("sub"))
      }: _*),
      s => transform(
        element_at(cents, s.getField("blk") + 1),
        c => KMeans.sqDist(s.getField("sub"), c))
    )
    val queryCells = queries
      .crossJoin(broadcast(coarse))
      .select(col(idCol).as("query_id"), col("cid"), dtable.as("__dt"),
        KMeans.sqDist(col(vecCol), col("centroid")).as("__d"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("__d"), col("cid"))))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("cid"), col("__dt"))
      // materialize once: the frame feeds both the driver-side probe-cell
      // collect and the broadcast join below — without this the coarse cross
      // join + window would run twice
      .pin(false)
    val probed = queryCells.select(col("cid").cast("long")).distinct()
      .collect().map(_.getLong(0))
    // native table-lookup sum (graft.functions.AdcLookup) — replaces the
    // interpreted zip_with+aggregate fold that ran per (corpus row ×
    // probed query) pair (guide §4); parity pinned in MatOpsSpec
    val adc = graft.functions.MatOps.adcLookup(col("codes"), col("__dt"))
    val scored = codes
      .filter(col("cid").isin(probed: _*))
      .join(broadcast(queryCells), "cid")
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"), (-adc).as("cos"))
    Similarity.topKFromScores(scored, kTop)
      .withColumnRenamed("cosine", "neg_adc_dist")
  }
}
