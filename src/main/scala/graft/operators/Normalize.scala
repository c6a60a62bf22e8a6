package graft.operators

import graft.meds.Meds
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Normalization: z-score numeric values per code and replace string codes
  * with integral vocabulary indices.
  *
  * Reference: src/MEDS_transforms/transforms/normalization.py:13-223.
  */
object Normalize {

  /** Inner-join semantics: rows whose (code, modifiers) are absent from
    * `codeMetadata` are DROPPED (normalization.py:42-45). Output carries
    * exactly (patient_id, time, code=vocab_index, numeric_value=z-score);
    * modifier columns are consumed by the join and discarded.
    *
    * `codeMetadata` must have `code/vocab_index` and either
    * (`values/mean`, `values/std`) or the sum/sum_sqd/n_occurrences triple.
    * Vocabulary-sized → broadcast join, no fact-side shuffle. A zero
    * `values/std` yields NaN (x = mean) or ±Inf, never an error.
    */
  def normalize(
      df: DataFrame,
      codeMetadata: DataFrame,
      codeModifiers: Seq[String] = Nil
  ): DataFrame = {
    val joinCols = Meds.Code +: codeModifiers
    val withStats =
      if (codeMetadata.columns.contains("values/mean") && codeMetadata.columns.contains("values/std"))
        codeMetadata
      else CodeMetadata.withMeanStd(codeMetadata)
    val meta = withStats.select(
      (joinCols.map(col) :+ col("code/vocab_index") :+ col("values/mean") :+ col("values/std")): _*
    )
    // The reference's polars `(x - mean) / std` is IEEE division: a code
    // with zero spread (seen once, or constant) gives 0/0 = NaN and
    // x/0 = ±Inf. ANSI `/` raises DIVIDE_BY_ZERO instead, so a zero std
    // multiplies by pow(std, -1), which is ±Inf for ±0.
    val centred = col(Meds.NumericValue) - col("values/mean")
    val std = col("values/std")
    df.join(broadcast(meta), joinCols, "inner")
      .select(
        col(Meds.PatientId),
        col(Meds.Time),
        col("code/vocab_index").as(Meds.Code),
        when(std === 0, centred * pow(std, -1)).otherwise(centred / std)
          .as(Meds.NumericValue)
      )
  }
}
