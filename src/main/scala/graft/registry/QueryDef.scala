package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: how to build it over a directory of parquet
  * tables (events, documents, embeddings, TPC-H), and the ANSI-SQL oracle
  * (DuckDB dialect) its output is hash-compared against on the same
  * tables. `oracle` is `None` only where DuckDB cannot express the
  * operator (q_compress: no zlib).
  *
  * Verification conventions (SURVEY.md §5):
  *   - every aggregate / computed column is aliased identically on both
  *     sides;
  *   - timestamps are emitted as epoch MICROSECONDS (BIGINT) — engine-
  *     neutral, no parquet logical-type ambiguity;
  *   - floating sums go through DECIMAL(38,6) (associative, partitioning-
  *     independent) and are cast back to DOUBLE; ratios/z-scores are
  *     ROUND(x, 6) in both engines;
  *   - portable hashes only: md5 and md5-derived 32-bit ints.
  */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String])
