package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator: a Spark query plus (when SQL-expressible) the
  * ANSI-SQL oracle the driver runs in DuckDB over the same parquet.
  *
  * Hash-parity rules used throughout (driver sorts columns by name, then
  * hashes values):
  *  - every computed column is aliased identically in Spark and SQL;
  *  - double aggregations go through exact DECIMAL accumulation and are
  *    cast to DOUBLE once at the end (bit-identical across engines);
  *  - every query ends with a total deterministic ORDER BY;
  *  - DuckDB `regexp_replace` needs the 'g' flag to match Spark's
  *    replace-all semantics.
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

trait QuerySet {
  def queries: Seq[Q]
}
