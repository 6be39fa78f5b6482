package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered operator/query: the Spark implementation, an optional
  * independent DuckDB oracle (ANSI-ish SQL over the same parquet tables),
  * and whether it belongs to the benchmark headline set.
  *
  * Determinism contract: every query ends in a full ORDER BY over its
  * output key columns (and the oracle carries the same ORDER BY), and
  * every floating-point output column is rounded, so the driver's
  * sorted-column hash compare is stable across engines. Where a metric
  * is exactly representable in integers (counts, fixed-decimal money),
  * prefer EXACT integer sums + integer half-up rounding over
  * round(avg(double)): double summation order differs between engines,
  * and on a rounding boundary Spark's BigDecimal-of-string round and
  * DuckDB's binary-double round disagree even on identical inputs.
  */
final case class QuerySpec(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

object QuerySpec {
  def of(name: String, oracle: String, headline: Boolean = false)(
      fn: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, fn, Some(oracle), headline)
}
