package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Portable deterministic hashing.
  *
  * Every hash here is defined purely in terms of md5 over UTF-8 text, so
  * an independent engine (the DuckDB oracle) reproduces the exact same
  * values: `CAST(('0x' || substr(md5(s), 1, k)) AS BIGINT)`.
  *
  * All expressions are built from `org.apache.spark.sql.functions` —
  * no UDFs — so they stay inside whole-stage codegen and Catalyst can
  * reorder/prune around them.
  *
  * Mirrors the reference's content-hash identity scheme
  * (`/root/reference/src/transforms/FeatureBuilder.ts:4-21`): feature id
  * = deterministic digest of canonical content, recomputed whenever the
  * content changes.
  */
object HashFunctions {

  /** 32-bit non-negative hash: first 8 hex chars of md5. */
  def hash32(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast(LongType)

  /** 60-bit non-negative hash: first 15 hex chars of md5. Fits a signed
    * 64-bit integer, so bit ops behave identically in Spark and DuckDB.
    */
  def hash64(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast(LongType)

  /** Stable content id for a record: md5 hex of a canonical '|'-joined
    * rendering of the key columns (analog of the reference's object-hash
    * feature ids).
    */
  def contentId(cols: Column*): Column =
    md5(concat_ws("|", cols.map(_.cast("string")): _*))

  /** DuckDB twin of [[contentId]]: `parts` are SQL expressions. */
  def sqlContentId(parts: String*): String =
    s"md5(concat_ws('|', ${parts.map(p => s"CAST($p AS VARCHAR)").mkString(", ")}))"

  /** DuckDB SQL fragment equivalents, used when composing oracle SQL. */
  def sqlHash32(expr: String): String =
    s"CAST(('0x' || substr(md5(CAST($expr AS VARCHAR)), 1, 8)) AS BIGINT)"
  def sqlHash64(expr: String): String =
    s"CAST(('0x' || substr(md5(CAST($expr AS VARCHAR)), 1, 15)) AS BIGINT)"
}
