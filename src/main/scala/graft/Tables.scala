package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-provided synthetic tables (TESTDATA.md).
  *
  * Tables are plain parquet files; at cluster scale these would be
  * partitioned directories — the API takes a directory so nothing
  * changes when a table becomes a partitioned dataset. Filters and
  * column pruning push down to the parquet scan (verify with
  * `.explain("formatted")` → PushedFilters / ReadSchema).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet schemas, inferred once per file set: keyed by the path,
    * its [[listing]] and the session's parquet confs, which change what
    * inference returns (`ts` is a long under
    * `spark.sql.legacy.parquet.nanosAsLong`).
    */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  private def schemaKey(spark: SparkSession, path: String): Option[String] =
    scala.util.Try(listing(spark, path)).toOption.map(l =>
      s"$path@$l" + spark.conf.getAll.filter(_._1.contains("parquet"))
        .toSeq.sorted.mkString("|", "|", ""))

  /** The parquet file set at `path` (a file or a directory, partitioned
    * or not). Only the first read of a file set runs the
    * schema-inference job; later reads use the schema it found, and a
    * rewritten file set (new names, sizes or mtimes) is inferred again.
    * A missing path fails as `spark.read.parquet` does.
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    schemaKey(spark, path) match {
      case Some(key) if schemas.containsKey(key) =>
        spark.read.schema(schemas.get(key)).parquet(path)
      case key =>
        val df = spark.read.parquet(path)
        key.foreach(schemas.put(_, df.schema))
        df
    }

  /** Table `name` of `sfDir`, read through [[parquet]]. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Round-robin fan-out to all cores. The test tables are single-
    * row-group parquet files (one input split), so heavy per-row work
    * right after a scan would otherwise run on one task; the exchange
    * also acts as a projection barrier, keeping Catalyst from inlining
    * an expensive upstream expression into every downstream consumer
    * (higher-order functions are interpreted, not codegen'd).
    * At warehouse scale inputs arrive already split, making this a
    * cheap or removable no-op.
    */
  def fanout(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Content fingerprint of one table's file set — its [[listing]]
    * hashed, prefixed with the path. Scaffold artifacts key on this
    * instead of the bare directory so data regenerated at the same
    * path invalidates them instead of silently serving stale state.
    * One filesystem listing; no data read.
    */
  def fingerprint(spark: SparkSession, sfDir: String, name: String): String =
    s"$sfDir/$name@${java.lang.Integer.toHexString(
      listing(spark, s"$sfDir/$name.parquet").hashCode)}"

  /** Sorted (name, length, mtime) triples of the entries at `path`. */
  private def listing(spark: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats =
      if (fs.getFileStatus(p).isDirectory) fs.listStatus(p)
      else Array(fs.getFileStatus(p))
    stats
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
  }

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame    = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
