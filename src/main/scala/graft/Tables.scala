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

  /** Each table's parquet schema, inferred once per file set: keyed by
    * [[fingerprint]] and the session's parquet confs, which change what
    * inference returns (`ts` is a long under
    * `spark.sql.legacy.parquet.nanosAsLong`).
    */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Table `name` of `sfDir`. Only the first load of a file set runs
    * the schema-inference job; later loads read with the schema it
    * found, and a rewritten file (new size or mtime) is inferred again.
    * A missing table fails as `spark.read.parquet` does.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    scala.util.Try(fingerprint(spark, sfDir, name)).toOption match {
      case None => spark.read.parquet(path)
      case Some(fp) =>
        val key = fp + spark.conf.getAll
          .filter(_._1.contains("parquet")).toSeq.sorted.mkString("|", "|", "")
        Option(schemas.get(key)) match {
          case Some(schema) => spark.read.schema(schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            schemas.put(key, df.schema)
            df
        }
    }
  }

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

  /** Content fingerprint of one table's file set — sorted
    * (name, length, mtime) triples hashed, prefixed with the path.
    * Memo caches (ANN plane count, minhash signatures) key on this
    * instead of the bare directory so data regenerated at the same
    * path within one JVM lifetime invalidates the entry instead of
    * silently serving stale state. One filesystem listing; no data
    * read.
    */
  def fingerprint(spark: SparkSession, sfDir: String, name: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/$name.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stats =
      if (fs.getFileStatus(path).isDirectory) fs.listStatus(path)
      else Array(fs.getFileStatus(path))
    val sig = stats
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString("|")
    s"$sfDir/$name@${java.lang.Integer.toHexString(sig.hashCode)}"
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
