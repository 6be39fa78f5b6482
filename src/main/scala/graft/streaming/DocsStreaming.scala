package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.streaming.StreamHarness._
import org.apache.spark.sql.functions._

/** Streaming corpus ingest maintaining the dedup index incrementally —
  * the `foreachBatch` production-sink pattern: each micro-batch of
  * arriving documents is tokenized, shingled, and minhash-signed with
  * the SAME kernels the batch index build uses
  * ([[graft.functions.MinHashSigExpr]]), then APPENDED to a parquet
  * signature index. On a live source this is exactly how a 100 TB
  * pipeline keeps its LSH dedup index current without re-signing the
  * corpus; driven AvailableNow over the static table it produces the
  * batch-identical index, which the returned rollup summarizes.
  *
  * foreachBatch (vs a plain parquet sink) is the point: the batch
  * handle can run arbitrary batch-side work per micro-batch — here an
  * append to an index table; in production an upsert/MERGE into the
  * signature store plus bucket-table maintenance.
  */
object DocsStreaming {

  def indexViaStream(spark: SparkSession, sfDir: String,
      shingleN: Int, k: Int): DataFrame =
    withScratch("graft-stream-index-") { s =>
      import graft.functions.TextFunctions._
      val index = s.dir("index")
      // the checkpoint makes the drive restartable (offsets tracked
      // per micro-batch); the parquet append itself is at-least-once —
      // a production deployment would key an idempotent MERGE on
      // (batchId, doc_id), same handle, different batch-side statement
      runAvailableNow(fileStream(spark, sfDir, "documents").writeStream
        .option("checkpointLocation", s.ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch
            .select(col("doc_id"), col("source"),
              shingles(tokens(col("text")), shingleN).as("sh"))
            .filter(size(col("sh")) > 0)
            .select(col("doc_id"), col("source"),
              minhashSignature(col("sh"), k).as("sig"))
            .write.mode("append").parquet(index)
          ()
        })
      spark.read.parquet(index)
        .select(col("source"), element_at(col("sig"), 1).as("s1"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("s1")).as("n_distinct_s1"),
          sum(pmod(col("s1"), lit(1000000L))).as("checksum"))
        .orderBy("source")
        .localCheckpoint() // the scratch root is deleted on return
    }
}
