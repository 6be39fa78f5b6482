package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only one-decade-up probe for the LLM-dedup/ANN surface: the
  * tile pipeline has MvtScaleProbe/MvtSoakProbe as measured points a
  * decade past the bench, but the dedup scaling argument rested on
  * plan shape (banded LSH, salted buckets) plus the sf1 sweep's 10×
  * key-offset copies — whose identical texts explode the PAIR space
  * quadratically instead of growing the corpus realistically. This
  * probe generates a 500k-document corpus (100× the sf0.1 fixture)
  * with a PLANTED near-duplicate structure — one pair per ten docs,
  * one token of sixty substituted, so the true-pair count grows
  * linearly like a real crawl — and drives the REGISTERED queries
  * (`SparkEntry.queries`, the exact production entry points) over it:
  *
  *   - q_dedup_exact        (hash groups — must find 0 here: planted
  *                           dups are near, not exact; a nonzero count
  *                           means the generator broke)
  *   - q_dedup_minhash_lsh  (banded LSH + signature refine; recall vs
  *                           the planted pairs is ASSERTED ≥ 95% — at
  *                           1-in-60 substitution the shingle Jaccard
  *                           is ~0.9, well above the 0.5 gate, so LSH
  *                           banding missing a pair is a bug)
  *   - q_dedup_simhash      (chunk-banded hamming refine)
  *   - q_dedup_winnow       (rolling-hash substring fingerprints)
  *   - q_ann_lsh / q_ann_ivf (200k × 64-dim vectors, 100×/10× the
  *                           fixture: sign-LSH banding and IVF
  *                           train/probe at a size where a collected
  *                           index would be felt)
  *
  * A daemon thread samples driver heap for the high-water mark: the
  * claim under test is that nothing driver-side scales with the
  * corpus (indexes are parquet scaffolds, buckets are salted, every
  * collect is bounded), so the delta should stay flat vs the sf0.1
  * run of the same queries. Run with
  * `sbt "runMain graft.operators.DedupScaleProbe [nDocs] [nVecs]"`.
  */
object DedupScaleProbe {

  /** Deterministic word-salad corpus shaped like the fixture's
    * `documents` table (doc_id, text, lang, source, n_chars). Content
    * hashes replace RNG so re-runs are bit-identical. Every group of
    * ten ids holds one planted near-dup: doc 10g+9 re-derives the
    * token stream of doc 10g+8 with exactly one position substituted.
    */
  private[graft] def genDocuments(s: SparkSession, n: Long): DataFrame = {
    val vocab = array(Seq("batch", "part", "spark", "line", "column",
      "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
      "group", "agg", "filter", "query", "big", "key", "window", "row",
      "table", "stream", "join", "shuffle", "page", "block", "merge",
      "probe", "cache").map(lit): _*)
    val langs = array(Seq("en", "de", "fr", "it").map(lit): _*)
    val sources = array(Seq("web", "wiki", "code", "books", "news")
      .map(lit): _*)
    s.range(0, n).toDF("doc_id")
      .withColumn("base",
        when(pmod(col("doc_id"), lit(10)) === 9, col("doc_id") - 1)
          .otherwise(col("doc_id")))
      .withColumn("subst_pos", pmod(xxhash64(col("doc_id")), lit(60)))
      .withColumn("toks", transform(sequence(lit(0), lit(59)),
        i => when(col("doc_id") =!= col("base") && i === col("subst_pos"),
            lit("variant"))
          .otherwise(element_at(vocab,
            pmod(xxhash64(col("base") * 61 + i), lit(30)).cast("int") + 1))))
      .select(col("doc_id"), array_join(col("toks"), " ").as("text"),
        element_at(langs, pmod(xxhash64(col("base") - pmod(col("base"),
          lit(10))), lit(4)).cast("int") + 1).as("lang"),
        element_at(sources, pmod(xxhash64(lit("src"), col("base")),
          lit(5)).cast("int") + 1).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-dim float vectors in ~200 hash-derived clusters: cluster
    * centroid + per-vector noise an order smaller, so IVF/LSH have
    * real structure to index (uniform noise would make every probe a
    * full scan and every top-k a tie party). */
  private[graft] def genEmbeddings(s: SparkSession, n: Long): DataFrame = {
    val dims = sequence(lit(0), lit(63))
    s.range(0, n).toDF("vec_id")
      .withColumn("label", pmod(xxhash64(lit("lb"), col("vec_id")),
        lit(200)).cast("int"))
      .select(col("vec_id"),
        transform(dims, i =>
          ((pmod(xxhash64(lit("c"), col("label"), i), lit(2000)) - 1000)
            .cast("double") / 1000.0 +
           (pmod(xxhash64(lit("n"), col("vec_id"), i), lit(200)) - 100)
            .cast("double") / 1000.0).cast("float")).as("embedding"),
        col("label"))
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(500000L)
    val nVecs = if (args.length > 1) args(1).toLong else 200000L
    val spark = graft.GraftSession.builder("graft-dedup-scale-probe", "")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // decade-up probes stage tens of GB of generated input + shuffle
    // spill by design — serialize against any concurrent disk-heavy
    // phase unconditionally (VERDICT r17 #2; same lock as Verify/Bench)
    graft.DiskLock.acquire(s"graft.operators.DedupScaleProbe n=$nDocs")

    val dir = graft.TempDirs.scoped("graft_dedupscale_").toString
    genDocuments(spark, nDocs).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    genEmbeddings(spark, nVecs).repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    System.gc(); Thread.sleep(500); System.gc()
    val rt = Runtime.getRuntime
    def used(): Long = rt.totalMemory() - rt.freeMemory()
    val baseline = used()
    @volatile var high = baseline
    @volatile var stop = false
    val sampler = new Thread(() => {
      while (!stop) {
        val u = used(); if (u > high) high = u; Thread.sleep(100)
      }
    })
    sampler.setDaemon(true); sampler.start()

    val names = Seq("q_dedup_exact", "q_dedup_minhash_lsh",
      "q_dedup_simhash", "q_dedup_winnow", "q_ann_lsh", "q_ann_ivf")
    val timings = names.map { name =>
      val t0 = System.nanoTime()
      val rows = graft.SparkEntry.queries(name)(spark, dir).count()
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name rows=$rows t=$secs%.1f s")
      (name, rows, secs)
    }

    // planted-pair recall through the real LSH path: pair (10g+8,
    // 10g+9) differs in one token of sixty
    val planted = nDocs / 10
    val found = graft.SparkEntry.queries("q_dedup_minhash_lsh")(spark, dir)
      .filter(col("doc_b") === col("doc_a") + 1 &&
        pmod(col("doc_a"), lit(10)) === 8)
      .count()
    // q_dedup_exact emits one summary row (n_docs, n_distinct,
    // n_dup_rows); in a near-dup-only corpus the normalized-text hash
    // must collapse nothing
    val exactDups = graft.SparkEntry.queries("q_dedup_exact")(spark, dir)
      .select(col("n_dup_rows")).head().getLong(0)
    require(exactDups == 0L,
      s"generator broke: $exactDups exact-dup rows in a near-dup corpus")
    require(found >= (planted * 95) / 100,
      s"LSH recall on planted near-dups: $found of $planted < 95%")

    stop = true; sampler.join()
    println(f"[probe] docs=$nDocs vecs=$nVecs planted=$planted " +
      f"lsh_recall=${found.toDouble / planted}%.4f " +
      f"heap_baseline=${baseline / 1e6}%.0f MB " +
      f"heap_high=${high / 1e6}%.0f MB " +
      f"delta=${(high - baseline) / 1e6}%.0f MB")
    spark.stop()
  }
}
