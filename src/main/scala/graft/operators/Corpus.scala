package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.HashFunctions
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-corpus composition operators: sequence packing, mixture
  * sampling, stratified sampling, repetition-based quality filtering,
  * embedding validation — the steps between "cleaned documents" and
  * "training batches" in a large-scale data pipeline.
  *
  * Scale notes are per-operator; the common theme is that every
  * decision (sample membership, pack assignment, split) is a pure
  * function of stable ids — never of partitioning, sampling state or
  * row order — so reruns, retries and different cluster layouts
  * reproduce byte-identical corpora.
  */
object Corpus {

  /** Token budget of one packed training sequence. */
  val PackBudget = 512L

  /** Docs per greedy-packing bucket (the parallelism unit of the
    * greedy packer — greediness is exact within a bucket, bins never
    * span buckets).
    */
  val GreedyBucketDocs = 64L

  /** Docs per prefix-sum bucket in [[q_pack_sequences]]'s two-level
    * distributed cumsum (the bucket-totals table is data_size /
    * PrefixBucketDocs rows — the only single-partition window input).
    */
  val PrefixBucketDocs = 128L

  // ---- sequence packing (offset-chunked, fully declarative) ------------
  // Documents in stable doc_id order are laid into one global token
  // stream; sequence id = the 512-token chunk a document STARTS in.
  // Straddle is allowed (a doc may overflow its chunk) which is
  // exactly how most LLM pretraining pipelines pack:
  // concatenate-then-split at the token level, documents crossing
  // sequence boundaries.
  //
  // The global running sum is a TWO-LEVEL distributed prefix sum — a
  // naive `Window.orderBy(doc_id)` with no partition key collapses
  // the whole corpus into ONE task. Instead: per-range-bucket token
  // totals (tiny table, 1 row per PrefixBucketDocs docs), a window
  // over just that table for bucket offsets, then per-bucket windows
  // (parallel) plus the broadcast offset. Only the bucket-totals
  // window is single-partition, at 1/PrefixBucketDocs of the data.
  private val qPackSequences = QuerySpec.of(
    "q_pack_sequences",
    s"""WITH t AS (
      |  SELECT doc_id,
      |    len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> '')) AS ntok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, ntok,
      |    sum(ntok) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ntok AS off
      |  FROM t)
      |SELECT CAST(off // $PackBudget AS BIGINT) AS seq_id,
      |  count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS total_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM c GROUP BY seq_id ORDER BY seq_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), wsTokenCount(col("text")).as("ntok"),
        (col("doc_id") / PrefixBucketDocs).cast("long").as("bucket"))
    val bucketOffsets = docs.groupBy("bucket")
      .agg(sum("ntok").as("btok"))
      .withColumn("boff",
        coalesce(sum("btok").over(Window.orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "boff")
    val w = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(bucketOffsets), Seq("bucket"))
      .withColumn("off",
        col("boff") + sum("ntok").over(w) - col("ntok"))
      .groupBy((col("off") / PackBudget).cast("long").as("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("total_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("seq_id")
  }

  /** Greedy document-boundary packing: docs in doc_id order, a bin
    * closes when the next doc would exceed [[PackBudget]] (no doc is
    * split; an oversized doc gets its own bin). Greedy scans are
    * inherently sequential, so exactness is scoped to a bucket of
    * [[GreedyBucketDocs]] consecutive docs and buckets run in
    * parallel — the one place `mapPartitions` is the right tool
    * (per-partition imperative scan; everything around it stays
    * declarative). Bin ids are (bucket, bin-within-bucket), so the
    * output is a pure function of (doc_id, ntok) regardless of
    * cluster layout.
    */
  def greedyPack(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs
      .select(col("doc_id").cast("long"), col("ntok").cast("long"),
        (col("doc_id") / GreedyBucketDocs).cast("long").as("bucket"))
      .repartition(col("bucket"))
      .sortWithinPartitions("bucket", "doc_id")
      .as[(Long, Long, Long)]
      .mapPartitions { it =>
        var curBucket = Long.MinValue
        var bin = 0L
        var fill = 0L
        it.map { case (docId, ntok, bucket) =>
          if (bucket != curBucket) { curBucket = bucket; bin = 0L; fill = 0L }
          else if (fill > 0 && fill + ntok > PackBudget) { bin += 1; fill = 0L }
          fill += ntok
          (bucket, bin, docId, ntok)
        }
      }
      .toDF("bucket", "bin", "doc_id", "ntok")
  }

  // Greedy packing is a sequential recurrence (bin of doc i depends
  // on the running fill) — no window expresses it, but a RECURSIVE
  // CTE does: the oracle advances every bucket one doc per iteration,
  // replaying the exact fold the mapPartitions scan runs. PackingSpec
  // additionally checks invariants + partitioning-invariance.
  private val qPackGreedy = QuerySpec.of(
    "q_pack_greedy",
    s"""WITH RECURSIVE d AS (
      |  SELECT doc_id,
      |    len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))
      |      AS ntok,
      |    doc_id // $GreedyBucketDocs AS bucket,
      |    row_number() OVER (PARTITION BY doc_id // $GreedyBucketDocs
      |      ORDER BY doc_id) AS rn
      |  FROM documents),
      |g AS (
      |  SELECT bucket, rn, doc_id, ntok, 0::BIGINT AS bin, ntok AS fill
      |  FROM d WHERE rn = 1
      |  UNION ALL
      |  SELECT d.bucket, d.rn, d.doc_id, d.ntok,
      |    CASE WHEN g.fill > 0 AND g.fill + d.ntok > $PackBudget
      |      THEN g.bin + 1 ELSE g.bin END,
      |    CASE WHEN g.fill > 0 AND g.fill + d.ntok > $PackBudget
      |      THEN d.ntok ELSE g.fill + d.ntok END
      |  FROM g JOIN d ON d.bucket = g.bucket AND d.rn = g.rn + 1)
      |SELECT bucket, bin, count(*) AS n_docs,
      |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
      |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM g GROUP BY bucket, bin ORDER BY bucket, bin""".stripMargin) {
    (s, d) =>
    greedyPack(Tables.documents(s, d)
        .select(col("doc_id"), wsTokenCount(col("text")).as("ntok")))
      .groupBy("bucket", "bin")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("total_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("bucket", "bin")
  }

  // ---- mixture sampling -------------------------------------------------
  // Down-sample each source to a target rate (basis points) — the
  // "data mixture" step that rebalances web/wiki/code/... before
  // training. Membership = portable hash of (doc_id, salt) vs the
  // source's rate, so the sample is reproducible and independent of
  // partitioning; the rate table is a literal broadcast dim (a real
  // mixture spec is a config file of the same shape). Single corpus
  // scan, map-side partial agg, 20-row output.
  val MixtureRates: Seq[(String, Int)] =
    (0 until 20).map(i => (s"src$i", 1000 + (i % 4) * 2500))

  private val qSampleMixture = QuerySpec.of(
    "q_sample_mixture", {
      val values = MixtureRates
        .map { case (src, bp) => s"('$src', $bp)" }.mkString(", ")
      val h = HashFunctions.sqlHash32("CAST(doc_id AS VARCHAR) || ':mix'")
      s"""WITH rates(source, bp) AS (VALUES $values),
        |b AS (
        |  SELECT d.source, rates.bp, d.n_chars, ($h) % 10000 AS h
        |  FROM documents d JOIN rates USING (source))
        |SELECT source, bp AS rate_bp, count(*) AS n_total,
        |  CAST(sum(CASE WHEN h < bp THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN h < bp THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
        |  (floor((CAST(sum(CASE WHEN h < bp THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*)) * 1e6 + 0.5) / 1e6) AS kept_rate
        |FROM b GROUP BY source, bp ORDER BY source""".stripMargin
    }) { (s, d) =>
    import s.implicits._
    val rates = broadcast(MixtureRates.toDF("source", "bp"))
    val h = pmod(
      HashFunctions.hash32(concat(col("doc_id").cast("string"), lit(":mix"))),
      lit(10000))
    Tables.documents(s, d)
      .join(rates, Seq("source"))
      .select(col("source"), col("bp"), col("n_chars"),
        (h < col("bp")).cast("long").as("kept"))
      .groupBy(col("source"), col("bp").as("rate_bp"))
      .agg(count(lit(1)).as("n_total"), sum("kept").as("n_kept"),
        sum(when(col("kept") === 1, col("n_chars")).otherwise(0L))
          .as("kept_chars"),
        (floor((sum("kept").cast("double") / count(lit(1))) * 1e6 + 0.5) / 1e6).as("kept_rate"))
      .orderBy("source")
  }

  // ---- stratified sampling ---------------------------------------------
  // Exactly k docs per language, chosen by portable hash order — the
  // "balanced eval set" builder. Window top-k shuffles once on the
  // stratum key; with few large strata the rank truncates early per
  // partition (WindowGroupLimit pushes the rn <= k filter down as a
  // per-partition running limit, so the sort never materializes a
  // whole stratum at scale).
  val StratumK = 10

  private val qSampleStratified = QuerySpec.of(
    "q_sample_stratified", {
      val h = HashFunctions.sqlHash32("CAST(doc_id AS VARCHAR) || ':strat'")
      s"""WITH h AS (
        |  SELECT lang, doc_id, n_chars, ($h) AS hk FROM documents),
        |r AS (
        |  SELECT lang, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
        |  FROM h)
        |SELECT lang, rn, doc_id, n_chars FROM r
        |WHERE rn <= $StratumK ORDER BY lang, rn""".stripMargin
    }) { (s, d) =>
    val hk = HashFunctions.hash32(
      concat(col("doc_id").cast("string"), lit(":strat")))
    val w = Window.partitionBy("lang").orderBy(col("hk"), col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"), hk.as("hk"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= StratumK)
      .select("lang", "rn", "doc_id", "n_chars")
      .orderBy("lang", "rn")
  }

  // ---- repetition-based quality filtering ------------------------------
  // Gopher-style repetition signals per doc — top-token fraction,
  // unique-token ratio, top-bigram fraction — aggregated per source
  // with a flagged count (docs breaching any threshold). Word-level
  // (the corpus has no line structure). All per-row column work in
  // one codegen span, one partial-agg exchange.
  val TopTokenMax = 0.12
  val UniqueRatioMin = 0.40
  val TopBigramMax = 0.055

  private val qRepetition = QuerySpec.of(
    "q_text_repetition", {
      val toks = graft.functions.TextFunctions.sql.toks
      val bg = graft.functions.TextFunctions.sql.shingles("toks", 2)
      s"""WITH t AS (SELECT source, $toks AS toks FROM documents),
        |g AS (SELECT source, toks, $bg AS bg FROM t),
        |m AS (
        |  SELECT source,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      CAST(list_max(list_transform(list_distinct(toks),
        |        d -> len(list_filter(toks, t -> t = d)))) AS DOUBLE)
        |        / len(toks) END AS top_tok_frac,
        |    CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |      CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
        |      END AS uniq_ratio,
        |    CASE WHEN len(bg) = 0 THEN 0.0 ELSE
        |      CAST(list_max(list_transform(list_distinct(bg),
        |        d -> len(list_filter(bg, t -> t = d)))) AS DOUBLE)
        |        / len(bg) END AS top_bigram_frac
        |  FROM g)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN top_tok_frac > $TopTokenMax
        |    OR uniq_ratio < $UniqueRatioMin
        |    OR top_bigram_frac > $TopBigramMax THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  (floor((avg(top_tok_frac)) * 1e6 + 0.5) / 1e6) AS avg_top_tok,
        |  (floor((avg(uniq_ratio)) * 1e6 + 0.5) / 1e6) AS avg_uniq,
        |  (floor((avg(top_bigram_frac)) * 1e6 + 0.5) / 1e6) AS avg_top_bigram
        |FROM m GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
    def topFrac(arr: org.apache.spark.sql.Column) =
      when(size(arr) === 0, 0.0).otherwise(
        array_max(transform(array_distinct(arr),
          d => size(filter(arr, t => t === d)))).cast("double") / size(arr))
    val m = Tables.fanout(Tables.documents(s, d))
      .select(col("source"), tokens(col("text")).as("toks"))
      .select(col("source"), col("toks"), shingles(col("toks"), 2).as("bg"))
      .select(col("source"),
        topFrac(col("toks")).as("top_tok_frac"),
        when(size(col("toks")) === 0, 0.0)
          .otherwise(size(array_distinct(col("toks"))).cast("double")
            / size(col("toks"))).as("uniq_ratio"),
        topFrac(col("bg")).as("top_bigram_frac"))
    m.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("top_tok_frac") > TopTokenMax
          || col("uniq_ratio") < UniqueRatioMin
          || col("top_bigram_frac") > TopBigramMax).cast("long"))
          .as("n_flagged"),
        (floor((avg("top_tok_frac")) * 1e6 + 0.5) / 1e6).as("avg_top_tok"),
        (floor((avg("uniq_ratio")) * 1e6 + 0.5) / 1e6).as("avg_uniq"),
        (floor((avg("top_bigram_frac")) * 1e6 + 0.5) / 1e6).as("avg_top_bigram"))
      .orderBy("source")
  }

  // ---- embedding validation --------------------------------------------
  // Pre-flight checks before an ANN build or a similarity join:
  // per-label vector count, dimension uniformity (ragged arrays are
  // the classic upstream bug), unit-norm conformance, norm extrema.
  // Single scan; the norm goes through the codegen dot-product kernel.
  private val qEmbedValidate = QuerySpec.of(
    "q_embed_validate",
    """WITH e AS (
      |  SELECT label, len(embedding) AS dim,
      |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |      x -> x * x))) AS nrm
      |  FROM embeddings)
      |SELECT label, count(*) AS n_vecs,
      |  min(dim) AS dim_min, max(dim) AS dim_max,
      |  CAST(sum(CASE WHEN abs(nrm - 1.0) > 1e-6 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_nonunit,
      |  (floor((min(nrm)) * 1e6 + 0.5) / 1e6) AS norm_min, (floor((max(nrm)) * 1e6 + 0.5) / 1e6) AS norm_max
      |FROM e GROUP BY label ORDER BY label""".stripMargin) { (s, d) =>
    val v = col("embedding").cast("array<double>")
    Tables.embeddings(s, d)
      .select(col("label"), size(col("embedding")).as("dim"),
        graft.functions.VectorFunctions.norm(v).as("nrm"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        min("dim").as("dim_min"), max("dim").as("dim_max"),
        sum((abs(col("nrm") - 1.0) > 1e-6).cast("long")).as("n_nonunit"),
        (floor((min("nrm")) * 1e6 + 0.5) / 1e6).as("norm_min"),
        (floor((max("nrm")) * 1e6 + 0.5) / 1e6).as("norm_max"))
      .orderBy("label")
  }

  // ---- exact per-group quantiles ---------------------------------------
  // Distribution report of document length per language — EXACT
  // discrete quantiles (value at rank ceil(q·n) of the sorted
  // multiset), not a sketch, so the DuckDB oracle matches bit-for-bit.
  // One window pass per stratum + one hash-agg. Exact quantiles need
  // a per-group sort by construction; with few huge strata at 100 TB
  // you'd flip this to approx_percentile (t-digest sketch, one scan,
  // no sort) and accept the error bound — that tradeoff is the point
  // of keeping the exact variant as the oracle-checked baseline.
  private val qLenQuantiles = QuerySpec.of(
    "q_text_length_quantiles",
    """WITH r AS (
      |  SELECT lang, n_chars,
      |    row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
      |      AS rn,
      |    count(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
      |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.50 * n) AS BIGINT))
      |    THEN n_chars END) AS p50,
      |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.90 * n) AS BIGINT))
      |    THEN n_chars END) AS p90,
      |  max(CASE WHEN rn = greatest(1, CAST(ceil(0.99 * n) AS BIGINT))
      |    THEN n_chars END) AS p99,
      |  min(n_chars) AS len_min, max(n_chars) AS len_max
      |FROM r GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val byLang = Window.partitionBy("lang")
    val r = Tables.documents(s, d)
      .select(col("lang"), col("n_chars"), col("doc_id"))
      .withColumn("rn",
        row_number().over(byLang.orderBy("n_chars", "doc_id")))
      .withColumn("n", count(lit(1)).over(byLang))
    def atQ(q: Double) = max(when(
      col("rn") === greatest(lit(1L), ceil(col("n") * q).cast("long")),
      col("n_chars")))
    r.groupBy("lang")
      .agg(max("n").as("n_docs"), atQ(0.50).as("p50"),
        atQ(0.90).as("p90"), atQ(0.99).as("p99"),
        min("n_chars").as("len_min"), max("n_chars").as("len_max"))
      .orderBy("lang")
  }

  // ---- retrieval ranking (BM25-shaped, log-free) -----------------------
  // Top-k documents for a fixed query by tf-saturation scoring with a
  // ratio idf — deliberately LOG-FREE: every operation is IEEE
  // +,·,/ in a fixed order, so Spark and DuckDB produce bit-identical
  // doubles (ln() is not bit-specified across libms; BM25's log idf
  // is the one part that can't be oracle-hashed, so the idf here is
  // the raw Robertson ratio (N-df+0.5)/(df+0.5) un-logged).
  // Shape: one corpus scan; (N, avgdl, df_t) reduce to a single
  // broadcast stats row; scoring is map-side; TakeOrdered top-k —
  // never a full sort.
  val QueryTerms: Seq[String] = Seq("table", "fast", "spark")
  private val K1 = 1.2
  private val B = 0.75

  /** The BM25 scorer, ONCE for both its consumers (q_search_rank and
    * q_search_rrf's lexical leg): DuckDB fragments for the stats CTE
    * column list and the score expression, plus the identical
    * DataFrame pipeline returning (doc_id, score).
    */
  private def sqlBm25Dfs: String =
    QueryTerms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN list_contains(toks, '$t') THEN 1 ELSE 0 END) AS df$i"
    }.mkString(", ")

  private def sqlBm25Score: String =
    QueryTerms.zipWithIndex.map { case (t, i) =>
      s"((n - df$i + 0.5) / (df$i + 0.5))" +
        s" * (len(list_filter(toks, t -> t = '$t')) * ${K1 + 1})" +
        s" / (len(list_filter(toks, t -> t = '$t'))" +
        s" + $K1 * (${1 - B} + $B * dl / avgdl))"
    }.mkString(" + ")

  private def bm25Scores(s: SparkSession, d: String): DataFrame = {
    val base = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("dl", size(col("toks")))
    val statCols =
      count(lit(1)).as("n") +:
        (sum("dl").cast("double") / count(lit(1))).as("avgdl") +:
        QueryTerms.zipWithIndex.map { case (t, i) =>
          sum(array_contains(col("toks"), t).cast("long")).as(s"df$i")
        }
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val score = QueryTerms.zipWithIndex.map { case (t, i) =>
      val tf = size(filter(col("toks"), x => x === t)).cast("double")
      ((col("n") - col(s"df$i") + 0.5) / (col(s"df$i") + 0.5)) *
        (tf * lit(K1 + 1)) /
        (tf + lit(K1) * (lit(1 - B) +
          lit(B) * col("dl").cast("double") / col("avgdl")))
    }.reduce(_ + _)
    base.crossJoin(broadcast(stats))
      .select(col("doc_id"), score.as("score"))
  }

  private val qSearchRank = QuerySpec.of(
    "q_search_rank", {
      val toks = graft.functions.TextFunctions.sql.toks
      s"""WITH d AS (
        |  SELECT doc_id, toks, len(toks) AS dl
        |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
        |stats AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, $sqlBm25Dfs
        |  FROM d),
        |s AS (SELECT doc_id, $sqlBm25Score AS score FROM d, stats)
        |SELECT doc_id, (floor((score) * 1e6 + 0.5) / 1e6) AS score FROM s
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin
    }) { (s, d) =>
    bm25Scores(s, d)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)
      .select(col("doc_id"), (floor((col("score")) * 1e6 + 0.5) / 1e6).as("score"))
  }

  // ---- sliding-window document chunking (RAG / context-window prep) ------
  // Each document becomes overlapping CHUNK_TOKENS-token windows with
  // stride CHUNK_STRIDE (8-token overlap) — the retrieval-corpus
  // chunker: concatenate nothing, split each doc independently, keep
  // provenance (doc_id, chunk_id, token range). The last window is
  // allowed to be short; a doc never emits zero chunks unless it has
  // zero tokens. The chunk content is pinned by an md5 of the joined
  // token window, so the oracle proves byte-identical chunk text, not
  // just counts. Shape: pure per-row explode — no shuffle at all
  // before the final ORDER BY; at 100 TB this pipelines inside one
  // codegen span per partition and scales linearly.
  val ChunkTokens = 32
  val ChunkStride = 24

  private val qChunkDocs = QuerySpec.of(
    "q_chunk_documents", {
      val toks = graft.functions.TextFunctions.sql.toks
      s"""WITH t AS (
        |  SELECT doc_id, $toks AS toks FROM documents),
        |n AS (
        |  SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |c AS (
        |  SELECT doc_id, n,
        |    1 + greatest(0, n - $ChunkTokens + $ChunkStride - 1)
        |      // $ChunkStride AS n_chunks, toks
        |  FROM n)
        |SELECT doc_id, CAST(u.chunk_id AS BIGINT) AS chunk_id,
        |  CAST(len(list_slice(toks, u.chunk_id * $ChunkStride + 1,
        |    u.chunk_id * $ChunkStride + $ChunkTokens)) AS BIGINT)
        |    AS chunk_len,
        |  md5(array_to_string(list_slice(toks,
        |    u.chunk_id * $ChunkStride + 1,
        |    u.chunk_id * $ChunkStride + $ChunkTokens), ' ')) AS chunk_md5
        |FROM c, unnest(range(0, n_chunks)) AS u(chunk_id)
        |ORDER BY doc_id, chunk_id""".stripMargin
    }) { (s, d) =>
    Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
      .withColumn("chunk_id", explode(sequence(lit(0L),
        expr(s"CAST(greatest(0, n - $ChunkTokens + $ChunkStride - 1)" +
          s" DIV $ChunkStride AS BIGINT)"))))
      .withColumn("chunk",
        slice(col("toks"),
          (col("chunk_id") * ChunkStride + 1).cast("int"), lit(ChunkTokens)))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("chunk_len"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  // ---- embedding coverage audit -------------------------------------------
  // Which documents actually have an embedding row (doc_id = vec_id)?
  // The data-quality gate before any embedding-driven stage (ANN,
  // semantic dedup, clustering) — a silent coverage gap poisons them
  // all. Per source: doc count, embedded count, coverage in exact
  // basis points, plus the embedded tokens share (how much of the
  // source's TEXT mass is covered, not just how many rows).
  // Shape: one equality left join on the id (bucketable/bucketed at
  // warehouse scale), per-source rollup with map-side combine.
  private val qEmbedCoverage = QuerySpec.of(
    "q_embed_coverage", {
      val toks = graft.functions.TextFunctions.sql.toks
      s"""WITH d AS (
        |  SELECT doc_id, source, len($toks) AS ntok FROM documents),
        |j AS (
        |  SELECT d.source, d.ntok,
        |    CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END AS emb
        |  FROM d LEFT JOIN embeddings e ON d.doc_id = e.vec_id)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(emb) AS BIGINT) AS n_embedded,
        |  CAST(sum(emb) * 10000 // count(*) AS BIGINT) AS coverage_bp,
        |  CAST(sum(CASE WHEN emb = 1 THEN ntok ELSE 0 END) * 10000
        |    // sum(ntok) AS BIGINT) AS token_coverage_bp
        |FROM j GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
    val docs = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).as("ntok"))
    val emb = Tables.embeddings(s, d).select(col("vec_id"))
    docs.join(emb, col("doc_id") === col("vec_id"), "left")
      .withColumn("emb", when(col("vec_id").isNull, 0L).otherwise(1L))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("emb").as("n_embedded"),
        expr("CAST(sum(emb) * 10000 DIV count(*) AS BIGINT)")
          .as("coverage_bp"),
        expr("CAST(sum(CASE WHEN emb = 1 THEN ntok ELSE 0 END) * 10000" +
          " DIV sum(ntok) AS BIGINT)").as("token_coverage_bp"))
      .orderBy("source")
  }

  // ---- curriculum phase assignment ----------------------------------------
  // Quality-ordered training curriculum: documents split into 3 phases
  // (cleanest first) by quality-score CUTOFF VALUES, not global ranks —
  // the cutoffs are the scores at ranks ceil(N/3) and ceil(2N/3) of
  // the descending order (two TakeOrdered jobs, never a global
  // row-number window — a rank column would serialize the corpus into
  // one task). Value ties all land in the earlier phase, so phase
  // membership is a pure function of the score — deterministic under
  // any partitioning, which is what makes the curriculum reproducible
  // across reruns. Per phase: doc/token mass and exact share.
  private val qCurriculum = QuerySpec.of(
    "q_pack_curriculum", {
      val toks = graft.functions.TextFunctions.sql.toks
      val q = graft.functions.TextFunctions.sql.quality
      s"""WITH t AS (
        |  SELECT doc_id, $q AS q, len($toks) AS ntok FROM documents),
        |n AS (SELECT count(*) AS n FROM t),
        |c1 AS (
        |  SELECT min(q) AS c FROM (
        |    SELECT q FROM t ORDER BY q DESC, doc_id
        |    LIMIT (SELECT (n + 2) // 3 FROM n))),
        |c2 AS (
        |  SELECT min(q) AS c FROM (
        |    SELECT q FROM t ORDER BY q DESC, doc_id
        |    LIMIT (SELECT (2 * n + 2) // 3 FROM n))),
        |p AS (
        |  SELECT CASE WHEN q >= (SELECT c FROM c1) THEN 0
        |    WHEN q >= (SELECT c FROM c2) THEN 1 ELSE 2 END AS phase,
        |    q, ntok
        |  FROM t),
        |tot AS (SELECT CAST(sum(ntok) AS BIGINT) AS tt FROM p)
        |SELECT phase, count(*) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST(sum(ntok) * 10000 // (SELECT tt FROM tot) AS BIGINT)
        |    AS token_share_bp,
        |  min(q) AS min_q, max(q) AS max_q
        |FROM p GROUP BY phase ORDER BY phase""".stripMargin
    }) { (s, d) =>
    import graft.functions.TextFunctions.qualityScore
    val t = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), qualityScore(col("text")).as("q"),
        size(tokens(col("text"))).as("ntok"))
      .localCheckpoint() // cutoff probes + the phase pass read it
    val n = t.count()
    def cutoff(k: Long): Double =
      t.orderBy(col("q").desc, col("doc_id")).limit(k.toInt)
        .agg(min("q")).collect().head.getDouble(0)
    val c1 = cutoff((n + 2) / 3)
    val c2 = cutoff((2 * n + 2) / 3)
    val p = t.withColumn("phase",
      when(col("q") >= c1, 0).otherwise(
        when(col("q") >= c2, 1).otherwise(2)))
    val tot = p.agg(sum("ntok")).collect().head.getLong(0)
    p.groupBy("phase")
      .agg(count(lit(1)).as("n_docs"),
        sum("ntok").as("n_tokens"),
        expr(s"CAST(sum(ntok) * 10000 DIV $tot AS BIGINT)")
          .as("token_share_bp"),
        min("q").as("min_q"), max("q").as("max_q"))
      .orderBy("phase")
  }

  // ---- reciprocal-rank fusion of lexical + semantic retrieval ----------
  // The standard hybrid-search combiner, in its PRODUCTION shape: each
  // ranker contributes only its top-K candidates (TakeOrdered — never
  // a global sort; ranking the K survivors is a constant-K window),
  // and a document outside a ranker's top K contributes nothing from
  // that ranker — exactly how RRF runs over BM25-postings / ANN-probe
  // candidate lists. K=500 dwarfs the fused top-20: an outside-both
  // doc tops out at 2·10^12/560 ≈ 3.6e9, far below any single top-20
  // rank's 10^12/80, so the cut cannot perturb the winners. The
  // fusion is INTEGER-exact: Σ 10^12 DIV (60 + rank) over ranks
  // ordered by rounded scores with id tie-breaks, identical in both
  // engines; absent legs surface as NULL rank columns.
  private val RrfK = 60L
  private val RrfScale = 1000000000000L
  private val RrfTopK = 500

  private val qSearchRrf = QuerySpec.of(
    "q_search_rrf", {
      val toks = graft.functions.TextFunctions.sql.toks
      s"""WITH d AS (
        |  SELECT doc_id, toks, len(toks) AS dl
        |  FROM (SELECT doc_id, $toks AS toks FROM documents)),
        |stats AS (
        |  SELECT count(*) AS n,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl, $sqlBm25Dfs
        |  FROM d),
        |lexs AS (
        |  SELECT doc_id, (floor(($sqlBm25Score) * 1e6 + 0.5) / 1e6) AS s6
        |  FROM d, stats ORDER BY s6 DESC, doc_id LIMIT $RrfTopK),
        |lex AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY s6 DESC, doc_id)
        |    AS ra
        |  FROM lexs),
        |e AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |n2 AS (
        |  SELECT vec_id, v,
        |    sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        |  FROM e),
        |qv AS (SELECT v AS qv, nrm AS qn FROM n2
        |       WHERE vec_id = (SELECT min(vec_id) FROM embeddings)),
        |sems AS (
        |  SELECT vec_id,
        |    (floor((list_sum(list_transform(range(1, 65),
        |      i -> v[i] * qv[i])) / (nrm * qn)) * 1e9 + 0.5) / 1e9) AS c9
        |  FROM n2, qv ORDER BY c9 DESC, vec_id LIMIT $RrfTopK),
        |sem AS (
        |  SELECT vec_id, row_number() OVER (ORDER BY c9 DESC, vec_id)
        |    AS rb
        |  FROM sems),
        |fused AS (
        |  SELECT COALESCE(lex.doc_id, sem.vec_id) AS doc_id,
        |    lex.ra, sem.rb,
        |    COALESCE($RrfScale // ($RrfK + lex.ra), 0)
        |      + COALESCE($RrfScale // ($RrfK + sem.rb), 0) AS rrf
        |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.vec_id)
        |SELECT doc_id, ra, rb, rrf FROM fused
        |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
    }) { (s, d) =>
    val lex = bm25Scores(s, d)
      .select(col("doc_id"), (floor((col("score")) * 1e6 + 0.5) / 1e6).as("s6"))
      .orderBy(col("s6").desc, col("doc_id")).limit(RrfTopK)
      .withColumn("ra", row_number().over( // constant-K input: cheap
        Window.orderBy(col("s6").desc, col("doc_id"))))
      .select("doc_id", "ra")
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", graft.functions.VectorFunctions.norm(col("v")))
    val qv = e.orderBy("vec_id").limit(1)
      .select(col("v").as("qv"), col("nrm").as("qn"))
    val sem = e.crossJoin(broadcast(qv))
      .select(col("vec_id"),
        (floor((graft.functions.VectorFunctions.dot(col("v"), col("qv")) /
          (col("nrm") * col("qn"))) * 1e9 + 0.5) / 1e9).as("c9"))
      .orderBy(col("c9").desc, col("vec_id")).limit(RrfTopK)
      .withColumn("rb", row_number().over(
        Window.orderBy(col("c9").desc, col("vec_id"))))
      .select("vec_id", "rb")
    lex.join(sem, col("doc_id") === col("vec_id"), "full_outer")
      .select(coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
        col("ra"), col("rb"),
        (coalesce(expr(s"$RrfScale DIV ($RrfK + ra)"), lit(0L)) +
          coalesce(expr(s"$RrfScale DIV ($RrfK + rb)"), lit(0L)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(20)
  }

  // ---- deterministic weighted sampling (priority sampling) -------------
  // Weight-proportional sampling without replacement, fully
  // deterministic: each doc's rank is hash(doc_id)·S / weight
  // (integer), the k lowest ranks per source win — the Duffield-Lund-
  // Thorup priority sample, with the hash standing in for the uniform
  // draw so reruns and both engines pick the SAME sample (membership
  // digest in the output proves it). The DLT total-weight estimator
  // comes along for free and stays integer-exact: with threshold t =
  // the (k+1)-th smallest scaled rank, each sampled doc contributes
  // max(w, (H·S) DIV t); sources with ≤ k docs are fully sampled and
  // contribute exactly w. One shuffle on source (the window);
  // WindowGroupLimit truncates the per-partition sort at k+1.
  val WeightedK = 50
  private val WsScale = 1000000L // rank scale S
  private val WsHashSpan = 4294967296L // H = 2^32 (hash32 range)

  private val qSampleWeighted = QuerySpec.of(
    "q_sample_weighted", {
      val h = HashFunctions.sqlHash32("CAST(doc_id AS VARCHAR) || ':wsamp'")
      s"""WITH v AS (
        |  SELECT source, doc_id, n_chars AS w,
        |    (($h) * $WsScale) // n_chars AS r
        |  FROM documents WHERE n_chars > 0),
        |rn AS (
        |  SELECT source, doc_id, w, r,
        |    row_number() OVER (PARTITION BY source ORDER BY r, doc_id)
        |      AS rn
        |  FROM v),
        |thr AS (SELECT source, r AS t FROM rn WHERE rn = ${WeightedK + 1}),
        |s AS (
        |  SELECT rn.source, rn.doc_id, rn.w,
        |    CASE WHEN thr.t IS NULL THEN rn.w
        |      ELSE greatest(rn.w, ${WsHashSpan * WsScale} // thr.t) END
        |      AS w_est
        |  FROM rn LEFT JOIN thr ON rn.source = thr.source
        |  WHERE rn.rn <= $WeightedK),
        |x AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS total_w
        |      FROM documents WHERE n_chars > 0 GROUP BY source)
        |SELECT s.source, count(*) AS n_sampled,
        |  CAST(sum(s.w) AS BIGINT) AS sum_w,
        |  CAST(sum(s.w_est) AS BIGINT) AS est_total_w,
        |  x.total_w,
        |  abs(CAST(sum(s.w_est) AS BIGINT) - x.total_w) * 10000
        |    // x.total_w AS err_bp,
        |  md5(string_agg(CAST(s.doc_id AS VARCHAR), ','
        |    ORDER BY s.doc_id)) AS member_md5
        |FROM s JOIN x ON s.source = x.source
        |GROUP BY s.source, x.total_w
        |ORDER BY s.source""".stripMargin
    }) { (s, d) =>
    val hk = HashFunctions.hash32(
      concat(col("doc_id").cast("string"), lit(":wsamp")))
    val v = Tables.documents(s, d).filter(col("n_chars") > 0)
      .select(col("source"), col("doc_id"), col("n_chars").as("w"),
        hk.as("hk"))
      .select(col("source"), col("doc_id"), col("w"),
        expr(s"(hk * ${WsScale}L) DIV w").as("r"))
    val w = Window.partitionBy("source").orderBy(col("r"), col("doc_id"))
    val rn = v.withColumn("rn", row_number().over(w))
      .localCheckpoint() // sample + threshold branches read it
    val thr = rn.filter(col("rn") === WeightedK + 1)
      .select(col("source").as("t_source"), col("r").as("t"))
    val sampled = rn.filter(col("rn") <= WeightedK)
      .join(thr, col("source") === col("t_source"), "left")
      .select(col("source"), col("doc_id"), col("w"),
        when(col("t").isNull, col("w"))
          .otherwise(greatest(col("w"),
            expr(s"${WsHashSpan * WsScale}L DIV t"))).as("w_est"))
    val x = Tables.documents(s, d).filter(col("n_chars") > 0)
      .groupBy("source").agg(sum("n_chars").as("total_w"))
    sampled.groupBy("source")
      .agg(count(lit(1)).as("n_sampled"), sum("w").as("sum_w"),
        sum("w_est").as("est_total_w"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("doc_id")))),
          e => e.getField("doc_id").cast("string")), ","))
          .as("member_md5"))
      .join(x, Seq("source"))
      .select(col("source"), col("n_sampled"), col("sum_w"),
        col("est_total_w"), col("total_w"),
        expr("abs(est_total_w - total_w) * 10000 DIV total_w")
          .as("err_bp"), col("member_md5"))
      .orderBy("source")
  }

  val specs: Seq[QuerySpec] = Seq(qPackSequences, qPackGreedy,
    qSampleMixture, qSampleStratified, qRepetition, qEmbedValidate,
    qLenQuantiles, qSearchRank, qChunkDocs, qEmbedCoverage, qCurriculum,
    qSampleWeighted, qSearchRrf)
}
