package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-profiling operators for the training-data pipeline: the
  * diagnostic reports a data curator runs BEFORE committing to a
  * mixture — vocabulary coverage / OOV rate against a learned top-V
  * vocabulary, the cross-source contamination matrix (which sources
  * share identical documents), and duplicate n-gram span coverage
  * (what fraction of each source's tokens sits inside a word n-gram
  * that occurs more than once in the corpus — the substring-level dup
  * signal that document-level fingerprints cannot see).
  *
  * Scale theme: every operator reduces the corpus to token- or
  * gram-keyed aggregates with map-side partial aggregation before any
  * join, joins only on equality keys, and broadcasts only
  * provably-tiny sides (a top-V vocab, a per-source count dim).
  */
object CorpusProfile {

  /** Vocabulary size for the coverage report (top-V by corpus
    * frequency, ties broken by token — a deterministic total order).
    */
  val VocabSize = 16

  // ---- vocabulary coverage / OOV rate ----------------------------------
  // Learn the top-V vocabulary from corpus token frequencies, then
  // report per-source token counts, OOV occurrences, OOV rate and
  // distinct OOV types — the pre-flight check before committing to a
  // fixed tokenizer vocabulary. Shape: word-count agg (map-side
  // combine, one shuffle on token), top-V via orderBy+limit (compiles
  // to TakeOrderedAndProject — never a global sort), then a broadcast
  // left join back onto the exploded stream and one per-source agg.
  // At 100 TB the token-count table is |types| rows (millions, not
  // billions) and everything else is map-side.
  private val qVocabCoverage = QuerySpec.of(
    "q_vocab_coverage", {
      val toks = sql.toks
      s"""WITH e AS (SELECT source, unnest($toks) AS tok FROM documents),
        |c AS (SELECT tok, count(*) AS n FROM e GROUP BY tok),
        |v AS (SELECT tok FROM c ORDER BY n DESC, tok LIMIT $VocabSize),
        |j AS (
        |  SELECT e.source, e.tok, (v.tok IS NOT NULL) AS hit
        |  FROM e LEFT JOIN v ON e.tok = v.tok)
        |SELECT source, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN hit THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
        |  (floor((CAST(sum(CASE WHEN hit THEN 0 ELSE 1 END) AS DOUBLE)
        |    / count(*)) * 1e6 + 0.5) / 1e6) AS oov_rate,
        |  CAST(count(DISTINCT CASE WHEN NOT hit THEN tok END) AS BIGINT)
        |    AS n_oov_types
        |FROM j GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
    val ex = Tables.fanout(Tables.documents(s, d))
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
    val vocab = ex.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(VocabSize)
      .select(col("tok"), lit(true).as("hit"))
    val oov = when(col("hit").isNull, 1L).otherwise(0L)
    ex.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"), sum(oov).as("n_oov"),
        (floor((sum(oov).cast("double") / count(lit(1))) * 1e6 + 0.5) / 1e6).as("oov_rate"),
        countDistinct(when(col("hit").isNull, col("tok")))
          .as("n_oov_types"))
      .orderBy("source")
  }

  // ---- cross-source fingerprint overlap matrix -------------------------
  // Which pairs of sources contain identical documents (by the sorted
  // token-set fingerprint), how many, and the Jaccard overlap of their
  // fingerprint sets — the "is my eval source contaminated by my
  // train source" matrix at document granularity. Shape: distinct
  // (source, fp) FIRST (the big shrink), equality self-join on fp
  // (never all-pairs of documents — only fingerprints that actually
  // collide meet), per-source set sizes join in as a broadcast dim.
  // Jaccard is integer counts + one division, so the hash compare is
  // engine-stable.
  private val qSourceOverlap = QuerySpec.of(
    "q_source_overlap", {
      val fp = sql.fingerprint
      s"""WITH f AS (SELECT DISTINCT source, $fp AS fp FROM documents),
        |n AS (SELECT source, count(*) AS nfp FROM f GROUP BY source),
        |p AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |    count(*) AS n_shared
        |  FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_shared,
        |  na.nfp AS n_a, nb.nfp AS n_b,
        |  (floor((CAST(n_shared AS DOUBLE)
        |    / (na.nfp + nb.nfp - n_shared)) * 1e6 + 0.5) / 1e6) AS jaccard
        |FROM p
        |JOIN n na ON na.source = p.source_a
        |JOIN n nb ON nb.source = p.source_b
        |ORDER BY source_a, source_b""".stripMargin
    }) { (s, d) =>
    val f = Tables.fanout(Tables.documents(s, d))
      .select(col("source"), fingerprint(col("text")).as("fp"))
      .distinct()
    val n = f.groupBy("source").agg(count(lit(1)).as("nfp"))
    val pairs = f.as("a")
      .join(f.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(n.select(col("source").as("source_a"), col("nfp").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(n.select(col("source").as("source_b"), col("nfp").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_a"), col("n_b"),
        (floor((col("n_shared").cast("double")
          / (col("n_a") + col("n_b") - col("n_shared"))) * 1e6 + 0.5) / 1e6).as("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** Word-gram width for duplicate-span detection. */
  val SpanGram = 8

  // ---- duplicate n-gram span coverage ----------------------------------
  // For every document, the fraction of its tokens covered by some
  // word 8-gram that occurs more than once in the whole corpus
  // (counting repeats within one document too) — the substring-level
  // duplication profile behind "train on unique text" policies:
  // document fingerprints catch whole-doc dups, this catches shared
  // boilerplate spans inside otherwise-distinct documents.
  // Shape: gram occurrences carry (doc, pos); the occurrence count
  // aggregates with map-side combine on the gram key; only DUP grams
  // (a small minority) rejoin and fan out to their ≤8 covered
  // positions, and the distinct-position dedup collapses overlapping
  // spans before the per-doc count. The full gram stream is never
  // joined to itself — only grams that collide meet, and non-dup
  // grams die at the HAVING.
  private val qDupSpans = QuerySpec.of(
    "q_dup_spans", {
      val toks = sql.toks
      val g = SpanGram
      s"""WITH t AS (SELECT doc_id, source, $toks AS toks FROM documents),
        |b AS (
        |  SELECT doc_id, source, len(toks) AS ntok,
        |    ${sql.shingles("toks", g)} AS grams
        |  FROM t),
        |o AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(0, len(grams)),
        |      i -> struct_pack(pos := i, gram := grams[i + 1]))) AS u
        |  FROM b),
        |occ AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM o),
        |dupg AS (SELECT gram FROM occ GROUP BY gram HAVING count(*) > 1),
        |cov AS (
        |  SELECT DISTINCT doc_id, cpos FROM (
        |    SELECT occ.doc_id, unnest(range(occ.pos, occ.pos + $g)) AS cpos
        |    FROM occ JOIN dupg USING (gram))),
        |cv AS (SELECT doc_id, count(*) AS covered FROM cov GROUP BY doc_id),
        |per AS (
        |  SELECT b.source, b.ntok, coalesce(cv.covered, 0) AS covered
        |  FROM b LEFT JOIN cv USING (doc_id))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN covered > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  CAST(sum(covered) AS BIGINT) AS dup_tokens,
        |  CAST(sum(ntok) AS BIGINT) AS total_tokens,
        |  (floor((CAST(sum(covered) AS DOUBLE) / sum(ntok)) * 1e6 + 0.5) / 1e6)
        |    AS dup_token_frac
        |FROM per GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
    val base = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("source"), size(col("toks")).as("ntok"),
        shingles(col("toks"), SpanGram).as("grams"))
    val occ = base.select(col("doc_id"),
      posexplode(col("grams")).as(Seq("pos", "gram")))
    val dupg = occ.groupBy("gram").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("gram")
    val cov = occ.join(dupg, Seq("gram"))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (SpanGram - 1))).as("cpos"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("covered"))
    base.select(col("doc_id"), col("source"), col("ntok"))
      .join(cov, Seq("doc_id"), "left")
      .withColumn("covered", coalesce(col("covered"), lit(0L)))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("covered") > 0).cast("long")).as("n_dup_docs"),
        sum("covered").as("dup_tokens"),
        sum("ntok").as("total_tokens"),
        (floor((sum("covered").cast("double") / sum("ntok")) * 1e6 + 0.5) / 1e6)
          .as("dup_token_frac"))
      .orderBy("source")
  }

  /** Token budget for the epochs-at-budget column of the mixture
    * weight report.
    */
  val MixBudgetTokens = 1000000L

  // ---- temperature-resampling mixture weights --------------------------
  // The "how much of each source do I actually train on" sheet:
  // natural token share per source, the alpha=0.5 temperature weight
  // (w_i ∝ n_i^alpha — upweights small sources, the standard
  // multilingual/multi-source rebalancing), and the implied epochs
  // over each source at a fixed token budget. alpha is fixed at 0.5
  // because sqrt is an IEEE-exact operation — the whole report stays
  // engine-hashable where a pow()-based temperature would not be.
  // Shape: one partial-agg scan to 20 source rows; the normalizer is
  // a 1-row broadcast.
  private val qMixtureWeights = QuerySpec.of(
    "q_mixture_weights",
    s"""WITH c AS (
      |  SELECT source, count(*) AS n_docs,
      |    CAST(sum(len(list_filter(regexp_split_to_array(text, '\\s+'),
      |      t -> t <> ''))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |t AS (
      |  SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot,
      |    sum(sqrt(CAST(n_tokens AS DOUBLE))) AS z
      |  FROM c)
      |SELECT source, n_docs, n_tokens,
      |  (floor((n_tokens / tot) * 1e6 + 0.5) / 1e6) AS nat_share,
      |  (floor((sqrt(CAST(n_tokens AS DOUBLE)) / z) * 1e6 + 0.5) / 1e6) AS w_alpha,
      |  (floor((sqrt(CAST(n_tokens AS DOUBLE)) / z * $MixBudgetTokens
      |    / n_tokens) * 1e6 + 0.5) / 1e6) AS epochs_at_budget
      |FROM c, t ORDER BY source""".stripMargin) { (s, d) =>
    val c = Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(wsTokenCount(col("text"))).as("n_tokens"))
    val t = c.agg(sum("n_tokens").cast("double").as("tot"),
      sum(sqrt(col("n_tokens").cast("double"))).as("z"))
    val w = sqrt(col("n_tokens").cast("double")) / col("z")
    c.crossJoin(broadcast(t))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (floor((col("n_tokens") / col("tot")) * 1e6 + 0.5) / 1e6).as("nat_share"),
        (floor((w) * 1e6 + 0.5) / 1e6).as("w_alpha"),
        (floor((w * MixBudgetTokens / col("n_tokens")) * 1e6 + 0.5) / 1e6)
          .as("epochs_at_budget"))
      .orderBy("source")
  }

  // ---- token-budget mixture sampling -------------------------------------
  // Executes the plan q_mixture_weights only reports: a total token
  // budget (half the corpus, self-scaling) is split into per-source
  // quotas by the α=0.5 temperature weights, then each source FILLS
  // its quota deterministically — docs in hash32(doc_id) order, a
  // per-source running token sum, keep while the cumulative count
  // stays within quota. One corpus scan + one window per source; the
  // hash order makes the selected set stable under any partitioning
  // (no RAND(), no row-order dependence). The sqrt weights are
  // quantized to integer micro-units (round(sqrt(x)*1e6) AS BIGINT)
  // BEFORE summing, so the weight total z is an exact integer — a
  // raw double SUM would be partitioning-order-dependent and could
  // flip a quota floor between engines. The remaining quota floor is
  // a single division+multiplication over exact integers, identical
  // in both engines, so the report is hash-exact.
  private val qSampleBudget = QuerySpec.of(
    "q_sample_budget", {
      val bk = graft.functions.HashFunctions.sqlHash32("doc_id")
      s"""WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),
        |      t -> t <> '')) AS BIGINT) AS ntok,
        |    $bk AS hk
        |  FROM documents),
        |c AS (SELECT source, CAST(sum(ntok) AS BIGINT) AS src_tokens,
        |        CAST(floor((sqrt(CAST(sum(ntok) AS DOUBLE)) * 1e6) + 0.5)
        |          AS BIGINT) AS wq
        |      FROM d GROUP BY source),
        |t AS (SELECT CAST(sum(src_tokens) AS BIGINT) // 2 AS budget,
        |        CAST(sum(wq) AS BIGINT) AS z FROM c),
        |q AS (
        |  SELECT source, src_tokens,
        |    CAST(floor(CAST(wq AS DOUBLE) / CAST(z AS DOUBLE)
        |      * CAST(budget AS DOUBLE)) AS BIGINT) AS quota
        |  FROM c, t),
        |r AS (
        |  SELECT d.source, d.ntok, q.quota,
        |    sum(d.ntok) OVER (PARTITION BY d.source
        |      ORDER BY d.hk, d.doc_id ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d JOIN q USING (source))
        |SELECT source, CAST(max(quota) AS BIGINT) AS quota_tokens,
        |  CAST(count(*) FILTER (cum <= quota) AS BIGINT) AS n_selected,
        |  CAST(coalesce(sum(ntok) FILTER (cum <= quota), 0) AS BIGINT)
        |    AS tokens_selected,
        |  CAST(coalesce(sum(ntok) FILTER (cum <= quota), 0) * 10000
        |    // nullif(max(quota), 0) AS BIGINT) AS fill_bp
        |FROM r GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
    import graft.functions.HashFunctions
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        wsTokenCount(col("text")).cast("long").as("ntok"),
        HashFunctions.hash32(col("doc_id")).as("hk"))
    val c = docs.groupBy("source").agg(sum("ntok").as("src_tokens"),
      floor((sqrt(sum("ntok").cast("double")) * lit(1e6)) + 0.5).cast("long")
        .as("wq"))
    val t = c.agg((sum("src_tokens") / lit(2)).cast("long").as("budget"),
      sum("wq").cast("long").as("z"))
    val q = c.crossJoin(broadcast(t))
      .select(col("source"),
        floor(col("wq").cast("double") / col("z").cast("double")
          * col("budget").cast("double")).cast("long").as("quota"))
    val w = Window.partitionBy("source").orderBy("hk", "doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    docs.join(broadcast(q), "source")
      .withColumn("cum", sum("ntok").over(w))
      .groupBy("source")
      .agg(max("quota").as("quota_tokens"),
        sum(when(col("cum") <= col("quota"), 1L).otherwise(0L))
          .as("n_selected"),
        sum(when(col("cum") <= col("quota"), col("ntok")).otherwise(0L))
          .as("tokens_selected"))
      .select(col("source"), col("quota_tokens"), col("n_selected"),
        col("tokens_selected"),
        expr("CAST(tokens_selected * 10000 DIV nullif(quota_tokens, 0)" +
            " AS BIGINT)")
          .as("fill_bp"))
      .orderBy("source")
  }

  // ---- quality-score vs duplication calibration ------------------------
  // Does the heuristic quality score actually separate duplicated
  // content? Bucket documents by quality decile (floor(score*10) on
  // the shared score formula) and report the exact-duplicate rate per
  // bucket — the calibration curve a curator reads before trusting
  // score thresholds as a filter. The dup flag is corpus-wide
  // fingerprint multiplicity; the decile join is a broadcast of the
  // tiny dup-fingerprint set's doc ids via an equality join on fp.
  private val qQualityVsDup = QuerySpec.of(
    "q_quality_vs_dup", {
      val toks = sql.toks
      val fp = sql.fingerprint
      s"""WITH t AS (
        |  SELECT doc_id, $fp AS fp, $toks AS toks,
        |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |      CAST(length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g'))
        |        AS DOUBLE) / length(text) END AS punct_ratio,
        |    CASE WHEN length(text) = 0 THEN 0.0 ELSE
        |      CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
        |        AS DOUBLE) / length(text) END AS digit_ratio
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, fp,
        |    (floor((least(1.0, CAST(len(toks) AS DOUBLE) / 50.0) * 0.4
        |      + least(1.0, (CASE WHEN len(toks) = 0 THEN 0.0 ELSE
        |          CAST(len(list_filter(toks, t -> t IN
        |            ('the','a','an','and','of','to','in','is','it','that')))
        |            AS DOUBLE) / len(toks) END) * 4.0) * 0.4
        |      + (1.0 - least(1.0, (punct_ratio + digit_ratio) * 5.0)) * 0.2)
        |      * 1e6 + 0.5) / 1e6) AS score
        |  FROM t),
        |dupfp AS (SELECT fp FROM s GROUP BY fp HAVING count(*) > 1),
        |b AS (
        |  SELECT least(9, CAST(floor(s.score * 10) AS BIGINT)) AS bucket,
        |    s.score, (dupfp.fp IS NOT NULL) AS is_dup
        |  FROM s LEFT JOIN dupfp ON s.fp = dupfp.fp)
        |SELECT bucket, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_docs,
        |  (floor((CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*)) * 1e6 + 0.5) / 1e6) AS dup_rate,
        |  (floor((min(score)) * 1e6 + 0.5) / 1e6) AS score_min, (floor((max(score)) * 1e6 + 0.5) / 1e6) AS score_max
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    }) { (s, d) =>
    val scored = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), fingerprint(col("text")).as("fp"),
        qualityScore(col("text")).as("score"))
    val dupfp = scored.groupBy("fp").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select(col("fp"), lit(true).as("is_dup"))
    scored.join(dupfp, Seq("fp"), "left")
      .groupBy(least(lit(9), floor(col("score") * 10).cast("long"))
        .as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dup_docs"),
        (floor((sum(when(col("is_dup"), 1L).otherwise(0L)).cast("double")
          / count(lit(1))) * 1e6 + 0.5) / 1e6).as("dup_rate"),
        (floor((min("score")) * 1e6 + 0.5) / 1e6).as("score_min"),
        (floor((max("score")) * 1e6 + 0.5) / 1e6).as("score_max"))
      .orderBy("bucket")
  }

  // ---- cross-split n-gram decontamination ------------------------------
  // The eval-integrity check run before any training job: using the
  // same hash split as q_split_hash (train <80, test >=90 of
  // hash32(doc_id)%100), which TEST documents share a word 8-gram
  // with ANY train document — gram-level leakage that survives
  // document-level dedup. Shape: both gram sets dedupe with map-side
  // partials BEFORE the equality join on gram (the only wide op);
  // contaminated doc ids collapse to a distinct set; per-source
  // summary re-attaches with a broadcast-sized left join. No
  // all-pairs anything — only grams present on both sides meet.
  private val qSplitContamination = QuerySpec.of(
    "q_split_contamination", {
      val toks = sql.toks
      val g = SpanGram
      val bk = graft.functions.HashFunctions.sqlHash32("doc_id")
      s"""WITH b AS (
        |  SELECT doc_id, source, ($bk) % 100 AS bk,
        |    ${sql.shingles(toks, g)} AS grams
        |  FROM documents),
        |gr AS (SELECT doc_id, source, bk, unnest(grams) AS gram FROM b),
        |tr AS (SELECT DISTINCT gram FROM gr WHERE bk < 80),
        |te AS (SELECT DISTINCT doc_id, source, gram FROM gr WHERE bk >= 90),
        |hit AS (SELECT DISTINCT te.doc_id FROM te JOIN tr USING (gram)),
        |shared AS (
        |  SELECT source, count(DISTINCT gram) AS n_shared_grams
        |  FROM te JOIN tr USING (gram) GROUP BY source),
        |td AS (SELECT doc_id, source FROM b WHERE bk >= 90)
        |SELECT td.source, count(*) AS n_test_docs,
        |  CAST(sum(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_contaminated,
        |  (floor((CAST(sum(CASE WHEN hit.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*)) * 1e6 + 0.5) / 1e6) AS contam_rate,
        |  coalesce(any_value(shared.n_shared_grams), 0) AS n_shared_grams
        |FROM td
        |LEFT JOIN hit ON td.doc_id = hit.doc_id
        |LEFT JOIN shared ON td.source = shared.source
        |GROUP BY td.source ORDER BY td.source""".stripMargin
    }) { (s, d) =>
    import graft.functions.HashFunctions
    val b = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), col("source"),
        pmod(HashFunctions.hash32(col("doc_id")), lit(100)).as("bk"),
        shingles(tokens(col("text")), SpanGram).as("grams"))
    val gr = b.select(col("doc_id"), col("source"), col("bk"),
      explode(col("grams")).as("gram"))
    val tr = gr.filter(col("bk") < 80).select("gram").distinct()
    val te = gr.filter(col("bk") >= 90)
      .select("doc_id", "source", "gram").distinct()
    val teHits = te.join(tr, "gram")
    val hit = teHits.select("doc_id").distinct()
      .withColumn("is_hit", lit(true))
    val shared = teHits.groupBy("source")
      .agg(countDistinct("gram").as("n_shared_grams"))
    b.filter(col("bk") >= 90).select("doc_id", "source")
      .join(hit, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_test_docs"),
        sum(when(col("is_hit"), 1L).otherwise(0L)).as("n_contaminated"),
        (floor((sum(when(col("is_hit"), 1L).otherwise(0L)).cast("double")
          / count(lit(1))) * 1e6 + 0.5) / 1e6).as("contam_rate"))
      .join(broadcast(shared), Seq("source"), "left")
      .withColumn("n_shared_grams", coalesce(col("n_shared_grams"), lit(0L)))
      .orderBy("source")
  }

  // ---- incremental snapshot diff ---------------------------------------
  // The ingest-pipeline diff report: comparing the current corpus to
  // the previous snapshot, classify each doc_id as added / changed /
  // unchanged / removed and roll the counts up per source — the
  // decision input for incremental re-processing. The previous
  // snapshot is simulated deterministically from the same scan:
  // every doc whose hash32(doc_id) % 20 != 0 existed before; docs
  // with hash32(doc_id, 'mut') % 10 == 0 had different text; and for
  // every doc with hash32(doc_id, 'del') % 20 == 0 the snapshot held
  // an extra doc (id + 10^9) that no longer exists — so the removed
  // path genuinely fires. Shape: a doc_id-keyed FULL OUTER join of
  // two fingerprint projections (at a real deployment the previous
  // snapshot is its own table, same plan); everything reduces with
  // map-side partials.
  private val qCorpusDiff = QuerySpec.of(
    "q_corpus_diff", {
      val fp = sql.fingerprint
      val bk = graft.functions.HashFunctions.sqlHash32("doc_id")
      val mut = graft.functions.HashFunctions
        .sqlHash32("CAST(doc_id AS VARCHAR) || ':mut'")
      val del = graft.functions.HashFunctions
        .sqlHash32("CAST(doc_id AS VARCHAR) || ':del'")
      s"""WITH cur AS (SELECT doc_id, source, $fp AS fp FROM documents),
        |prev AS (
        |  SELECT doc_id, source,
        |    CASE WHEN ($mut) % 10 = 0 THEN 'stale:' || fp ELSE fp END AS fp
        |  FROM cur WHERE ($bk) % 20 != 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000, source, 'gone:' || fp
        |  FROM cur WHERE ($del) % 20 = 0)
        |SELECT coalesce(cur.source, prev.source) AS source,
        |  CAST(sum(CASE WHEN cur.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN cur.doc_id IS NOT NULL
        |    AND prev.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(sum(CASE WHEN cur.doc_id IS NOT NULL
        |    AND prev.doc_id IS NOT NULL
        |    AND prev.fp <> cur.fp THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
        |  CAST(sum(CASE WHEN cur.doc_id IS NOT NULL
        |    AND prev.doc_id IS NOT NULL
        |    AND prev.fp = cur.fp THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unchanged,
        |  CAST(sum(CASE WHEN cur.doc_id IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_removed
        |FROM cur FULL OUTER JOIN prev ON cur.doc_id = prev.doc_id
        |GROUP BY coalesce(cur.source, prev.source)
        |ORDER BY source""".stripMargin
    }) { (s, d) =>
    import graft.functions.HashFunctions
    def salted(salt: String) = pmod(HashFunctions.hash32(
      concat(col("doc_id").cast("string"), lit(salt))), lit(10))
    val cur = Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), col("source"), fingerprint(col("text")).as("fp"))
    val prev = cur
      .filter(pmod(HashFunctions.hash32(col("doc_id")), lit(20)) =!= 0)
      .select(col("doc_id"), col("source").as("prev_source"),
        when(salted(":mut") === 0, concat(lit("stale:"), col("fp")))
          .otherwise(col("fp")).as("prev_fp"))
      .unionByName(cur
        .filter(pmod(HashFunctions.hash32(
          concat(col("doc_id").cast("string"), lit(":del"))), lit(20)) === 0)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          col("source").as("prev_source"),
          concat(lit("gone:"), col("fp")).as("prev_fp")))
    cur.join(prev, Seq("doc_id"), "full_outer")
      .groupBy(coalesce(col("source"), col("prev_source")).as("source"))
      .agg(
        sum(when(col("fp").isNotNull, 1L).otherwise(0L)).as("n_docs"),
        sum(when(col("fp").isNotNull && col("prev_fp").isNull, 1L)
          .otherwise(0L)).as("n_added"),
        sum(when(col("fp").isNotNull && col("prev_fp").isNotNull
          && col("prev_fp") =!= col("fp"), 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("fp").isNotNull && col("prev_fp").isNotNull
          && col("prev_fp") === col("fp"), 1L).otherwise(0L))
          .as("n_unchanged"),
        sum(when(col("fp").isNull, 1L).otherwise(0L)).as("n_removed"))
      .orderBy("source")
  }

  // ---- lexical novelty profile (trigram hapax / type-token) -------------
  // Per-source lexical-diversity report over word 3-grams: gram
  // volume, distinct types, hapax legomena (grams occurring exactly
  // once WITHIN the source), and integer-basis-point type-token and
  // hapax rates — the "how much novel text does this source
  // contribute" number next to the dup-rate in a corpus report.
  // (Unigrams would be useless on a small closed vocabulary — every
  // word is frequent; the trigram space is where novelty lives.)
  // Shape: explode → (source, gram) hash-agg with map-side partials →
  // per-source rollup; exact integers throughout.
  private val qHapax = QuerySpec.of(
    "q_text_hapax", {
      val toks = sql.toks
      val grams = sql.shingles("toks", 3)
      s"""WITH t AS (SELECT source, $toks AS toks FROM documents),
        |g AS (SELECT source, unnest($grams) AS gram FROM t),
        |c AS (
        |  SELECT source, gram, count(*) AS n
        |  FROM g GROUP BY source, gram)
        |SELECT source,
        |  CAST(sum(n) AS BIGINT) AS n_grams,
        |  count(*) AS n_types,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hapax,
        |  count(*) * 10000 // CAST(sum(n) AS BIGINT) AS ttr_bp,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    * 10000 // count(*) AS hapax_bp
        |FROM c GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
    Tables.fanout(Tables.documents(s, d))
      .select(col("source"),
        explode(shingles(tokens(col("text")), 3)).as("gram"))
      .groupBy("source", "gram")
      .agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(sum("n").as("n_grams"),
        count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("n_hapax"))
      .select(col("source"), col("n_grams"), col("n_types"),
        col("n_hapax"),
        expr("CAST(n_types * 10000 DIV n_grams AS BIGINT)").as("ttr_bp"),
        expr("CAST(n_hapax * 10000 DIV n_types AS BIGINT)").as("hapax_bp"))
      .orderBy("source")
  }

  // ---- composed corpus-prep pipeline -------------------------------------
  // The LLM-side end-to-end: quality filter → exact dedup → hash
  // split → train-side n-gram decontamination → per-(split, source)
  // rollup, composed exactly from the semantics the standalone
  // queries pin (q_text_quality_by_source's score, q_dedup_exact's
  // min-id survivor, q_split_hash's buckets, q_split_contamination's
  // 8-gram leakage rule applied as a DROP of contaminated TRAIN
  // docs). The member_md5 over the ordered surviving doc_id list
  // makes the oracle compare prove per-document membership of every
  // stage, not just counts. Shape: one corpus scan feeds everything
  // (checkpointed after the split), the dedup is one md5-keyed
  // partial agg, and decontamination only joins grams present on
  // both sides — the same never-all-pairs shape as the standalone
  // contamination query. Each stage is a def the profiler's
  // `corpus_prep.*` phases call too (graft.Profile), so a stage timing
  // is the query's own code.

  /** The frame the query checkpoints first: one scan pays
    * tokenize+quality+md5. The round-18 profile measured the old shape
    * re-deriving this projection TWICE (once per side of the dedup
    * join-back): the qf⋈dd stage cost ~2× the scan's 2.7 s at sf1
    * while the gram join everyone suspected was ~1 s. text is dropped
    * here: downstream only needs its md5 (dedup key) and toks (grams)
    * — narrower checkpoint, narrower join input.
    */
  private[graft] def prepScored(s: SparkSession, d: String): DataFrame =
    Tables.fanout(Tables.documents(s, d))
      .select(col("doc_id"), col("source"), col("text"),
        tokens(col("text")).as("toks"),
        qualityScore(col("text")).as("score"))
      .withColumn("ntok", size(col("toks")).cast("long"))
      .filter(col("score") >= 0.5)
      .select(col("doc_id"), col("source"), col("ntok"), col("toks"),
        md5(col("text")).as("md5h"))

  /** Exact dedup (min-id survivor per md5) and the hash split. */
  private[graft] def prepSplit(scored: DataFrame): DataFrame = {
    val dd = scored.groupBy(col("md5h").as("h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    scored.join(dd, "doc_id")
      .withColumn("h", pmod(graft.functions.HashFunctions.hash32(
        col("doc_id")), lit(100)))
      .withColumn("split",
        when(col("h") < 80, "train").when(col("h") < 90, "validation")
          .otherwise("test"))
      .select("doc_id", "source", "ntok", "toks", "split")
  }

  private[graft] def prepGrams(split: DataFrame): DataFrame =
    split.select(col("doc_id"), col("split"),
      explode(shingles(col("toks"), SpanGram)).as("gram"))

  private[graft] def prepTestGrams(grams: DataFrame): DataFrame =
    grams.filter(col("split") === "test").select("gram").distinct()

  /** Train docs sharing a gram with the test split. */
  private[graft] def prepContaminated(grams: DataFrame): DataFrame =
    grams.filter(col("split") === "train")
      .join(prepTestGrams(grams), "gram").select("doc_id").distinct()

  private def prepRollup(split: DataFrame,
      contaminated: DataFrame): DataFrame =
    split.join(contaminated, Seq("doc_id"), "left_anti")
      .groupBy("split", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum("ntok").as("n_tokens"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("doc_id")))),
          x => x.getField("doc_id").cast("string")), ","))
          .as("member_md5"))
      .orderBy("split", "source")

  private val qCorpusPrep = QuerySpec.of(
    "q_corpus_prep", headline = true, oracle = {
      val toks = sql.toks
      val bk = graft.functions.HashFunctions.sqlHash32("doc_id")
      s"""WITH b AS (
        |  SELECT doc_id, source, text, len($toks) AS ntok,
        |    ${sql.quality} AS score
        |  FROM documents),
        |qf AS (SELECT * FROM b WHERE score >= 0.5),
        |dd AS (SELECT min(doc_id) AS doc_id FROM qf GROUP BY md5(text)),
        |k AS (SELECT qf.* FROM qf JOIN dd USING (doc_id)),
        |sp AS (
        |  SELECT doc_id, source, text, ntok,
        |    CASE WHEN ($bk) % 100 < 80 THEN 'train'
        |      WHEN ($bk) % 100 < 90 THEN 'validation'
        |      ELSE 'test' END AS split
        |  FROM k),
        |gr AS (
        |  SELECT doc_id, split, unnest(${sql.shingles(toks, SpanGram)}) AS gram
        |  FROM sp),
        |teg AS (SELECT DISTINCT gram FROM gr WHERE split = 'test'),
        |dr AS (
        |  SELECT DISTINCT gr.doc_id FROM gr JOIN teg USING (gram)
        |  WHERE gr.split = 'train'),
        |fin AS (
        |  SELECT sp.* FROM sp LEFT JOIN dr ON sp.doc_id = dr.doc_id
        |  WHERE dr.doc_id IS NULL)
        |SELECT split, source, count(*) AS n_docs,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  md5(string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id))
        |    AS member_md5
        |FROM fin GROUP BY split, source
        |ORDER BY split, source""".stripMargin
    }) { (s, d) =>
    val sp = prepSplit(prepScored(s, d).localCheckpoint())
      .localCheckpoint() // grams + the anti join + rollup all read it
    prepRollup(sp, prepContaminated(prepGrams(sp)))
  }

  val specs: Seq[QuerySpec] = Seq(qVocabCoverage, qSourceOverlap, qDupSpans,
    qMixtureWeights, qQualityVsDup, qSplitContamination, qCorpusDiff, qHapax,
    qCorpusPrep, qSampleBudget)
}
