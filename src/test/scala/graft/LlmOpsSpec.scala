package graft

import org.apache.spark.sql.functions._

/** Boundary-pinning specs for the round-11 LLM-pipeline operators,
  * on crafted fixture tables (the oracle compare exercises them on the
  * driver's testdata; these pin the edge semantics that data may not
  * hit).
  */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  private def fixtureDir(name: String): String =
    TempDirs.scoped(s"graft-llm-$name").toString

  test("stream convert: 30-minute boundary is inclusive, prior-view only") {
    val dir = fixtureDir("convert")
    val t0 = 1700000000000L
    Seq(
      // user 1: view, purchase exactly +30min (IN), purchase +30min+1ms (OUT)
      (1L, t0, 1L, "view", 1.0, "{}"),
      (2L, t0 + 1800000L, 1L, "purchase", 1.0, "{}"),
      (3L, t0 + 1800001L, 1L, "purchase", 1.0, "{}"),
      // user 2: purchase BEFORE its view — no pair
      (4L, t0 + 1000L, 2L, "purchase", 1.0, "{}"),
      (5L, t0 + 2000L, 2L, "view", 1.0, "{}"),
      // user 3: two views, one purchase inside both windows → 2 pairs
      (6L, t0, 3L, "view", 1.0, "{}"),
      (7L, t0 + 60000L, 3L, "view", 1.0, "{}"),
      (8L, t0 + 120000L, 3L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q_stream_events_convert")(spark, dir)
      .collect().map(r => r.getAs[Long]("user_id") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("max_lag_ms")))).toMap
    assert(rows(1L) == ((1L, 1800000L))) // boundary pair in, +1ms out
    assert(!rows.contains(2L))           // purchase-before-view never pairs
    assert(rows(3L) == ((2L, 120000L)))
  }

  test("semantic dedup: transitive chain collapses, singleton survives") {
    val dir = fixtureDir("semdedup")
    val dim = 64
    def vec(parts: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(dim)(0.0f)
      parts.foreach { case (i, x) => a(i) = x }
      a.toSeq
    }
    val s2 = (1.0 / math.sqrt(2.0)).toFloat
    // A=e0, B=(e0+e1)/sqrt2, C=e1: cos(A,B)=cos(B,C)=0.707, cos(A,C)=0
    // → one chain component {A,B,C}; D=e2 isolated.
    Seq(
      (0L, vec(0 -> 1.0f), 0),
      (1L, vec(0 -> s2, 1 -> s2), 0),
      (2L, vec(1 -> 1.0f), 0),
      (3L, vec(2 -> 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("q_dedup_semantic")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_vecs") == 4)
    assert(row.getAs[Long]("n_dup_nodes") == 3)
    assert(row.getAs[Long]("n_components") == 1)
    assert(row.getAs[Long]("n_survivors") == 2) // chain keeper + singleton
    assert(row.getAs[Long]("drop_bp") == 5000)  // 2 of 4 dropped
  }

  test("semantic dedup: cross-label pairs never form") {
    val dir = fixtureDir("semlabels")
    // identical vectors but different labels → no pairs at all
    val v = Seq.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    Seq((0L, v, 0), (1L, v, 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = SparkEntry.queries("q_dedup_semantic")(spark, dir)
      .collect().map(x => x.getAs[Int]("label") ->
        x.getAs[Long]("n_survivors")).toMap
    assert(r == Map(0 -> 1L, 1 -> 1L))
  }

  test("lm score: hand-computed add-one bigram mean on a tiny corpus") {
    val dir = fixtureDir("lm")
    Seq((0L, "a b a b", "en", "s1", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // bigrams: (a,b)x2, (b,a)x1; cp(a)=2, cp(b)=1; V=2
    // p(a,b) = 3/4, p(b,a) = 2/3
    // score = (0.75 + 2/3 + 0.75) / 3; micro = trunc(score*1e6 + 0.5)
    val exp = ((0.75 + 2.0 / 3.0 + 0.75) / 3.0 * 1e6 + 0.5).toLong
    val r = SparkEntry.queries("q_text_lm_score")(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_docs") == 1)
    assert(r.head.getAs[Long]("avg_micro") == exp)
    assert(r.head.getAs[Long]("min_micro") == exp)
  }

  test("hapax: trigram types and hapax counted within source") {
    val dir = fixtureDir("hapax")
    Seq(
      (0L, "a b c d", "en", "s1", 7L),   // "a b c", "b c d" — both hapax
      (1L, "a b c", "en", "s1", 5L),     // "a b c" again → not hapax
      (2L, "x y z", "en", "s2", 5L))     // separate source
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q_text_hapax")(spark, dir)
      .collect().map(x => x.getAs[String]("source") ->
        ((x.getAs[Long]("n_grams"), x.getAs[Long]("n_types"),
          x.getAs[Long]("n_hapax")))).toMap
    assert(r("s1") == ((3L, 2L, 1L))) // "a b c" twice, "b c d" once
    assert(r("s2") == ((1L, 1L, 1L)))
  }

  test("engagement: trailing window includes day-6, excludes day-7") {
    val dir = fixtureDir("engage")
    val day = 86400000L
    val t0 = 1700006400000L - (1700006400000L % day) // day boundary
    Seq(
      (1L, t0, 1L),                 // user 1 on day d
      (2L, t0 + 6 * day, 2L),      // user 2 on day d+6
      (3L, t0 + 7 * day, 3L))      // user 3 on day d+7
      .map { case (e, ms, u) => (e, ms, u, "view", 1.0, "{}") }
      .toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q_events_engagement")(spark, dir)
      .collect().map(r => r.getAs[Long]("day") - t0 / day ->
        ((r.getAs[Long]("dau"), r.getAs[Long]("wau")))).toMap
    assert(rows(0L) == ((1L, 1L)))
    // day d+6: user 1 (d is 6 days back, inside) + user 2
    assert(rows(6L) == ((1L, 2L)))
    // day d+7: user 1 aged out (7 days back), user 2 still in
    assert(rows(7L) == ((1L, 2L)))
  }

  test("markov: first event per user emits no transition; rows normalize") {
    val dir = fixtureDir("markov")
    val t0 = 1700000000000L
    // user 1: view→click→view ; user 2: view→purchase. Transitions:
    // view→click 1, click→view 1, view→purchase 1. The two users'
    // first events contribute nothing.
    Seq(
      (1L, t0, 1L, "view"), (2L, t0 + 1000, 1L, "click"),
      (3L, t0 + 2000, 1L, "view"),
      (4L, t0, 2L, "view"), (5L, t0 + 1000, 2L, "purchase"))
      .map { case (e, ms, u, ty) => (e, ms, u, ty, 1.0, "{}") }
      .toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q_events_markov")(spark, dir)
      .collect()
      .map(r => (r.getAs[String]("prev_type"), r.getAs[String]("next_type"))
        -> ((r.getAs[Long]("n"), r.getAs[Long]("prob_bp")))).toMap
    assert(rows.size == 3)
    // the view row splits 1/1 between click and purchase → 5000bp each
    assert(rows(("view", "click")) == ((1L, 5000L)))
    assert(rows(("view", "purchase")) == ((1L, 5000L)))
    assert(rows(("click", "view")) == ((1L, 10000L)))
  }

  test("chunking: stride overlap, short tail, exact-boundary doc") {
    val dir = fixtureDir("chunk")
    val w = (1 to 33).map(i => s"w$i")
    Seq(
      (1L, w.take(32).mkString(" ")), // exactly CHUNK_TOKENS → 1 chunk
      (2L, w.mkString(" ")),          // 33 tokens → 2 chunks
      (3L, ""))                       // empty → 0 chunks
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_chunk_documents")(spark, dir)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"))
        -> ((r.getAs[Long]("chunk_len"), r.getAs[String]("chunk_md5"))))
      .toMap
    assert(rows.keySet == Set((1L, 0L), (2L, 0L), (2L, 1L)))
    assert(rows((1L, 0L))._1 == 32L)
    assert(rows((2L, 0L))._1 == 32L)
    // second chunk starts at token 25 (stride 24) → tokens 25..33 = 9
    assert(rows((2L, 1L))._1 == 9L)
    // doc 2's first chunk is doc 1's whole text → identical chunk hash
    assert(rows((1L, 0L))._2 == rows((2L, 0L))._2)
  }

  test("tfidf: single-source term concentrates at 10000bp and ranks first") {
    val dir = fixtureDir("tfidf")
    Seq(
      (1L, "zebra zebra zebra common common", "en", "a"),
      (2L, "common common common", "en", "b"))
      .map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_text_tfidf")(spark, dir)
      .collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("rank")) ->
        ((r.getAs[String]("term"), r.getAs[Long]("share_bp"),
          r.getAs[Long]("score")))).toMap
    // source a: zebra appears only there → share 10000, score 3*10000
    assert(rows(("a", 1L)) == (("zebra", 10000L, 30000L)))
    // common: 2 of 5 occurrences in a → 4000bp, 3 of 5 in b → 6000bp
    assert(rows(("a", 2L)) == (("common", 4000L, 8000L)))
    assert(rows(("b", 1L)) == (("common", 6000L, 18000L)))
  }

  test("knn graph: probe-set filter, nearest neighbor, mutual symmetry") {
    val dir = fixtureDir("knng")
    val dim = 64
    def vec(parts: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(dim)(0.0f)
      parts.foreach { case (i, x) => a(i) = x }
      a.toSeq
    }
    val s2 = (1.0 / math.sqrt(2.0)).toFloat
    // nodes (vec_id % 4 == 0): A=0→e0, B=4→(e0+e1)/√2, C=8→e1.
    // vec_id 1 duplicates A but is NOT a node — must be excluded.
    Seq(
      (0L, vec(0 -> 1.0f), 0),
      (1L, vec(0 -> 1.0f), 0),
      (4L, vec(0 -> s2, 1 -> s2), 0),
      (8L, vec(1 -> 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = SparkEntry.queries("q_ann_knn_graph")(spark, dir)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("out_deg"), r.getAs[Long]("mutual_deg"),
          r.getAs[Long]("nn1")))).toMap
    assert(rows.keySet == Set(0L, 4L, 8L)) // the duplicate non-node is out
    // 3 nodes, k=5 → complete digraph: out_deg 2, fully mutual
    assert(rows(0L) == ((2L, 2L, 4L))) // A's nearest is B (cos .707 vs 0)
    assert(rows(8L) == ((2L, 2L, 4L))) // C's nearest is B
    // B ties A and C at cos .707 → lower vec_id wins
    assert(rows(4L) == ((2L, 2L, 0L)))
  }

  test("outliers: differential vs an independent Lloyd replay") {
    // 24 vectors in 8 well-separated groups; the query's flagged set
    // must equal an independent scalar reimplementation of the same
    // 3-round Lloyd + 2×mean-d² rule.
    val dir = fixtureDir("outl")
    val dim = 64
    def vec(parts: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(dim)(0.0f)
      parts.foreach { case (i, x) => a(i) = x }
      a.toSeq
    }
    // 8 tight 3-member groups + ONE far point joining group 0 (a
    // 4-member cluster: with n members the strict 2×mean rule can only
    // fire at n ≥ 4 — the extreme of a 3-member cluster lands exactly
    // on the boundary).
    val rows = (0 until 8).flatMap { g =>
      Seq(
        (g.toLong, vec(g -> 1.0f), g),             // seed member
        (8L + g, vec(g -> 0.9f, 63 -> 0.05f), g),  // near member
        (16L + g, vec(g -> 0.95f), g))             // near member
    } :+ ((24L, vec(0 -> 0.45f), 0))               // planted outlier → g0
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    // independent replay on quantized ints (all fixture values >= 0,
    // so toLong's trunc matches the engine's trunc-after-+0.5)
    val qs = rows.sortBy(_._1).map { case (id, v, _) =>
      id -> v.map(x =>
        (x * 64 + (if (x >= 0) 0.5 else -0.5)).toLong).toArray
    }
    var cents = qs.take(8).map(_._2.map(_.toDouble)).toArray
    var asg: Map[Long, Int] = Map.empty
    for (_ <- 1 to 3) {
      asg = qs.map { case (id, q) =>
        id -> cents.zipWithIndex.map { case (c, ci) =>
          (q.zip(c).map { case (a, b) =>
            (a - b) * (a - b) }.sum, ci)
        }.min._2
      }.toMap
      cents = (0 until 8).map { ci =>
        val mem = qs.filter(p => asg(p._1) == ci).map(_._2)
        if (mem.isEmpty) cents(ci)
        else (0 until dim).map(d =>
          mem.map(_(d)).sum.toDouble / mem.size).toArray
      }.toArray
    }
    val expected = {
      val byC = qs.groupBy(p => asg(p._1))
      byC.flatMap { case (ci, mem) =>
        val n = mem.size.toLong
        val sums = (0 until dim).map(d => mem.map(_._2(d)).sum).toArray
        val d2 = mem.map { case (id, q) =>
          id -> (0 until dim).map { d =>
            val t = n * q(d) - sums(d); t * t }.sum
        }
        val tot = d2.map(_._2).sum
        d2.filter { case (_, v) => v * n > 2 * tot }.map(_._1)
      }.toSet
    }
    val got = SparkEntry.queries("q_embed_outliers")(spark, dir).collect()
    val flagged = got.map(_.getAs[Long]("n_outliers")).sum
    assert(flagged == expected.size.toLong)
    assert(flagged >= 1L) // the planted far point actually fires
    // the per-cluster far_id with outliers present must be expected
    val farFlagged = got.filter(_.getAs[Long]("n_outliers") > 0)
      .map(_.getAs[Long]("far_id")).toSet
    assert(farFlagged.subsetOf(expected))
  }

  test("rp: axis vector preserves norm at exactly 10000bp") {
    val dir = fixtureDir("rp")
    val dim = 64
    // label 0: single-axis vector — every ±1 projection is ±64, so
    // ‖Pv‖² = 16·64² = J·‖v‖² exactly → 10000bp.
    // label 1: two-axis vector — expected ratio computed from the
    // same md5 parity the engine uses.
    val v0 = Seq.tabulate(dim)(i => if (i == 0) 1.0f else 0.0f)
    val v1 = Seq.tabulate(dim)(i => if (i <= 1) 1.0f else 0.0f)
    Seq((0L, v0, 0), (1L, v1, 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    def sign(j: Int, i: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"rp:$j:$i".getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1L else -1L
    }
    val proj2v1 = (0 until 16).map { j =>
      val p = 64L * sign(j, 0) + 64L * sign(j, 1); p * p
    }.sum
    val expect1 = proj2v1 * 10000L / (16L * (64L * 64 + 64L * 64))
    val rows = SparkEntry.queries("q_embed_rp")(spark, dir)
      .collect().map(r => r.getAs[Int]("label") ->
        r.getAs[Long]("mean_ratio_bp")).toMap
    assert(rows(0) == 10000L)
    assert(rows(1) == expect1)
  }

  test("bpe merges: hand-replayed 3-round trace on a crafted vocab") {
    val dir = fixtureDir("bpe")
    // words: abab ×2, cd ×1. Round 1: pair 'a b' (cnt 4; two per word
    // occurrence) → 'ab'; round 2: 'ab ab' (cnt 2) → 'abab';
    // round 3: 'c d' (cnt 1).
    Seq((1L, "abab abab cd", "en", "src"))
      .map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_bpe_merges")(spark, dir)
      .collect().map(r => (r.getAs[Long]("rank"), r.getAs[String]("pair"),
        r.getAs[Long]("cnt"), r.getAs[Long]("symbols_after")))
    assert(rows.toSeq == Seq(
      (1L, "a b", 4L, 6L),    // ' a b a b ' → ' ab ab ' (4+2 symbols)
      (2L, "ab ab", 2L, 4L),
      (3L, "c d", 1L, 3L)))
  }

  test("embed coverage: row and token coverage split per source") {
    val dir = fixtureDir("cov")
    Seq(
      (0L, "one two three four", "en", "a"), // embedded, 4 toks
      (1L, "five six", "en", "a"),           // not embedded, 2 toks
      (2L, "seven", "en", "b"))              // embedded, 1 tok
      .map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val v = Seq.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    Seq((0L, v, 0), (2L, v, 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = SparkEntry.queries("q_embed_coverage")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_embedded"),
          r.getAs[Long]("coverage_bp"),
          r.getAs[Long]("token_coverage_bp")))).toMap
    assert(rows("a") == ((2L, 1L, 5000L, 6666L))) // 4 of 6 tokens covered
    assert(rows("b") == ((1L, 1L, 10000L, 10000L)))
  }

  test("stream topk: ranks within the hour, count desc then type asc") {
    val dir = fixtureDir("topk")
    val t0 = 1700000000000L - (1700000000000L % 3600000L)
    val evs = Seq.fill(3)("view") ++ Seq.fill(2)("click") ++
      Seq.fill(2)("buy") ++ Seq("zzz")
    evs.zipWithIndex.map { case (ty, i) =>
      (i.toLong, t0 + i * 1000L, 1L, ty, 1.0, "{}")
    }
      .toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q_stream_events_topk")(spark, dir)
      .collect().map(r => r.getAs[Long]("rk") ->
        ((r.getAs[String]("event_type"), r.getAs[Long]("n")))).toMap
    assert(rows.size == 3) // k=3: 'zzz' (count 1) never appears
    assert(rows(1L) == (("view", 3L)))
    assert(rows(2L) == (("buy", 2L))) // count tie with click → type asc
    assert(rows(3L) == (("click", 2L)))
  }

  test("incremental dedup: incoming dup hits the index, fresh doc misses") {
    val dir = fixtureDir("incdedup")
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val fresh = "one two three four five six seven eight nine"
    val other = "red green blue cyan magenta yellow black white"
    Seq(
      (0L, dup),    // index (0 % 7 != 3)
      (1L, other),  // index
      (3L, dup),    // incoming (3 % 7 == 3) — exact dup of doc 0
      (10L, fresh)) // incoming (10 % 7 == 3) — novel
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_dedup_incremental")(spark, dir)
      .collect().map(r => r.getAs[Long]("inc_id") ->
        ((r.getAs[Long]("match_id"), r.getAs[Long]("n_match")))).toMap
    assert(rows.keySet == Set(3L)) // only the dup reports a match
    assert(rows(3L) == ((0L, 12L))) // identical text → all 12 hashes agree
  }

  test("curriculum: value-cutoff phases, ties fall into the earlier phase") {
    val dir = fixtureDir("curr")
    // 6 docs: 2 long/stopwordy (high q), 2 medium, 2 short noisy (low q)
    val hi = ("the and of to in is it that " * 8).trim
    val mid = "plain words only here simple text going on"
    val lo = "x1!"
    Seq((0L, hi), (1L, hi), (2L, mid), (3L, mid), (4L, lo), (5L, lo))
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_pack_curriculum")(spark, dir)
      .collect().map(r => r.getAs[Int]("phase") ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("token_share_bp"))))
      .toMap
    assert(rows.keySet == Set(0, 1, 2))
    assert(rows(0)._1 == 2L && rows(1)._1 == 2L && rows(2)._1 == 2L)
    // token shares sum to <= 10000 (integer floor division)
    assert(rows.values.map(_._2).sum <= 10000L)
    assert(rows(0)._2 > rows(2)._2) // clean docs carry the token mass
  }

  test("diversity: uniform source maxes inv_simpson; repetitive collapses") {
    val dir = fixtureDir("divers")
    Seq(
      (0L, "a b c d", "en", "uniform"),   // 4 types × 1 → simpson 1/4
      (1L, "spam spam spam spam", "en", "spammy")) // 1 type → simpson 1
      .map { case (id, t, l, src) => (id, t, l, src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_text_diversity")(spark, dir)
      .collect().map(r => r.getAs[String]("source") ->
        ((r.getAs[Long]("simpson_bp"), r.getAs[Long]("inv_simpson"),
          r.getAs[String]("top_token"), r.getAs[Long]("top_share_bp"))))
      .toMap
    assert(rows("uniform") == ((2500L, 4L, "a", 2500L)))
    assert(rows("spammy") == ((10000L, 1L, "spam", 10000L)))
  }

  test("split balance: shares and skew replayed from the same hash") {
    val dir = fixtureDir("splitbal")
    val docs = (0L until 40L).map(id =>
      (id, "some text", if (id % 3 == 0) "en" else "de", "src", 9L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def bucket(id: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % 100).toInt
    }
    def split(id: Long): String = {
      val b = bucket(id)
      if (b < 80) "train" else if (b < 90) "validation" else "test"
    }
    val byKey = docs.groupBy(d => (split(d._1), d._3))
      .map { case (k, v) => k -> v.size.toLong }
    val splitN = docs.groupBy(d => split(d._1)).map { case (k, v) => k -> v.size.toLong }
    val langN = docs.groupBy(_._3).map { case (k, v) => k -> v.size.toLong }
    val rows = SparkEntry.queries("q_split_balance")(spark, dir)
      .collect().map(r => (r.getAs[String]("split"), r.getAs[String]("lang"))
        -> ((r.getAs[Long]("n"), r.getAs[Long]("split_share_bp"),
          r.getAs[Long]("skew_bp")))).toMap
    assert(rows.keySet == byKey.keySet)
    rows.foreach { case ((sp, lg), (n, share, skew)) =>
      assert(n == byKey((sp, lg)))
      assert(share == n * 10000 / splitN(sp))
      assert(skew == share - langN(lg) * 10000 / 40L)
    }
  }

  test("session stats: bit-length buckets, zero-duration session in bucket 1") {
    val dir = fixtureDir("sessstats")
    val t0 = 1700000000000L
    Seq(
      (1L, t0, 1L), (2L, t0 + 90000L, 1L),       // session: dur 90s, 2 ev
      (3L, t0 + 10 * 3600000L, 1L))              // lone event: dur 0
      .map { case (e, ms, u) => (e, ms, u, "view", 1.0, "{}") }
      .toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q_events_session_stats")(spark, dir)
      .collect().map(r => r.getAs[Long]("bucket") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("max_ms"),
          r.getAs[Long]("mean_events_c")))).toMap
    // bin(0) = "0" → bucket 1; bin(90) = 7 bits → bucket 7
    assert(rows.keySet == Set(1L, 7L))
    assert(rows(1L) == ((1L, 0L, 100L)))
    assert(rows(7L) == ((1L, 90000L, 200L)))
  }

  test("av sync: drift equals the metadata-derived exact durations") {
    val dir = fixtureDir("avsync")
    val text = "x" * 50 // n_chars drives both synthetic containers
    Seq((2L, text))     // doc_id 2 → 1 audio channel
      .map { case (id, t) => (id, t, "en", "src", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val nChars = 50L
    val aMs = (nChars * 100) * 1000 /
      ((8000 + (nChars % 80) * 100) * ((2 % 2) + 1) * 2)
    val vMs = (nChars * 123) * 1000 / (600 + (nChars % 10) * 60)
    val r = SparkEntry.queries("q_multimodal_av_sync")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_pairs") == 1L)
    assert(r.getAs[Long]("max_abs_drift_ms") == math.abs(aMs - vMs))
    assert(r.getAs[Long]("n_audio_longer") == (if (aMs > vMs) 1L else 0L))
  }

  test("q14: promo share from exact integer cents") {
    val dir = fixtureDir("q14")
    val ship = java.sql.Timestamp.valueOf("1996-03-01 00:00:00")
    val out = java.sql.Timestamp.valueOf("1995-03-01 00:00:00")
    // rows: promo 100.00 @ 10% → 900000 e4; other 50.00 @ 0% → 500000;
    // one out-of-window promo row must be excluded by the date filter
    Seq(
      (1L, 1L, 1L, 1, 1.0, 100.00, 0.10, 0.0, "N", "O", ship),
      (2L, 2L, 1L, 1, 1.0, 50.00, 0.00, 0.0, "N", "O", ship),
      (3L, 1L, 1L, 1, 1.0, 999.00, 0.00, 0.0, "N", "O", out))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((1L, "promo part", "B", "PROMO", 1, 1.0),
      (2L, "plain part", "B", "STANDARD", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size",
        "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val r = SparkEntry.queries("q14_promo_revenue")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("promo_rev_e4") == 900000L)
    assert(r.getAs[Long]("total_rev_e4") == 1400000L)
    assert(r.getAs[Long]("promo_share_bp") == 6428L)
  }

  test("ab test: hash arms and conversion replayed independently") {
    val dir = fixtureDir("abtest")
    val users = (1L to 30L)
    val evs = users.flatMap { u =>
      val purchase = u % 3 == 0
      Seq((u * 10, u, "view")) ++
        (if (purchase) Seq((u * 10 + 1, u, "purchase")) else Nil)
    }
    evs.zipWithIndex.map { case ((e, u, ty), i) =>
      (e, 1700000000000L + i * 1000L, u, ty, 1.0, "{}")
    }
      .toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def arm(u: Long): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"exp1:$u".getBytes("UTF-8"))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      (java.lang.Long.parseLong(hex, 16) % 2).toInt
    }
    val nA = users.count(arm(_) == 0).toLong
    val convA = users.count(u => arm(u) == 0 && u % 3 == 0).toLong
    val nB = users.size - nA
    val convB = users.count(_ % 3 == 0) - convA
    val r = SparkEntry.queries("q_events_ab_test")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_a") == nA && r.getAs[Long]("conv_a") == convA)
    assert(r.getAs[Long]("n_b") == nB && r.getAs[Long]("conv_b") == convB)
    assert(r.getAs[Long]("lift_bp") ==
      convB * 10000 / nB - convA * 10000 / nA)
  }

  test("stream anomaly: coincides with the batch twin on a planted spike") {
    val dir = fixtureDir("sanom")
    val day = 86400000L
    val t0 = 1700006400000L - (1700006400000L % day)
    // 6 quiet days of 1 view + one day of 10 → clear mean+2σ outlier
    val evs = (0 until 6).map(dd => (dd.toLong, t0 + dd * day, 1L)) ++
      (0 until 10).map(i => (100L + i, t0 + 6 * day + i * 1000L, 1L))
    evs.zipWithIndex.map { case ((e, ms, u), _) => (e, ms, u, "view", 1.0, "{}") }
      .toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = SparkEntry.queries("q_events_anomaly")(spark, dir)
      .collect().map(_.toSeq)
    val stream = SparkEntry.queries("q_stream_events_anomaly")(spark, dir)
      .collect().map(_.toSeq)
    assert(batch.nonEmpty)        // the spike actually fires
    assert(stream.toSeq == batch.toSeq)
  }

  test("ordered funnel: out-of-order steps don't count") {
    val dir = fixtureDir("ofunnel")
    val t0 = 1700000000000L
    val evs = Seq(
      // user 1: full ordered path
      (1L, t0, 1L, "view"), (2L, t0 + 1000, 1L, "click"),
      (3L, t0 + 2000, 1L, "purchase"),
      // user 2: click BEFORE first view → click must not count
      (4L, t0, 2L, "click"), (5L, t0 + 1000, 2L, "view"),
      // user 3: purchase before click → purchase must not count
      (6L, t0, 3L, "view"), (7L, t0 + 1000, 3L, "purchase"),
      (8L, t0 + 2000, 3L, "click"),
      // user 4: no view at all
      (9L, t0, 4L, "click"))
    evs.zipWithIndex.map { case ((e, ms, u, ty), _) => (e, ms, u, ty, 1.0, "{}") }
      .toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q_events_funnel_ordered")(spark, dir)
      .collect().head
    assert(r.getAs[Long]("n_users") == 4L)
    assert(r.getAs[Long]("n_viewed") == 3L)    // users 1, 2, 3
    assert(r.getAs[Long]("n_clicked") == 2L)   // 1; 3's post-view click
    assert(r.getAs[Long]("n_purchased") == 1L) // only user 1 ordered
    assert(r.getAs[Long]("conv12_bp") == 6666L)
    assert(r.getAs[Long]("conv23_bp") == 5000L)
  }

  test("pca: planted dominant axis carries the loading and the variance") {
    val dir = fixtureDir("pca")
    val dim = 64
    def vec(parts: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(dim)(0.0f)
      parts.foreach { case (i, x) => a(i) = x }
      a.toSeq
    }
    // 8 unit vectors on axis 5 (A[5][5]=8·64²=32768) and 2 half
    // vectors on axis 0 (A[0][0]=2·32²=2048); no cross terms. After 3
    // diagonal power steps from all-ones, the off-axis residual is
    // (2048/32768)³ = 1/4096 → axis-5 loading 1.000000, axis-0
    // loading 0.000244; λ/trace = 32768/34816 → 9412 bp.
    val rows = (0 until 8).map(i =>
      (i.toLong, vec(5 -> (if (i % 2 == 0) 1.0f else -1.0f)), 0)) ++
      Seq((8L, vec(0 -> 0.5f), 1), (9L, vec(0 -> -0.5f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = SparkEntry.queries("q_embed_pca")(spark, dir)
      .collect().map(r => r.getAs[Long]("dim") ->
        ((r.getAs[Long]("loading_micro"), r.getAs[Long]("var_share_bp"))))
      .toMap
    assert(out.size == 64)
    assert(math.abs(out(6L)._1) == 1000000L) // axis 5 is 1-based dim 6
    assert(math.abs(out(1L)._1) == 244L)
    assert(out(2L)._1 == 0L)
    assert(out(6L)._2 == 9412L)
  }

  test("pii: redaction shortens exactly the matched spans") {
    val s = "Contact Customer#000000007 at user8@mail.example.com" +
      " or +1-555-0008 (acct 100000296)"
    val red = Seq(s).toDF("t")
      .select(graft.operators.Pii.redact(col("t")))
      .collect().head.getString(0)
    assert(red == "Contact Customer#[ID] at [EMAIL]" +
      " or [PHONE] (acct [ID])")
  }

  test("stream abandon: outer row only when no purchase within 30 min") {
    val dir = fixtureDir("abandon")
    val t0 = 1700000000000L
    Seq(
      // user 1: purchase exactly +30min → converted (boundary IN)
      (1L, t0, 1L, "view", 1.0, "{}"),
      (2L, t0 + 1800000L, 1L, "purchase", 1.0, "{}"),
      // user 2: purchase +30min+1ms → abandoned (boundary OUT)
      (3L, t0, 2L, "view", 1.0, "{}"),
      (4L, t0 + 1800001L, 2L, "purchase", 1.0, "{}"),
      // user 3: purchase BEFORE the view → abandoned
      (5L, t0 + 1000L, 3L, "purchase", 1.0, "{}"),
      (6L, t0 + 2000L, 3L, "view", 1.0, "{}"),
      // user 4: two views share one purchase → both converted
      (7L, t0, 4L, "view", 1.0, "{}"),
      (8L, t0 + 60000L, 4L, "view", 1.0, "{}"),
      (9L, t0 + 120000L, 4L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ms", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val r = SparkEntry.queries("q_stream_events_abandon")(spark, dir)
      .collect().map(x => x.getAs[Long]("user_id") ->
        ((x.getAs[Long]("n_abandoned"), x.getAs[Long]("n_converted"))))
      .toMap
    assert(r(1L) == ((0L, 1L)))
    assert(r(2L) == ((1L, 0L)))
    assert(r(3L) == ((1L, 0L)))
    assert(r(4L) == ((0L, 2L)))
    assert(!r.contains(-1L)) // sentinels filtered out
  }

  test("edit-distance dedup: banded candidates, exact Levenshtein") {
    val dir = fixtureDir("editdist")
    val base = "the quick brown fox jumps over the lazy dog again and again"
    Seq(
      (0L, base, "en", "s1", base.length.toLong),
      // one substitution → ed 1
      (1L, base.replace("quick", "quack"), "en", "s1", base.length.toLong),
      // same length but different language → never a candidate
      (2L, base, "de", "s1", base.length.toLong),
      // way outside the 20-char length band → blocked before the DP
      (3L, base * 3, "en", "s1", (base * 3).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_dedup_edit_distance")(spark, dir)
      .collect().map(x => (x.getAs[Long]("doc_a"), x.getAs[Long]("doc_b")) ->
        ((x.getAs[Long]("edit_dist"), x.getAs[Long]("sim_bp")))).toMap
    assert(rows.keySet == Set((0L, 1L)))
    val (ed, simBp) = rows((0L, 1L))
    assert(ed == 1L)
    assert(simBp == (base.length - 1L) * 10000L / base.length)
  }

  test("pagerank: complete kNN graph converges to uniform mass") {
    val dir = fixtureDir("pagerank")
    val dim = 64
    def vec(parts: (Int, Float)*): Seq[Float] = {
      val a = Array.fill(dim)(0.0f)
      parts.foreach { case (i, x) => a(i) = x }
      a.toSeq
    }
    // four nodes in the vec_id%4==0 subset, pairwise orthogonal →
    // with K=5 every node links to all 3 others: a symmetric complete
    // graph, so PageRank mass must stay uniform across iterations
    // (same teleport + identical in-flows). vec_id 1 is outside the
    // subset and must not appear.
    Seq(
      (0L, vec(0 -> 1.0f), 0), (4L, vec(1 -> 1.0f), 0),
      (8L, vec(2 -> 1.0f), 0), (12L, vec(3 -> 1.0f), 0),
      (1L, vec(4 -> 1.0f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = SparkEntry.queries("q_graph_pagerank")(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("vec_id")).toSet == Set(0L, 4L, 8L, 12L))
    assert(rows.map(_.getAs[Long]("pr_e12")).distinct.length == 1) // uniform
    assert(rows.forall(_.getAs[Long]("in_deg") == 3L))
    // mass stays within rounding of the initial 10^12 per node
    val pr = rows.head.getAs[Long]("pr_e12")
    assert(math.abs(pr - 1000000000000L) < 100L)
  }

  test("profiler: nulls, distincts, and canonical reprs per column") {
    val dir = fixtureDir("profile")
    Seq(
      (1L, 10L, 100L, 1, 2.0, 10.50, 0.05, 0.01, "A", "F",
        java.sql.Timestamp.valueOf("1997-03-01 00:00:00")),
      (2L, 20L, 100L, 2, 4.0, 99.99, 0.00, 0.02, "R", "O",
        java.sql.Timestamp.valueOf("1998-11-30 00:00:00")))
      .toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r = SparkEntry.queries("q_profile_columns")(spark, dir)
      .collect().map(x => x.getAs[String]("col_name") ->
        ((x.getAs[Long]("n_rows"), x.getAs[Long]("n_null"),
          x.getAs[Long]("n_distinct"), x.getAs[String]("min_repr"),
          x.getAs[String]("max_repr")))).toMap
    assert(r.size == 11)
    assert(r("l_suppkey") == ((2L, 0L, 1L, "100", "100")))
    assert(r("l_extendedprice") == ((2L, 0L, 2L, "1050", "9999"))) // cents
    assert(r("l_returnflag") == ((2L, 0L, 2L, "A", "R")))
    assert(r("l_shipdate")._4 == "1997-03-01 00:00:00")
    assert(r("l_shipdate")._5 == "1998-11-30 00:00:00")
  }

  test("corpus prep: quality, dedup, and decontamination stages all fire") {
    val dir = fixtureDir("corpusprep")
    // find doc_ids landing in train (<80) and test (>=90) buckets
    val buckets = spark.range(0, 400)
      .select(col("id"), pmod(graft.functions.HashFunctions
        .hash32(col("id")), lit(100)).as("bk"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trainIds = (0L until 400L).filter(buckets(_) < 80)
    val testId = (0L until 400L).find(buckets(_) >= 90).get
    val shared = "one two three four five six seven eight" // an 8-gram
    val good = "the cat and the dog sat in the big warm house of it"
    Seq(
      // exact dup pair in train: min id survives
      (trainIds(0), good, "en", "s1", good.length.toLong),
      (trainIds(1), good, "en", "s1", good.length.toLong),
      // clean train doc, no contamination
      (trainIds(2), "it is a fine day and the sun is out here now",
        "en", "s1", 44L),
      // low-quality doc: few tokens, no stopwords → score < 0.5
      (trainIds(3), "zz qq ww", "en", "s1", 8L),
      // contaminated train doc: shares the 8-gram with the test doc
      (trainIds(4), s"$shared and the rest of it is that fine too",
        "en", "s1", 80L),
      // the test doc carrying the 8-gram
      (testId, s"$shared in the test set and it is that", "en", "s1", 70L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_corpus_prep")(spark, dir)
      .collect().map(r => r.getAs[String]("split") ->
        r.getAs[Long]("n_docs")).toMap
    // train: dup pair → 1, clean → 1; low-quality and contaminated drop
    assert(rows("train") == 2L)
    assert(rows("test") == 1L) // test docs are never dropped
  }

  test("stream late: drop boundary is window.end <= watermark, exactly") {
    val dir = fixtureDir("late")
    val h = 472223L * 3600000L // an exact hour boundary
    // evens arrive first; max even = h + 10 min, so the batch-2
    // watermark is EXACTLY h: the odd row in the window ending at h
    // must drop (end <= W), the odd row in [h, h+1h) must survive.
    Seq(
      (2L, h - 7200000L + 100L, 1L, "view"),
      (4L, h + 600000L, 1L, "view"),
      (1L, h - 1800000L, 2L, "purchase"), // window end == watermark → drop
      (3L, h + 1000L, 2L, "purchase"))    // window end > watermark → keep
      .toDF("event_id", "ms", "user_id", "event_type")
      .withColumn("ts", timestamp_millis(col("ms"))).drop("ms")
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = SparkEntry.queries("q_stream_events_late")(spark, dir)
      .collect().map(r => (r.getAs[String]("hour"),
        r.getAs[String]("event_type")) -> r.getAs[Long]("n")).toMap
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:00")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    def hourOf(ms: Long) = fmt.format(new java.util.Date(ms))
    assert(rows.size == 3)
    assert(rows((hourOf(h - 7200000L), "view")) == 1L)
    assert(rows((hourOf(h), "view")) == 1L)
    assert(rows((hourOf(h), "purchase")) == 1L)     // late-but-open kept
    assert(!rows.contains((hourOf(h - 1800000L), "purchase"))) // dropped
  }

  test("normalize: every messy variant restores to the original text") {
    val dir = fixtureDir("normalize")
    // doc_id mod 4 selects the messy rendering — cover all four
    Seq(
      (0L, "alpha beta gamma", "en", "s1", 16L),  // uppercased
      (1L, "delta epsilon", "en", "s1", 13L),     // doubled spaces
      (2L, "zeta eta theta", "en", "s1", 14L),    // padded with blanks
      (3L, "iota kappa", "en", "s1", 10L))        // tabs for spaces
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = SparkEntry.queries("q_text_normalize")(spark, dir).collect()
    assert(r.length == 1)
    assert(r.head.getAs[Long]("n_docs") == 4L)
    assert(r.head.getAs[Long]("n_changed") == 4L)   // every variant differs
    assert(r.head.getAs[Long]("n_restored") == 4L)  // and normalizes back
    assert(r.head.getAs[Long]("chars_before") >
      r.head.getAs[Long]("chars_after"))
  }
}
