package graft.streaming

import graft.Tables
import graft.streaming.StreamHarness._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming path for the events pipeline.
  *
  * The reference has no event-time streaming (SURVEY §1.4) — this is
  * the engine's forward-looking ingest mode: the same hourly
  * aggregation as the batch query, expressed as readStream → event-time
  * watermark → groupBy → memory sink, driven to completion with
  * AvailableNow so a static parquet file produces a deterministic,
  * batch-equivalent result. On a live source only the trigger and sink
  * change. Every drive runs on [[StreamHarness]].
  */
object EventsStreaming {

  /** Typed rows for the stateful sessionizer (public so Catalyst's
    * generated encoders can instantiate them).
    */
  case class SessEvent(user_id: Long, event_id: Long, ms: Long)
  case class SessState(events: Seq[(Long, Long)])
  case class SessOut(user_id: Long, session_id: Long, n_events: Long,
      start_ms: Long, duration_ms: Long)

  private val SessionGapMs = 30 * 60 * 1000L

  /** Gap-based sessionization as a STATEFUL stream:
    * `KeyValueGroupedDataset.flatMapGroupsWithState` holds the per-user
    * event buffer in `GroupState`, merging each micro-batch's arrivals
    * before cutting sessions at >30 min gaps — the custom-state path
    * SURVEY §0 prescribes for stream semantics Spark's windowed aggs
    * can't express.
    *
    * Batch-equivalence contract (same as [[hourlyViaStream]]): driven
    * with AvailableNow over a static file the source delivers one
    * micro-batch, so every session is complete at the first invocation
    * and is emitted immediately with state cleared. On an unbounded
    * source the open tail session stays in GroupState keyed by user
    * and an event-time timeout would flush it — only the
    * trigger/timeout wiring changes, not the session math.
    */
  def sessionizeViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val sessions = events(spark, sfDir, "")
      .select(col("user_id").cast("long").as("user_id"),
        col("event_id").cast("long").as("event_id"), col("ms"))
      .as[SessEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, it, state) =>
          val merged = (state.getOption.map(_.events).getOrElse(Seq.empty)
            ++ it.map(e => (e.ms, e.event_id))).sorted
          state.remove() // single-batch contract; see doc comment
          // cut at >gap breaks; session ids number breaks 1..n in
          // (ms, event_id) order — identical to the batch window query
          var sid = 0L
          val out = scala.collection.mutable.ArrayBuffer[SessOut]()
          var cur = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
          def flush(): Unit = if (cur.nonEmpty) {
            out += SessOut(user, sid, cur.size.toLong, cur.head._1,
              cur.last._1 - cur.head._1)
            cur = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
          }
          merged.foreach { case (ms, eid) =>
            if (cur.isEmpty || ms - cur.last._1 > SessionGapMs) {
              flush(); sid += 1
            }
            cur += ((ms, eid))
          }
          flush()
          out.iterator
      }
    toMemory(sessions, "append").orderBy("user_id", "session_id")
  }

  /** Rows for the timeout sessionizer (event_time carries the
    * watermark tag through the typed boundary).
    */
  case class SessEventT(user_id: Long, event_id: Long, ms: Long,
      event_time: java.sql.Timestamp)

  /** Cross-batch stateful sessionization with EVENT-TIME TIMEOUT —
    * the production shape [[sessionizeViaStream]]'s single-batch
    * contract sidesteps. Here the staged restart drive delivers
    * even-id events, then odd-id events, then two watermark sentinels,
    * so the operator actually exercises: (1) merging a micro-batch's
    * arrivals into buffered per-user state, (2) emitting a session
    * only once the watermark proves it can no longer grow (last event
    * + gap ≤ watermark — a later event would have event time >
    * watermark, hence > last + gap), (3)
    * GroupState.setTimeoutTimestamp(last + gap) so users with no
    * further traffic still flush when the watermark passes, and (4) an
    * explicit late rule — arrivals with ms ≤ watermark are dropped,
    * mirroring the ≤ eviction rule the aggregation path pins in
    * LlmOpsSpec. Everything surviving is sessionized exactly like the
    * batch twin, so the oracle is the batch sessionizer over the
    * deterministic surviving set.
    *
    * Session NUMBERING is assigned after the fact, by start-time rank
    * in the final read — never from streaming state. A timeout flush
    * removes a user's state, and a late-surviving arrival in the same
    * batch legitimately re-creates it (Spark runs the timeout and
    * data invocations separately), so any counter carried in state
    * would restart mid-stream; per-user sessions are time-disjoint,
    * so the start-time rank reproduces the batch numbering exactly.
    */
  def sessionTimeoutViaStream(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val maxMs = lastMs(spark, sfDir)
    withScratch("graft_sesst_") { s =>
      restarts(s, evenThenOdd(spark, sfDir) ++ sentinels(spark, sfDir, maxMs)) {
        val sessions = events(spark, sfDir, "10 minutes", s.staged)
          .select(col("user_id").cast("long").as("user_id"),
            col("event_id").cast("long").as("event_id"), col("ms"),
            col("event_time"))
          .as[SessEventT]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState[SessState, SessOut](
            OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
            case (user, it, state) =>
              val wm = state.getCurrentWatermarkMs()
              val prior = state.getOption.map(_.events).getOrElse(Seq.empty)
              // late rule: ms ≤ watermark drops (watermark is ms-epoch)
              val incoming = it.filter(_.ms > wm)
                .map(e => (e.ms, e.event_id)).toSeq
              val merged = (prior ++ incoming).sorted
              if (merged.isEmpty) { state.remove(); Iterator.empty }
              else {
                // cut into gap-delimited sessions
                val sessions = scala.collection.mutable
                  .ArrayBuffer[Seq[(Long, Long)]]()
                var cur = scala.collection.mutable.ArrayBuffer(merged.head)
                merged.tail.foreach { e =>
                  if (e._1 - cur.last._1 > SessionGapMs) {
                    sessions += cur.toSeq
                    cur = scala.collection.mutable.ArrayBuffer(e)
                  } else cur += e
                }
                sessions += cur.toSeq
                // a session is final once the watermark proves no
                // arrival can extend it; on timeout everything is
                val closed =
                  if (state.hasTimedOut) sessions.toSeq
                  else sessions.toSeq.takeWhile(_.last._1 + SessionGapMs <= wm)
                val out = closed.map { ss =>
                  SessOut(user, 0L, ss.size.toLong, // sid assigned post-hoc
                    ss.head._1, ss.last._1 - ss.head._1)
                }
                val rest = sessions.drop(closed.size).flatten.toSeq
                if (rest.isEmpty) state.remove()
                else {
                  state.update(SessState(rest))
                  state.setTimeoutTimestamp(rest.last._1 + SessionGapMs)
                }
                out.iterator
              }
          }
        appendTo(s, sessions)
      }
      spark.read.parquet(s.out)
        .filter(col("user_id") >= 0) // sentinels advance time, never count
        .withColumn("session_id",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("start_ms")).cast("long"))
        .select("user_id", "session_id", "n_events", "start_ms",
          "duration_ms")
        .orderBy("user_id", "session_id")
        .localCheckpoint() // the scratch root is deleted on return
    }
  }

  /** Incrementally-maintained materialized view: `foreachBatch` MERGES
    * each micro-batch's partial aggregate into a versioned parquet
    * view — the streaming upsert twin of q_merge_upsert, and the
    * mechanism behind every continuously-refreshed dashboard table.
    * Per batch: aggregate the batch (map-side partials only — the
    * batch is the small side), full-outer merge with the current view
    * on the group key, write version v<batchId>, then flip a pointer
    * file; a `_last_batch` marker makes re-delivered batches no-ops
    * (foreachBatch is at-least-once — idempotence is the sink's job).
    * The staged restart drive delivers even-id then odd-id files as
    * separate runs so the merge path provably executes across
    * micro-batches; the final view must equal the one-shot batch
    * aggregate, which is the oracle.
    */
  def matviewViaStream(spark: SparkSession, sfDir: String): DataFrame =
    withScratch("graft_mv_") { s =>
      import java.nio.file.Files
      val viewDir = s.root.resolve("view")
      val pointer = viewDir.resolve("_CURRENT")
      val marker = viewDir.resolve("_last_batch")
      def currentView(): Option[DataFrame] =
        if (Files.exists(pointer))
          Some(spark.read.parquet(
            viewDir.resolve("v" + Files.readString(pointer)).toString))
        else None
      // explicit fn type — foreachBatch overloads on scala vs java fns
      val mergeBatch: (DataFrame, Long) => Unit = { (df, batchId) =>
        val last =
          if (Files.exists(marker)) Files.readString(marker).toLong
          else -1L
        if (batchId > last) {
          val b = df.groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              sum(expr("CAST(floor((value * 100) + 0.5) AS BIGINT)"))
                .as("cents"))
          val merged = currentView() match {
            case None => b
            case Some(cur) =>
              cur.select(col("event_type"), col("n").as("cn"),
                  col("cents").as("cc"))
                .join(b, Seq("event_type"), "full_outer")
                .select(col("event_type"),
                  (coalesce(col("cn"), lit(0L))
                    + coalesce(col("n"), lit(0L))).as("n"),
                  (coalesce(col("cc"), lit(0L))
                    + coalesce(col("cents"), lit(0L))).as("cents"))
          }
          merged.coalesce(1).write.mode("overwrite")
            .parquet(viewDir.resolve("v" + batchId).toString)
          Files.writeString(pointer, batchId.toString)
          Files.writeString(marker, batchId.toString)
        }
      }
      // view v0 = evens, then the merge path: v1 = v0 ⊕ odds
      restarts(s, evenThenOdd(spark, sfDir)) {
        runAvailableNow(events(spark, sfDir, "", s.staged).writeStream
          .foreachBatch(mergeBatch)
          .option("checkpointLocation", s.ckpt))
      }
      currentView().get
        .select(col("event_type"), col("n"),
          col("cents").as("total_cents"))
        .orderBy("event_type")
        .localCheckpoint() // the scratch root is deleted on return
    }

  /** Streaming duplicate collapse: `dropDuplicatesWithinWatermark` on
    * (user_id, event_type, minute) — the watermark bounds the dedupe
    * state exactly like the reference's bounded KV caches bound theirs.
    * The deduped stream lands in a memory sink; the per-run count
    * compares against the batch `countDistinct` twin.
    */
  def dedupViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = events(spark, sfDir, "1 hour")
      .select(col("user_id"), col("event_type"),
        expr("CAST(ms DIV 60000 AS BIGINT)").as("minute"),
        col("event_time"))
      .dropDuplicatesWithinWatermark("user_id", "event_type", "minute")
    toMemory(stream, "append").agg(count(lit(1)).as("n_after_dedup"))
  }

  /** Declarative sessionization via Spark's native `session_window` —
    * the built-in-first alternative to the stateful
    * flatMapGroupsWithState sessionizer ([[sessionizeViaStream]]):
    * gap-merged windows per user computed entirely by the streaming
    * aggregation operator (state store managed by Spark, mergeable
    * across micro-batches), then session numbering by window start.
    * The batch twin breaks a session when the gap is STRICTLY greater
    * than 30 min; `session_window` merges while `next < prev + gap`,
    * so the gap passed is 30 min + 1 ms to make the boundary
    * inclusive-equal like the batch rule.
    */
  def sessionWindowViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stream = events(spark, sfDir, "1 hour")
      .groupBy(col("user_id"),
        session_window(col("event_time"), "30 minutes 1 milliseconds"))
      .agg(count(lit(1)).as("n_events"),
        min("ms").as("start_ms"),
        (max("ms") - min("ms")).as("duration_ms"))
    val byUser = Window.partitionBy("user_id").orderBy("start_ms")
    toMemory(stream, "complete")
      .select(col("user_id"), col("n_events"), col("start_ms"),
        col("duration_ms"))
      .withColumn("session_id", row_number().over(byUser).cast("long"))
      .select("user_id", "session_id", "n_events", "start_ms",
        "duration_ms")
      .orderBy("user_id", "session_id")
  }

  /** Stream-static enrichment: the events stream joins a STATIC
    * broadcast dimension (customer → market segment) before a
    * per-segment aggregation. The stream-static join is stateless —
    * each micro-batch hash-joins against the broadcast table with no
    * streaming state — which is the scale-correct shape for enriching
    * an unbounded event stream with slowly-changing reference data
    * (the dim reloads per restart; a true SCD would swap in a
    * Delta/parquet-backed table, same plan).
    */
  def enrichViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = broadcast(Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"),
        col("c_mktsegment").as("segment")))
    val stream = events(spark, sfDir, "")
      .select(col("user_id"), col("event_type"), col("value"))
      .join(dim, Seq("user_id"))
      .groupBy("segment", "event_type")
      .agg(count(lit(1)).as("n_events"),
        // exact integer-cents sum (see Events.hourlyAggs note)
        expr("CAST(sum(CAST(floor((value * 100) + 0.5) AS BIGINT)) AS DOUBLE)" +
          " / 100.0").as("total_value"))
    toMemory(stream, "complete").orderBy("segment", "event_type")
  }

  /** One side of the stream-stream joins: the `tpe` events, watermarked
    * by `delay`, with `user_id`, `event_id`, `ms` and `event_time`
    * renamed `<prefix>_user`, `_id`, `_ms` and `_time`.
    */
  private def joinSide(stream: DataFrame, tpe: String,
      prefix: String): DataFrame =
    stream.filter(col("event_type") === tpe)
      .select(col("user_id").as(s"${prefix}_user"),
        col("event_id").as(s"${prefix}_id"),
        col("ms").as(s"${prefix}_ms"),
        col("event_time").as(s"${prefix}_time"))

  /** Stream-stream INTERVAL join: view→purchase conversion pairs
    * within 30 minutes per user — the remaining Structured Streaming
    * operator family (double-sided watermarked join). Both sides are
    * event-time watermarked and the join condition bounds purchase
    * time to [view time, view time + 30 min], which is what lets the
    * state store evict both sides as the watermark advances — without
    * the time bound a stream-stream inner join would buffer forever.
    *
    * Scale shape: state is keyed by user_id (the equality column), so
    * the join shuffles both streams once on user_id and holds only a
    * 30-minute-plus-watermark window of rows per user; pair emission
    * is append-mode incremental. The raw pair stream lands in the
    * sink; the per-user rollup runs as a batch aggregate over it (on
    * a live pipeline that rollup would be a second streaming agg).
    *
    * Equality contract with the batch oracle: event-times are exact
    * millisecond-derived timestamps, and the interval bound
    * `p_time <= v_time + 30 min` is evaluated on microsecond-precision
    * values that are whole milliseconds — identical to the oracle's
    * `pms - vms <= 1800000` integer arithmetic.
    */
  def convertViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    def side(tpe: String, prefix: String) =
      joinSide(events(spark, sfDir, "1 hour"), tpe, prefix)
    val pairs = side("purchase", "p").join(side("view", "v"),
      expr("""v_user = p_user
        AND v_time <= p_time
        AND p_time <= v_time + INTERVAL 30 MINUTES"""))
    toMemory(pairs, "append")
      .groupBy(col("p_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("v_id")).as("n_views"),
        countDistinct(col("p_id")).as("n_purchases"),
        min(col("p_ms") - col("v_ms")).as("min_lag_ms"),
        max(col("p_ms") - col("v_ms")).as("max_lag_ms"))
      .orderBy("user_id")
  }

  /** Stream-stream LEFT OUTER interval join: views that saw no
    * purchase from the same user within 30 minutes are ABANDONED —
    * the null-padded rows a streaming outer join emits only once the
    * watermark proves no match can still arrive.
    *
    * Outer-row emission mechanics (the part inner joins don't have):
    * a view's unmatched row leaves the state store only when the
    * global watermark passes `v_time + 30 min + delay`, and the
    * watermark itself only advances between micro-batches. Driven
    * over a single static file everything lands in one batch and no
    * outer row would ever emit. So the drive stages the events as one
    * file plus two far-future sentinel files (a view + purchase pair
    * each, user_id −1), throttled to one file per micro-batch:
    * sentinel 1 advances the watermark past every real view's
    * eviction bound, and the batch reading sentinel 2 flushes the
    * evictions — no reliance on trailing no-data batches. Sentinels
    * filter out of the result before the rollup. On an unbounded
    * source the sentinels ARE the arriving traffic; only this drive
    * needs them injected.
    *
    * ALL real rows ride in ONE micro-batch: the 10-minute join
    * watermark advances between batches, so rows split across files
    * that were not time-ordered would fall behind it and be silently
    * dropped from the join. Staging one merged file makes the result
    * independent of the source's part-file order.
    */
  def abandonViaStream(spark: SparkSession, sfDir: String): DataFrame =
    withScratch("graft_abandon_") { s =>
      stage(s, Tables.events(spark, sfDir) +:
        sentinels(spark, sfDir, lastMs(spark, sfDir)).flatten)
      def side(tpe: String, prefix: String) = joinSide(
        events(spark, sfDir, "10 minutes", s.staged, oneFilePerTrigger = true),
        tpe, prefix)
      val joined = side("view", "v").join(side("purchase", "p"),
        expr("""v_user = p_user
          AND p_time >= v_time
          AND p_time <= v_time + INTERVAL 30 MINUTES"""),
        "leftOuter")
      toMemory(joined, "append")
        .filter(col("v_user") >= 0)
        .groupBy(col("v_user"), col("v_id"))
        .agg(max(when(col("p_id").isNotNull, 1).otherwise(0)).as("matched"))
        .groupBy(col("v_user").as("user_id"))
        .agg(sum(when(col("matched") === 0, 1L).otherwise(0L))
            .as("n_abandoned"),
          sum(when(col("matched") === 1, 1L).otherwise(0L))
            .as("n_converted"))
        .orderBy("user_id")
        .localCheckpoint() // the scratch root is deleted on return
    }

  /** The hourly windowed counts of the events staged by `files`, under
    * a 10-minute watermark, through the staged restart drive and a
    * checkpointed parquet sink. Sentinels flow through the watermark
    * operator INTO far-future window state that is never emitted (the
    * watermark never passes them), so they advance event time without
    * polluting output.
    */
  private def windowedCounts(spark: SparkSession, sfDir: String,
      prefix: String, maxMs: Long, files: Seq[Option[DataFrame]]): DataFrame =
    withScratch(prefix) { s =>
      restarts(s, files) {
        appendTo(s, events(spark, sfDir, "10 minutes", s.staged)
          .groupBy(window(col("event_time"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("wstart"), col("event_type"),
            col("n")))
      }
      spark.read.parquet(s.out)
        .filter(col("wstart") <= timestamp_millis(lit(maxMs))) // belt+braces
        .select(date_format(col("wstart"), "yyyy-MM-dd HH:00").as("hour"),
          col("event_type"), col("n"))
        .orderBy("hour", "event_type")
        .localCheckpoint() // the scratch root is deleted on return
    }

  /** Late-data accounting: the hourly aggregation under a 10-minute
    * watermark when HALF the corpus arrives late. The drive stages
    * even-event_id rows as run 1, odd rows as run 2, then the two
    * sentinel flush files, so run 2 starts under watermark
    * W = max(even event time) − 10 min and every odd row whose hour
    * window has already closed (window.end ≤ W) is DROPPED by the
    * aggregation — Spark's documented late-row rule, here made
    * deterministic by pinning which rows are late. Run 3 emits the
    * windows the real-data watermark closed; run 4's sentinel-advanced
    * watermark flushes every real window. The result is the hourly
    * count table MINUS exactly the dropped rows; the oracle recomputes
    * the same inclusion predicate in SQL.
    */
  def lateViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val maxMs = lastMs(spark, sfDir)
    windowedCounts(spark, sfDir, "graft_late_", maxMs,
      evenThenOdd(spark, sfDir) ++ sentinels(spark, sfDir, maxMs))
  }

  /** Exactly-once resume proof: the hourly aggregation run as FIVE
    * consecutive AvailableNow queries against one checkpoint — data
    * (the watermark is still 0, so nothing emits), then an EMPTY
    * restart (no new files), then the two sentinel flush files, then
    * another empty restart after completion. A file-source + file-sink
    * pipeline that re-ingested or re-emitted anything across those
    * restarts would double its counts; the oracle is the plain batch
    * aggregate, so the hash compare IS the exactly-once check. (The
    * empty restarts are the interesting part: offsets come from the
    * checkpoint's commit log, and the sink's _spark_metadata dedupes
    * replayed batch ids.)
    */
  def reprocessViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val maxMs = lastMs(spark, sfDir)
    windowedCounts(spark, sfDir, "graft_rp_", maxMs,
      Seq(Some(Tables.events(spark, sfDir)), None) ++
        sentinels(spark, sfDir, maxMs) :+ None)
  }

  /** Batch-equivalent streaming run of the hourly aggregation.
    * `ts` is floored to ms (schema-dispatched, see Events.msFromTs) and
    * projected to an event-time timestamp for the watermark.
    */
  def hourlyViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = events(spark, sfDir, "1 hour")
      .groupBy(
        date_format(timestamp_millis(col("ms") - col("ms") % 3600000L),
          "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"))
      // shared exact-cents aggregates (see Events.hourlyOracle note)
      .agg(graft.operators.Events.hourlyAggs.head,
        graft.operators.Events.hourlyAggs.tail: _*)
    toMemory(stream, "complete").orderBy("hour", "event_type")
  }

  /** Per-hour top-k trending event types from a stream: the windowed
    * count aggregation runs IN the stream (watermarked state-store
    * agg, complete mode), and the rank-within-hour runs as a batch
    * query over the sink table — the standard split for streaming
    * top-k, because rank-over-window isn't an incremental streaming
    * operator but the counts it ranks are. On a live source the sink
    * would be a Delta/parquet table and this exact batch ranking runs
    * on whatever prefix has landed.
    */
  def topkViaStream(spark: SparkSession, sfDir: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val stream = events(spark, sfDir, "1 hour")
      .groupBy(
        date_format(timestamp_millis(col("ms") - col("ms") % 3600000L),
          "yyyy-MM-dd HH:00").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("hour")
      .orderBy(col("n").desc, col("event_type"))
    toMemory(stream, "complete")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .orderBy("hour", "rk")
  }

  /** Streaming daily-volume anomaly monitor: the (event_type, day)
    * counts aggregate in the stream's state store; the mean+2σ
    * flagging — which needs each type's complete daily series — runs
    * as a batch pass over the sink through the same
    * [[graft.operators.Events.anomalyFromDaily]] kernel as the batch
    * query.
    */
  def anomalyViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val stream = events(spark, sfDir, "1 hour")
      .groupBy(col("event_type"),
        date_format(timestamp_millis(col("ms") - col("ms") % 86400000L),
          "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"))
    // anomalyFromDaily self-joins its input (stats branch): toMemory's
    // checkpointed rows dedup their attributes, where two references to
    // the memory-sink relation would not
    graft.operators.Events.anomalyFromDaily(toMemory(stream, "complete"))
  }

  /** Rows for the stream-stream as-of (side 0 = view/right, 1 =
    * purchase/left; event_time carries the watermark tag).
    */
  case class AsofEv(user_id: Long, side: Int, event_id: Long, us: Long,
      event_time: java.sql.Timestamp)
  case class AsofSt(views: Seq[(Long, Long)], pending: Seq[(Long, Long)])
  case class AsofHit(purchase_id: Long, user_id: Long,
      view_id: Option[Long], gap_us: Option[Long])

  /** STREAM-STREAM as-of: purchases and views are BOTH unbounded
    * streams, and each purchase must match the newest view
    * at-or-before it — which is only safe to emit once the watermark
    * proves no earlier view can still arrive. flatMapGroupsWithState
    * per user holds (buffered views, pending purchases):
    *
    *  - a purchase emits when `purchase_ms <= watermark` (any future
    *    arrival has event time beyond the watermark, hence a strictly
    *    later microsecond — ms-floor argument in the emit test);
    *  - pending purchases arm an EVENT-TIME TIMEOUT at the earliest
    *    pending time, so the flush happens on watermark passage even
    *    if the user never produces another event;
    *  - view state PRUNES to "everything after the watermark, plus
    *    the single newest at-or-before it" — every future purchase is
    *    beyond the watermark, so older passed views can never win.
    *    State is O(in-flight window) per user, not O(history).
    *
    * Driven by the staged restart drive in TIME order (first-half
    * timeline, then second half, then two far-future sentinels), so
    * nothing is ever late and the result must equal the batch as-of —
    * the oracle is the exact q_asof_join SQL. Emission happens across
    * MULTIPLE batches (mid-stream purchases flush on batch 2's
    * watermark, the tail on the sentinels'), so the cross-batch state
    * machinery is actually exercised, not just the single-batch
    * degenerate case. `event_time` is the millisecond floor of `us`.
    */
  def asofStreamStream(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    val ev = Tables.events(spark, sfDir)
    val usCol = graft.operators.AsofJoin.usFromTs(ev.schema("ts").dataType)
    val batch = ev.filter(col("event_type").isin("view", "purchase"))
      .withColumn("us", usCol)
    // any time split works (semantics don't depend on the boundary);
    // the median just guarantees both batches carry real work
    val midMs = batch
      .agg(expr("CAST(approx_percentile(us DIV 1000, 0.5) AS BIGINT)"))
      .head.getLong(0)
    val halves = Seq(s"us DIV 1000 <= $midMs", s"us DIV 1000 > $midMs")
      .map(p => Some(batch.filter(expr(p)).drop("us")))
    withScratch("graft_ssasof_") { s =>
      // early purchases flush at W = mid − 30 min, mid-stream ones on
      // the second half, the tail once the sentinels pass every row
      restarts(s, halves ++ sentinels(spark, sfDir, lastMs(spark, sfDir))) {
        val evs = events(spark, sfDir, "30 minutes", s.staged)
          .withColumn("us", usCol)
          .select(col("user_id").cast("long").as("user_id"),
            when(col("event_type") === "purchase", 1).otherwise(0)
              .as("side"),
            col("event_id").cast("long").as("event_id"),
            col("us"), col("event_time"))
          .as[AsofEv]
        val hits = evs.groupByKey(_.user_id)
          .flatMapGroupsWithState[AsofSt, AsofHit](
            OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
            case (user, it, state) =>
              val w = state.getCurrentWatermarkMs()
              val arrivals = it.toSeq.filter(_.us / 1000 > w) // late rule
              val st = state.getOption.getOrElse(AsofSt(Nil, Nil))
              // views dedup per us (newest id wins — the operator's
              // documented determinism contract)
              val views = (st.views ++ arrivals.filter(_.side == 0)
                .map(e => (e.us, e.event_id)))
                .groupBy(_._1).map { case (us, vs) => (us, vs.map(_._2).max) }
                .toSeq.sortBy(_._1)
              val pend = (st.pending ++ arrivals.filter(_.side == 1)
                .map(e => (e.us, e.event_id))).sortBy(p => (p._1, p._2))
              val (emit, keep) = pend.partition(_._1 / 1000 <= w)
              val out = emit.map { case (pus, pid) =>
                val m = views.filter(_._1 <= pus).lastOption
                AsofHit(pid, user, m.map(_._2), m.map(v => pus - v._1))
              }
              // prune passed views to the single newest at-or-before W
              val (passed, live) = views.partition(_._1 / 1000 <= w)
              val keptViews = passed.takeRight(1) ++ live
              if (keep.isEmpty && keptViews.isEmpty) state.remove()
              else {
                state.update(AsofSt(keptViews, keep))
                // a previously set timeout is cleared on every
                // invocation; re-arm only while purchases are pending
                if (keep.nonEmpty)
                  state.setTimeoutTimestamp(keep.map(_._1 / 1000).min + 1)
              }
              out.iterator
          }
        appendTo(s, hits)
      }
      spark.read.parquet(s.out)
        .filter(col("user_id") >= 0) // sentinels never emit; belt+braces
        .select(col("purchase_id"), col("user_id"),
          col("view_id"), col("gap_us"))
        .orderBy("purchase_id")
        .localCheckpoint() // the scratch root is deleted on return
    }
  }

  /** The native AS-OF join inside a streaming query: a purchase
    * stream temporally enriched against the static signup-derived
    * tier dimension through [[graft.operators.AsofJoin.join]] with
    * `broadcastRight = true` — the custom logical node rides the
    * micro-batch planner exactly like a built-in (IncrementalExecution
    * plans with the session's injected strategies), and because
    * [[graft.plans.BroadcastAsofJoinExec]] is STATELESS per batch and
    * the dimension is static, append-mode emission per micro-batch is
    * exact with no state store at all. The fact stream reaches the
    * join with zero exchange — the streaming source's partitioning
    * flows straight through, so this is the shape a 100 TB/day ingest
    * wants for SCD temporal enrichment.
    *
    * The rollup over the enriched pairs runs as a batch aggregate on
    * the sink (a live pipeline would chain a second streaming agg).
    * Oracle = the same DuckDB ASOF LEFT JOIN as the batch twin,
    * rolled up per tier.
    */
  def asofViaStream(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val usCol = graft.operators.AsofJoin.usFromTs(ev.schema("ts").dataType)
    val dim = ev
      .filter(col("event_type") === "signup")
      .withColumn("us", usCol)
      .groupBy(col("user_id").as("s_user"), col("us").as("s_us"))
      .agg((max("event_id") % 5).as("tier"))
    val fact = events(spark, sfDir, "")
      .filter(col("event_type") === "purchase")
      .withColumn("us", usCol)
      .select(col("event_id").as("purchase_id"), col("user_id"), col("us"))
    val joined = graft.operators.AsofJoin.join(
      fact, dim, Seq("user_id" -> "s_user"), "us", "s_us",
      None, outer = true, broadcastRight = true)
    toMemory(joined, "append")
      .groupBy(coalesce(col("tier"), lit(-1L)).as("tier"))
      .agg(count(lit(1)).as("n_purchases"),
        coalesce(sum(col("us") - col("s_us")), lit(0L)).as("sum_age_us"))
      .orderBy("tier")
  }
}
