package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the `events` table shape
  * (SURVEY §2.7). Each has a batch-equivalent used by the correctness
  * oracle; the streaming path shares the same aggregation logic.
  */
object EventStreams {

  // ---- windowed aggregation ---------------------------------------------
  /** Tumbling- or sliding-window aggregate; works identically on a
    * batch or streaming input frame (pass a readStream frame +
    * watermark for streaming). With `slide` set (< windowLen), each
    * event lands in windowLen/slide overlapping windows — Spark's
    * `window()` explodes the assignments map-side, so the shuffle
    * carries (window,type)-keyed partial aggregates, not replicated
    * raw rows. */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour",
                  watermark: Option[String] = None,
                  slide: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    val w = slide.fold(window(col("ts"), windowLen))(
      sl => window(col("ts"), windowLen, sl))
    src.groupBy(w.as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("total"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("total"))
  }

  /** Open a streaming scan over a parquet directory with the events
    * schema (for tests: format("memory") sink + processAllAvailable).
    */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.sources.Sources.readParquet(spark, dir).schema
    spark.readStream.schema(schema).parquet(dir)
  }

  // ---- sessionization ----------------------------------------------------
  /** Batch sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapMinutes`. One window
    * shuffle on user_id. */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gap = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
    val newSession = when(gap.isNull || gap > gapMinutes * 60L * 1000000L, 1L).otherwise(0L)
    events.withColumn("session_id",
      sum(newSession).over(w.rowsBetween(Window.unboundedPreceding, 0)))
  }

  /** Sessionization via Spark's NATIVE `session_window` aggregation —
    * the built-in-first twin of [[sessionizeStream]]: no hand-rolled
    * state machine, the engine owns merging/expiry, and the same call
    * works in batch (the oracle path) and streaming (pass a watermark;
    * append-mode emission once the watermark passes a session's end).
    * Prefer this when per-session OUTPUT is aggregate-shaped; the
    * flatMapGroupsWithState version remains for custom state/emission
    * (mid-session rollover output, non-aggregate payloads). Boundary:
    * touching windows MERGE — an event exactly `gap` after the last
    * one continues the session (spec-pinned; the oracle's strict
    * `> gap` new-session test replays it).
    * Output: user_id, session_start (first event), session_end (last
    * event + gap), n_events, total_value. */
  def sessionizeWindowed(events: DataFrame, gapMinutes: Int = 30,
                         watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(session_window(col("ts"), s"$gapMinutes minutes").as("sw"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(28,6)")).cast("double").as("total_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("total_value"))
  }

  case class SessionEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                          event_type: String, value: Double)
  case class SessionSummary(user_id: Long, session_start: java.sql.Timestamp,
                            n_events: Long, total_value: Double)
  // public: the state encoder's generated code must construct it
  case class SessionState(start: Long, lastTs: Long, n: Long, total: Double)

  /** Streaming sessionization with explicit state: emits a summary
    * when a user's session either rolls over (a new event past the gap)
    * or times out (event-time watermark passes lastTs+gap — this is
    * what flushes the final/idle session per user). EventTimeTimeout
    * requires a watermark on the input; we set one here when the
    * source is streaming (no-op shape on batch). */
  def sessionizeStream(events: Dataset[SessionEvent],
                       gapMinutes: Int = 30): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    val src =
      if (events.isStreaming) events.withWatermark("ts", s"$gapMinutes minutes")
      else events
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val gapMicros = gapMinutes * 60L * 1000000L
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionSummary(userId,
              new java.sql.Timestamp(s.start / 1000L), s.n, s.total))
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionSummary]
            sorted.foreach { e =>
              val t = e.ts.getTime * 1000L
              cur match {
                case Some(s) if t - s.lastTs <= gapMicros =>
                  cur = Some(s.copy(lastTs = t, n = s.n + 1, total = s.total + e.value))
                case Some(s) =>
                  out += SessionSummary(userId, new java.sql.Timestamp(s.start / 1000L), s.n, s.total)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // flush the idle session once event time passes lastTs+gap
              state.setTimeoutTimestamp(s.lastTs / 1000L + gapMinutes * 60L * 1000L)
            }
            out.iterator
          }
      }
  }

  // ---- per-user rate limiter ---------------------------------------------
  /** Dual-mode per-user rate limiter: admit at most `n` events per
    * user per tumbling event-time window — retry-safe throttling for
    * event ingestion (a replayed feed admits the identical set,
    * because admission is by EVENT-TIME rank (ts, event_id) within
    * the (user, window) group, never arrival order). Batch form: one
    * (user, window)-partitioned rank window — user-window groups are
    * bounded, nothing global. Output: input + (window_start,
    * admitted). */
  def rateLimitBatch(events: DataFrame, n: Int,
                     windowMinutes: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n >= 1, s"rateLimitBatch: n must be >= 1 (got $n)")
    val w = Window.partitionBy(col("user_id"), col("window_start"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("window_start",
        window(col("ts"), s"$windowMinutes minutes").getField("start"))
      .withColumn("admitted", row_number().over(w) <= n)
  }

  case class RLEvent(event_id: Long, ts: java.sql.Timestamp, user_id: Long)
  case class RLVerdict(event_id: Long, user_id: Long,
                       window_start: java.sql.Timestamp, admitted: Boolean)

  /** Streaming form: per-(user, window) admission counter in
    * flatMapGroupsWithState, events ranked by event time WITHIN each
    * microbatch and counted cumulatively across batches; state for a
    * window is dropped once the watermark passes its end
    * (EventTimeTimeout). Equals [[rateLimitBatch]] whenever a
    * window's events arrive within the watermark horizon — the
    * cross-microbatch equivalence the spec replays; a straggler past
    * an exhausted quota is rejected in both modes, the standard
    * streaming caveat being only WHICH n win under extreme
    * reordering. */
  def rateLimitStream(events: Dataset[RLEvent], n: Int,
                      windowMinutes: Int = 60): Dataset[RLVerdict] = {
    import events.sparkSession.implicits._
    val winMs = windowMinutes * 60000L
    val src =
      if (events.isStreaming)
        events.withWatermark("ts", s"$windowMinutes minutes")
      else events
    src.groupByKey(e => (e.user_id, e.ts.getTime / winMs * winMs))
      .flatMapGroupsWithState[Long, RLVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((userId, winStart), it, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var used = state.getOption.getOrElse(0L)
            val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
              used += 1
              RLVerdict(e.event_id, userId,
                new java.sql.Timestamp(winStart), used <= n)
            }
            state.update(used)
            state.setTimeoutTimestamp(winStart + winMs)
            out.iterator
          }
      }
  }

  // ---- stream-stream interval join ---------------------------------------
  /** Stream-stream (or batch-batch: same plan logic) interval join:
    * each left event paired with the same user's right events inside
    * `(left.ts - windowMinutes, left.ts]`.
    *
    * The equality key (user_id) makes it a keyed shuffle join; the
    * time-range predicate is what BOUNDS THE JOIN STATE in streaming —
    * with both sides watermarked, rows older than the watermark minus
    * the interval are evicted, so state stays proportional to the
    * window, not the stream. Without a range condition Spark must keep
    * every row forever (unbounded-state stream join). */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   windowMinutes: Int = 60): DataFrame = {
    val l = left.select(col("event_id").as("l_event_id"), col("user_id"),
      col("ts").as("l_ts"))
    val r = right.select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
      col("event_id").as("r_event_id"), col("value").as("r_value"))
    val lw = if (l.isStreaming) l.withWatermark("l_ts", s"$windowMinutes minutes") else l
    val rw = if (r.isStreaming) r.withWatermark("r_ts", s"$windowMinutes minutes") else r
    lw.join(rw,
      col("user_id") === col("r_user_id") &&
        col("r_ts") > col("l_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("r_ts") <= col("l_ts"))
  }

  // ---- stream-static enrichment ------------------------------------------
  /** Stream-static join: enrich a (possibly streaming) event frame
    * with a static dimension on a derived key. The static side is
    * broadcast to every task — NO shuffle of the stream, no state
    * (unlike stream-stream joins), and the dim is re-read per
    * micro-batch so slowly-changing dimensions pick up updates. This
    * is the canonical scale shape for enriching a firehose: the
    * stream stays partitioned as it arrives. */
  def enrichStatic(events: DataFrame, dim: DataFrame,
                   eventKey: Column, dimKey: Column): DataFrame =
    events.join(broadcast(dim), eventKey === dimKey, "left")

  /** One routed batch (the [[routeByQuality]] body, factored out so
    * idempotency is testable): split on the score ONCE (the batch is
    * persisted so both sinks share a single computation) and write
    * each side under a `batch_id=<id>` directory with overwrite —
    * a replayed microbatch (post-failure re-delivery) rewrites its own
    * directory byte-for-byte instead of duplicating rows, which is
    * the standard exactly-once-effect recipe for file sinks behind
    * foreachBatch. Readers see `batch_id` as a partition column.
    * Every input row reaches EXACTLY one sink: a NaN/null score is
    * not comparable to the threshold, so the reject side takes the
    * complement of the accept predicate (null-inclusive) rather than
    * testing `< threshold` independently. */
  def routeBatch(batch: DataFrame, batchId: Long, score: Column,
                 threshold: Double, acceptDir: String,
                 rejectDir: String): Unit = {
    val scored = batch.withColumn("__q", score).persist()
    try {
      val accepts = col("__q") >= threshold && !col("__q").isNaN
      scored.filter(accepts).drop("__q")
        .write.mode("overwrite").parquet(s"$acceptDir/batch_id=$batchId")
      scored.filter(!coalesce(accepts, lit(false))).drop("__q")
        .write.mode("overwrite").parquet(s"$rejectDir/batch_id=$batchId")
    } finally { scored.unpersist(); () }
  }

  /** Frame-shaped twin of [[routeBatch]]'s split decision — the same
    * predicate as a pure projection, so the router's semantics are
    * oracle-checkable (the file-sink effects themselves are not a
    * single-frame shape): accept iff score >= threshold and the score
    * is comparable; NaN/null scores land in reject. Exactly one
    * verdict per row by construction. */
  def routeVerdict(df: DataFrame, score: Column,
                   threshold: Double): DataFrame = {
    val accepts = score >= threshold && !score.isNaN
    df.withColumn("verdict",
      when(coalesce(accepts, lit(false)), "accept").otherwise("reject"))
  }

  /** Streaming quality router: ONE pass over the stream fans out to
    * accept/reject parquet sinks by a quality score — the ingest-time
    * filter of a training-data pipeline (score with
    * [[graft.ops.TextAnalysis.qualityScore]] /
    * [[graft.ops.Classifier.logisticScore]], keep the accepts hot,
    * land the rejects for audit). foreachBatch because multi-sink
    * routing needs one batch written twice — a second readStream
    * would double the source work. Start with
    * `.option("checkpointLocation", …).start()`. */
  def routeByQuality(stream: DataFrame, score: Column, threshold: Double,
                     acceptDir: String, rejectDir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        routeBatch(batch, batchId, score, threshold, acceptDir, rejectDir)
    }

  // ---- streaming dedup ---------------------------------------------------
  /** Exactly-once-per-key across the whole stream (state grows with
    * distinct keys — fine for bounded key spaces). */
  def dedupStream(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark).dropDuplicates("event_id")

  /** State-BOUNDED variant: duplicates are only guaranteed dropped
    * within the watermark horizon, and key state is evicted as the
    * watermark advances — the mode that survives an unbounded 100 TB
    * stream. */
  def dedupStreamWithinWatermark(events: DataFrame,
                                 watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
}
