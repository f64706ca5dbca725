package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming surface (SURVEY §2.8 — absent in the reference; expressed here
  * as Structured Streaming over the events shape). Transformations are
  * written against plain DataFrames so the SAME code runs in batch (oracle
  * checkable) and incremental (readStream) mode.
  */
object EventStreams {

  /** Gap-based session windows per user (Spark-native `session_window` —
    * the streaming twin of q43's batch sessionization): a session extends
    * while consecutive events arrive within `gap`; its end is
    * last_event + gap. In append mode a session row is emitted exactly
    * once, when the watermark passes its end — state per key is bounded
    * by the OPEN sessions only, the scale-correct shape for an unbounded
    * event stream. Expects columns (user_id, ts: timestamp_ntz,
    * cents: long); integer cents keep the sum partition-order-exact.
    */
  def userSessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("session_window.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), col("cents"))

  /** Tumbling 1-hour windows with a 2-hour watermark: counts + value sums per
    * event type. Batch mode ignores the watermark, so batch output == the
    * final streaming state.
    */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming HyperLogLog registers: per-(group, bucket) max rank over the
    * arriving values' portable hash stream (graft.operators.Hll — the q185
    * md5 family, DuckDB-replayable). Run in complete mode: the aggregation
    * state IS the sketch, bounded at |groups|·m rows however long the
    * stream runs, and max-merge makes the result independent of arrival
    * order and micro-batch boundaries — the final table equals the batch
    * sketch over the same rows bit-for-bit (pinned by the q214 gate).
    * Distinct-count estimates come from `Hll.estimate` over the sink. */
  def hllRegisters(stream: DataFrame, groupCols: Seq[String],
                   value: org.apache.spark.sql.Column, m: Int = 64): DataFrame =
    graft.operators.Hll.registers(stream, groupCols, value, m)

  /** Streaming CDC-latest materialization: the per-key newest change —
    * upserts surface, a trailing delete hides the key — maintained as a
    * complete-mode aggregation whose state is ONE struct per key (max_by
    * under the (ts, tie) total order, so the result is independent of
    * arrival order and micro-batch boundaries; q194's batch window
    * replayed incrementally, pinned by the q229 gate). Input columns:
    * keyCols ++ (ts, tie, value, op with 'U'/'D'). Output: keyCols ++
    * (last_ts, last_value) for keys whose newest op is an upsert. */
  def cdcLatest(changes: DataFrame, keyCols: Seq[String]): DataFrame =
    changes
      .groupBy(keyCols.map(col): _*)
      .agg(max_by(struct(col("op"), col("ts"), col("value")),
        struct(col("ts"), col("tie"))).as("__last"))
      .where(col("__last.op") === "U")
      .select(keyCols.map(col) :+ col("__last.ts").as("last_ts")
        :+ col("__last.value").as("last_value"): _*)

  /** Streaming top-k leaderboard: complete-mode counts + deterministic
    * (count desc, key asc) sort + limit — the canonical live-ranking
    * query; aggregation state is one counter per distinct key, and the
    * sink table equals the batch top-k over the same rows (q230). */
  def topK(stream: DataFrame, keyCol: String, k: Int): DataFrame =
    stream.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col(keyCol))
      .limit(k)

  /** Streaming z-score anomaly counter: each arriving (event_type, cents)
    * row is flagged against PRE-COMPUTED per-type reference moments (a
    * static DataFrame with (event_type, mu, sigma) from a training
    * window) via a stream-static broadcast join — no streaming state
    * beyond one counter per type, so the monitor runs indefinitely at any
    * rate. Run in complete mode; the sink equals the batch count over the
    * same rows (pinned by the q235 gate, which replays mu/sigma/threshold
    * arithmetic in the oracle bit-for-bit). */
  def anomalyCounts(stream: DataFrame, stats: DataFrame,
                    z: Double = 2.0): DataFrame = {
    // a stream-static join re-evaluates the static side's PLAN every
    // micro-batch — materialize the (tiny) moments table once so a
    // long-running monitor never re-aggregates its training window
    val frozen = stats.localCheckpoint(true)
    stream.join(broadcast(frozen), Seq("event_type"))
      .where(abs(col("cents").cast("double") - col("mu")) >
        lit(z) * col("sigma"))
      .groupBy("event_type").agg(count(lit(1)).as("n_anom"))
  }

  /** Sliding windows: 1-hour window every 15 minutes. */
  def slidingValue(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(sum("value").as("total_value"), count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("total_value"), col("n"))

  final case class UserRunning(user_id: Long, n_events: Long, total_value: Double)

  /** Arbitrary stateful aggregation via mapGroupsWithState: running per-user
    * totals (the KeyValueGroupedDataset custom-state surface).
    */
  def runningUserTotals(events: Dataset[(Long, Double)]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[UserRunning, UserRunning](GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
          val next = rows.foldLeft(prev) { (acc, r) =>
            UserRunning(user, acc.n_events + 1, acc.total_value + r._2)
          }
          state.update(next)
          next
      }
  }

  final case class UserCents(user_id: Long, n_events: Long, total_cents: Long)

  /** Integer-cents variant of runningUserTotals: long accumulation is exact
    * and order-independent, so the final state is oracle-comparable
    * (q77_stream_running_totals) regardless of batch/arrival order. */
  def runningUserCents(events: Dataset[(Long, Long)]): Dataset[UserCents] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[UserCents, UserCents](GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[UserCents]) =>
          val prev = state.getOption.getOrElse(UserCents(user, 0L, 0L))
          val next = rows.foldLeft(prev) { (acc, r) =>
            UserCents(user, acc.n_events + 1, acc.total_cents + r._2)
          }
          state.update(next)
          next
      }
  }

  /** Streaming exact deduplication: drop repeated event ids as they arrive,
    * holding state only within the watermark horizon (the incremental form
    * of the batch exact-dedup operator — unbounded-state dropDuplicates
    * would OOM a long-running stream; the watermark bounds it). */
  def dedupEvents(events: DataFrame, idCols: Seq[String],
                  watermarkDelay: String = "2 hours",
                  tsCol: String = "ts"): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-stream interval join: each click joins purchases of the same
    * user within the following hour. Written against plain DataFrames, so
    * batch mode is the oracle twin (q79) and readStream inputs give the
    * incremental form — watermarks bound the join state on both sides.
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame =
    clicks.withWatermark("ts", "2 hours").as("c")
      .join(
        purchases.withWatermark("ts", "2 hours").as("p"),
        expr("""c.user_id = p.user_id
                AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR"""))
      .select(col("c.user_id").as("user_id"),
        col("c.ts").as("click_ts"), col("p.ts").as("purchase_ts"),
        col("p.value").as("purchase_value"))

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class SessionAcc(start: Long, end: Long, n: Long) // epoch millis
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                              session_end: java.sql.Timestamp, n_events: Long)

  /** Incremental sessionization: flatMapGroupsWithState with event-time
    * timeout. A session closes when a same-user event arrives more than
    * `gap` after its end, or when the watermark passes end+gap (timeout).
    * The incremental twin of the batch gaps-and-islands query
    * (q43_events_sessions).
    */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int,
                 watermarkDelay: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionAcc, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(user, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.end), s.n))
          } else {
            val closed = scala.collection.mutable.Buffer.empty[SessionOut]
            var cur = state.getOption
            rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
              val t = e.ts.getTime
              cur = cur match {
                case Some(s) if t - s.end <= gapMs =>
                  Some(SessionAcc(s.start, math.max(s.end, t), s.n + 1))
                case Some(s) =>
                  closed += SessionOut(user, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.end), s.n)
                  Some(SessionAcc(t, t, 1))
                case None => Some(SessionAcc(t, t, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.iterator
          }
      }
  }
}
