package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Incremental/streaming semantics (SURVEY §2.11). The reference is
  * cron-scheduled incremental batch; the Spark-native forms are (a) the
  * batch gap-sessionization below (lag + running sum — one shuffle on the
  * session key) and (b) true Structured Streaming with session_window +
  * watermark for unbounded input.
  */
object Sessions {

  /** Gap-based sessions per key: a new session starts when the gap from the
    * previous event exceeds gapSeconds. Emits per-user session stats.
    */
  def gapSessionStats(events: DataFrame, gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapSeconds * 1000000L
    val marked = events
      .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          unix_micros(col("ts")) - col("prev_us") > gapUs, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perSession = marked.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        (unix_millis(max(col("ts"))) - unix_millis(min(col("ts")))).as("dur_ms"))
    perSession.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_session_events"),
        max(col("dur_ms")).as("max_session_dur_ms"))
      .orderBy(col("user_id"))
  }

  /** Keyed state carried across micro-batches (SURVEY §2.12 "custom state"
    * via mapGroupsWithState). Running per-user event count + latest
    * timestamp — the streaming form of the reference's per-file JSON state
    * (attempts / lastModified, jobs/blob_storage_indexer.py:417-507):
    * arbitrary state per key, updated incrementally, surviving batches.
    */
  final case class UserState(n: Long, lastTsMs: Long)
  final case class UserUpdate(user_id: Long, n_events: Long, last_ts_ms: Long)

  /** Input needs (user_id: long, ts_ms: long); works on batch and streaming
    * Datasets alike (update output mode when streaming).
    *
    * On an unbounded key space pass a processing-time timeout (e.g.
    * `GroupStateTimeout.ProcessingTimeTimeout` with `idleTimeout` set) so
    * idle keys are evicted — keyed state otherwise grows without bound,
    * the streaming analog of the reference's purge path.
    */
  def runningUserCounts(events: Dataset[(Long, Long)],
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout,
      idleTimeout: String = "1 hour"): Dataset[UserUpdate] = {
    // setTimeoutDuration below is only legal under processing-time timeouts;
    // event-time eviction would need a watermark + setTimeoutTimestamp
    require(timeout == GroupStateTimeout.NoTimeout ||
      timeout == GroupStateTimeout.ProcessingTimeTimeout,
      s"only NoTimeout or ProcessingTimeTimeout supported, got $timeout")
    import events.sparkSession.implicits._
    val useTimeout = timeout != GroupStateTimeout.NoTimeout
    events.groupByKey(_._1)
      .mapGroupsWithState[UserState, UserUpdate](timeout) {
        (uid: Long, rows: Iterator[(Long, Long)], state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            val expired = state.getOption.getOrElse(UserState(0L, 0L))
            state.remove()
            UserUpdate(uid, expired.n, expired.lastTsMs)
          } else {
            val prev = state.getOption.getOrElse(UserState(0L, 0L))
            var n = prev.n
            var last = prev.lastTsMs
            rows.foreach { case (_, tsMs) =>
              n += 1
              if (tsMs > last) last = tsMs
            }
            state.update(UserState(n, last))
            if (useTimeout) state.setTimeoutDuration(idleTimeout)
            UserUpdate(uid, n, last)
          }
      }
  }

  final case class OpenSession(startMs: Long, endMs: Long, n: Long)
  final case class ClosedSession(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

  /** Gap sessions materialized incrementally with flatMapGroupsWithState
    * (append mode, zero-or-more outputs per key per batch): a session closes
    * when a later event arrives more than `gapMs` after its end, and the
    * closed session is emitted in that batch while the new session stays in
    * state. Data-driven closure keeps the operator deterministic — no
    * wall-clock timeouts — which is what the hermetic tests need; a
    * production deployment adds a ProcessingTimeTimeout to flush sessions
    * for keys that stop arriving.
    */
  def closedGapSessions(events: Dataset[(Long, Long)], gapMs: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)], state: GroupState[OpenSession]) =>
          val ts = rows.map(_._2).toArray.sorted
          val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
          var cur = state.getOption
          ts.foreach { t =>
            cur match {
              case Some(s) if t - s.endMs <= gapMs =>
                cur = Some(OpenSession(s.startMs, math.max(s.endMs, t), s.n + 1))
              case Some(s) =>
                closed += ClosedSession(uid, s.startMs, s.endMs, s.n)
                cur = Some(OpenSession(t, t, 1))
              case None =>
                cur = Some(OpenSession(t, t, 1))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  /** Watermarked tumbling-window counts in APPEND mode (SURVEY §2.11
    * watermark semantics, sharpest form): a window emits exactly once,
    * only after the watermark passes its end, and events arriving later
    * than the watermark are DROPPED before aggregation — bounded state by
    * construction. Input (user_id, ts_ms); output one row per finalized
    * window.
    */
  def tumblingWindowCounts(events: Dataset[(Long, Long)],
      windowDur: String = "1 minute", watermarkDelay: String = "10 seconds"): DataFrame = {
    events.toDF("user_id", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDur))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")).as("w_start_ms"), col("n"))
  }

  /** Watermarked streaming key dedup (SURVEY §2.11 watermark row's
    * "dropDuplicates-by-key-and-ts" mapping, and the streaming form of the
    * reference's skippedNoChange freshness filter): the first arrival of a
    * key passes, replays of the same key are dropped, and the watermark
    * BOUNDS the dedup state — a key older than the delay ages out instead
    * of accumulating forever, which is what makes exactly-once-per-key
    * viable on an unbounded stream. Input (doc_id, ts_ms); output the
    * surviving arrivals.
    */
  def dedupedArrivals(events: Dataset[(Long, Long)],
      watermarkDelay: String = "10 seconds"): DataFrame = {
    events.toDF("doc_id", "ts_ms")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("doc_id")
      .select(col("doc_id"), col("ts_ms"))
  }

  /** Watermarked stream-stream interval join (SURVEY §2.11 + builder brief
    * streaming surface): click events enrich with the impression that
    * preceded them by at most `joinWindowSec` for the same key. Both sides
    * carry watermarks and the join condition time-bounds BOTH event times,
    * which is exactly what lets Spark age out buffered rows: an impression
    * older than (watermark − joinWindow) can never match a future click,
    * so its state is dropped — the unbounded-stream analog of the bucketed
    * batch interval join. Inputs (key, ts_ms[, payload]); output one row
    * per matched (click, impression) pair.
    */
  def intervalJoin(impressions: Dataset[(Long, Long)], clicks: Dataset[(Long, Long)],
      joinWindowSec: Long, watermarkDelay: String = "10 seconds"): DataFrame = {
    val imp = impressions.toDF("key", "imp_ts_ms")
      .withColumn("imp_ts", timestamp_millis(col("imp_ts_ms")))
      .withWatermark("imp_ts", watermarkDelay)
    val clk = clicks.toDF("ckey", "clk_ts_ms")
      .withColumn("clk_ts", timestamp_millis(col("clk_ts_ms")))
      .withWatermark("clk_ts", watermarkDelay)
    imp.join(clk,
        col("key") === col("ckey") &&
        col("clk_ts") >= col("imp_ts") &&
        col("clk_ts") <= col("imp_ts") + expr(s"INTERVAL $joinWindowSec SECONDS"))
      .select(col("key"), col("imp_ts_ms"), col("clk_ts_ms"))
  }

  /** Structured Streaming variant: watermarked session_window aggregation.
    * Reads the events parquet as a stream (Trigger.AvailableNow analog for
    * tests via processAllAvailable) and counts events per (user, session).
    */
  /** Stream the events table whether it is a single parquet FILE (the
    * driver-generated testdata layout) or a parquet DIRECTORY of part
    * files (every Spark-written layout, e.g. the ScaleProbe replicas).
    * A bare `pathGlobFilter=events.parquet` over the parent matches only
    * the single-file case — against a directory it filters on the PART
    * file names and silently streams zero rows (caught by the x2+ scale
    * probe reading 0 pairs).
    */
  private def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val path = new org.apache.hadoop.fs.Path(s"$sfDir/events.parquet")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val schema = spark.read.parquet(path.toString).schema
    val reader = spark.readStream.schema(schema)
    if (fs.getFileStatus(path).isDirectory) reader.parquet(path.toString)
    else reader.option("pathGlobFilter", "events.parquet").parquet(sfDir)
  }

  def streamingSessionCounts(spark: SparkSession, sfDir: String,
      gap: String = "30 minutes", queryName: String = "graft_sessions"): DataFrame = {
    val raw = eventsStream(spark, sfDir)
    // same ts normalization as Tables.load (long ns or NTZ µs → TimestampType)
    val stream = graft.Tables.normalizeTs(raw)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("session"))
      .agg(count(lit(1)).as("n_events"))
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
      .select(col("user_id"), col("session.start").as("session_start"), col("n_events"))
  }

  private val attribRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Streaming view→click attribution over the events table — the
    * stream-stream interval join run END TO END as a streaming query
    * (the [[intervalJoin]] shape, driven by the real file source rather
    * than a MemoryStream): the event stream splits into watermarked
    * view and click legs, and the join emits every click within
    * `joinWindowSec` after a same-user view. Both legs watermarked +
    * both event times bounded in the join condition, so buffered state
    * ages out — the unbounded-stream analog of the batch interval join,
    * and the st5 gate's oracle is exactly that batch join in DuckDB.
    * Memory-sink query names are uniquified per invocation so warm +
    * timed bench runs coexist in one session.
    */
  def streamingClickAttribution(spark: SparkSession, sfDir: String,
      joinWindowSec: Long): DataFrame = {
    val name = s"graft_attrib_${attribRuns.incrementAndGet()}"
    // A stream-stream join materializes one state store per shuffle
    // partition per side per microbatch; at gate scale the store setup
    // dominates wall, so the streaming query runs at a modest partition
    // count (restored after) — at 100 TB the deployment raises it with
    // the data, exactly like any streaming job's partition sizing. The
    // 2/4/8/16 store-setup sweep behind 8 is in SCALING.md "Floor
    // attribution: k9, t14, st5 (round 11)".
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try streamingClickAttributionInner(spark, sfDir, joinWindowSec, name)
    finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  private def streamingClickAttributionInner(spark: SparkSession, sfDir: String,
      joinWindowSec: Long, name: String): DataFrame = {
    val stream = graft.Tables.normalizeTs(eventsStream(spark, sfDir))
    val views = stream.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", s"$joinWindowSec seconds")
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", s"$joinWindowSec seconds")
    val joined = views.join(clicks,
      col("v_user") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $joinWindowSec SECONDS"))
    val q = joined.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
      .select(col("v_user").as("user_id"),
        unix_millis(col("view_ts")).as("view_ms"),
        unix_millis(col("click_ts")).as("click_ms"))
  }

  final case class KeyProfile(user_id: Long, n_events: Long, last_ts_ms: Long,
      recent_ts: Seq[Long])

  /** Per-key profile on the transformWithState API (Spark 4.x arbitrary
    * state v2): a running counter in `ValueState` plus a bounded
    * recent-timestamps window in `ListState` — the state-shape
    * mapGroupsWithState can't hold cheaply (appending to a list inside one
    * opaque state value rewrites the whole value every batch; ListState appends
    * are incremental in the state store). Requires the RocksDB state store
    * provider (`spark.sql.streaming.stateStore.providerClass`); TTLConfig
    * on either state gives the idle-key eviction the purge path needs
    * without timer bookkeeping.
    */
  class UserProfileProcessor(recentK: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long), KeyProfile] {
    import org.apache.spark.sql.streaming.{ListState, TTLConfig, TimerValues, ValueState}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var count: ValueState[UserState] = _
    @transient private var recent: ListState[Long] = _

    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      count = getHandle.getValueState[UserState]("count",
        E.product[UserState], TTLConfig.NONE)
      recent = getHandle.getListState[Long]("recent", E.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
        tv: TimerValues): Iterator[KeyProfile] = {
      val prev = if (count.exists()) count.get() else UserState(0L, 0L)
      // sort the batch slice so replays produce identical state/output
      val batch = rows.toArray.sortBy(_._2)
      var n = prev.n
      var last = prev.lastTsMs
      batch.foreach { case (_, ts) => n += 1; if (ts > last) last = ts }
      count.update(UserState(n, last))
      val window = ((if (recent.exists()) recent.get().toSeq else Seq.empty) ++
        batch.map(_._2)).takeRight(recentK)
      recent.put(window.toArray)
      Iterator.single(KeyProfile(key, n, last, window))
    }
  }

  /** Streaming per-user profiles via [[UserProfileProcessor]]; input is
    * (user_id, ts_ms), update output mode. */
  def userProfiles(events: Dataset[(Long, Long)], recentK: Int = 3): Dataset[KeyProfile] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_._1)
      .transformWithState(new UserProfileProcessor(recentK),
        TimeMode.None(), OutputMode.Update())
  }
}
