package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured-Streaming operators over the events table. The reference has
  * no streaming surface (SURVEY.md §2.5) — this is the engine extension for
  * continuous ingest: the same logical transforms run batch or streaming,
  * and the batch forms are what the oracle checks.
  *
  * Scale posture: windowed aggregation state is bounded by the watermark;
  * sessionization state is per-key and evicted on timeout — both shuffle
  * once on the grouping key, exactly like their batch counterparts.
  */
object EventStream {

  /** File schema of the events fixture. The fixture stores `ts` as parquet
    * TIMESTAMP(MICROS) without isAdjustedToUTC; declaring TimestampType here
    * reads those micros as instants directly (session timezone is UTC), the
    * same normalization [[Tables.load]] applies on the batch side. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Tumbling-window counts/sums per event type. Works on a batch OR
    * streaming DataFrame: watermark is a no-op in batch mode, so the same
    * plan serves both. Decimal accumulation keeps sums order-independent.
    */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    // a slide equal to the length is the tumbling window: Spark resolves
    // window(ts, len, len) to the same TimeWindow as window(ts, len)
    hoppingAgg(events, windowLen, windowLen)

  /** Hopping (sliding) windows — 2× state overlap vs tumbling; same
    * batch/stream duality as [[windowedAgg]]. */
  def hoppingAgg(events: DataFrame, windowLen: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Open a file-based stream over a parquet events directory. */
  def readEventStream(spark: SparkSession, path: String): DataFrame =
    graft.Tables.normalizeEventTs(
      spark.readStream.schema(eventSchema).parquet(path))

  /** Run `windowedAgg` as a real streaming query into an in-memory sink and
    * block until the source drains; returns the sink contents. Used by
    * tests to prove stream ≡ batch. */
  def runWindowedToMemory(
      spark: SparkSession,
      path: String,
      queryName: String): DataFrame = {
    val q = windowedAgg(readEventStream(spark, path))
      .writeStream
      .outputMode(OutputMode.Complete())
      .format("memory")
      .queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Streaming exact dedup on an id column: re-deliveries within the
    * watermark horizon are dropped (state bounded by the watermark) — the
    * at-least-once -> effectively-once ingest guard every training-data
    * feed needs in front of [[VersionedTable.streamingUpsert]].
    */
  def dedupStream(events: DataFrame, idCol: String = "event_id"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates(idCol, "ts")

  // --- sessionization ----------------------------------------------------

  case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  case class SessionState(sessionCount: Long, eventCount: Long, lastTs: Long)
  case class UserSessions(user_id: Long, n_sessions: Long, n_events: Long)

  /** Batch sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapMinutes`. One shuffle on
    * user_id; window functions do the rest.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__new_session",
        when(col("__prev").isNull ||
          col("ts").cast("long") - col("__prev").cast("long") > gapMinutes * 60L, 1L)
          .otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("__new_session")).as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  // --- stream-stream interval join ----------------------------------------

  /** Stream-stream interval join: events following a purchase by the same
    * user within `windowSec`. Both sides are watermarked so the join state
    * is bounded — a right-side row can be dropped once it is older than
    * the watermark minus the interval, which is exactly the buffer bound
    * Spark derives from the time-range condition. Works on batch frames
    * too (watermark is a no-op in batch), which is what the oracle checks
    * via the x2_range_join query semantics.
    *
    * Streaming requires the raw event-time columns in the join condition
    * (not pre-truncated epochs), so the bound is expressed on `ts`
    * directly via an interval.
    */
  def followsWithin(
      purchases: DataFrame,
      events: DataFrame,
      windowSec: Long,
      joinType: String = "inner"): DataFrame = {
    val p = purchases
      .withWatermark("ts", "1 hour")
      .select(col("event_id").as("p_event_id"),
        col("user_id").as("p_user_id"), col("ts").as("p_ts"))
    val e = events
      .withWatermark("ts", "1 hour")
      .select(col("user_id").as("e_user_id"), col("ts").as("e_ts"))
    p.join(e,
      col("p_user_id") === col("e_user_id") &&
        col("e_ts") > col("p_ts") &&
        col("e_ts") <= col("p_ts") + expr(s"INTERVAL $windowSec SECONDS"),
      joinType)
  }

  // --- first-touch attribution --------------------------------------------

  case class TouchEvent(
    event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String)
  case class FirstTouch(
    user_id: Long, first_event_id: Long, first_type: String, first_sec: Long)

  /** Batch first-touch attribution: each user's earliest event
    * (ties broken by event_id). min_by on a (ts, event_id) struct — a
    * single partial-aggregating shuffle, no window sort. */
  def firstTouchBatch(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts").cast("long").as("sec"),
        col("event_id"), col("event_type"))).as("__f"))
      .select(col("user_id"),
        col("__f.event_id").as("first_event_id"),
        col("__f.event_type").as("first_type"),
        col("__f.sec").as("first_sec"))

  /** Streaming form of [[firstTouchBatch]] with explicit per-user state:
    * mapGroupsWithState keeps only the current minimum (sec, event_id)
    * per user — O(users) state, no buffering of the event history. */
  def firstTouchStreaming(events: Dataset[TouchEvent]): Dataset[FirstTouch] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FirstTouch, FirstTouch](GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[TouchEvent], state: GroupState[FirstTouch]) =>
          val candidates = state.getOption.iterator ++ rows.map { e =>
            FirstTouch(user, e.event_id, e.event_type, e.ts.getTime / 1000L)
          }
          val best = candidates.minBy(f => (f.first_sec, f.first_event_id))
          state.update(best)
          best
      }
  }

  // --- funnel progression -------------------------------------------------

  case class FunnelEvent(
    event_id: Long, ts: java.sql.Timestamp, user_id: Long, event_type: String)
  case class FunnelState(stage: Int)
  case class UserFunnel(user_id: Long, funnel_stage: Int)

  /** Streaming form of the view -> click -> purchase funnel
    * (graft.Queries6.f1Funnel): one Int of state per user, events folded
    * through the same stage machine in (event-time, id) order within each
    * micro-batch. Like [[sessionizeStreaming]], cross-batch correctness
    * assumes in-order arrival between triggers; within a batch order is
    * restored by sorting, at µs precision (ms-level Timestamp.getTime
    * would merge distinct fixture timestamps).
    */
  def funnelStreaming(events: Dataset[FunnelEvent]): Dataset[UserFunnel] = {
    import events.sparkSession.implicits._
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelState, UserFunnel](GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var st = state.getOption.map(_.stage).getOrElse(0)
          rows.toSeq.sortBy(e => (micros(e.ts), e.event_id)).foreach { e =>
            val code = e.event_type match {
              case "view" => 1
              case "click" => 2
              case "purchase" => 3
              case _ => 0
            }
            st = (st, code) match {
              case (0, 1) => 1
              case (1, 2) => 2
              case (2, 3) => 3
              case _ => st
            }
          }
          state.update(FunnelState(st))
          UserFunnel(user, st)
      }
  }

  /** The session gap rule — ONE implementation shared by the
    * flatMapGroupsWithState form below and the transformWithState form
    * ([[TwsSessionize]]), so their identical-semantics claim is true by
    * construction instead of by hand-kept duplication (round-10 review
    * finding). */
  private[graft] def foldSessionEvents(s0: SessionState,
      events: Iterator[SessionEvent], gapMs: Long): SessionState = {
    var s = s0
    events.toSeq.sortBy(_.ts.getTime).foreach { e =>
      val t = e.ts.getTime
      val newSession = s.lastTs == Long.MinValue || t - s.lastTs > gapMs
      s = SessionState(
        s.sessionCount + (if (newSession) 1 else 0),
        s.eventCount + 1, t)
    }
    s
  }

  /** Streaming sessionization with explicit per-user state — the
    * flatMapGroupsWithState form of [[sessionizeBatch]]. Emits one updated
    * (user, sessions, events) row per trigger; state survives across
    * micro-batches. Requires events within a user to arrive in ts order
    * (guaranteed by the fixture's single file; production would pre-sort
    * per micro-batch).
    */
  def sessionizeStreaming(
      events: Dataset[SessionEvent],
      gapMinutes: Int = 30): Dataset[UserSessions] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSessions](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          val s = foldSessionEvents(
            state.getOption.getOrElse(SessionState(0L, 0L, Long.MinValue)),
            rows, gapMinutes * 60L * 1000L)
          state.update(s)
          Iterator(UserSessions(user, s.sessionCount, s.eventCount))
      }
  }

  /** Drain a file-fed query and wait for it to DEREGISTER from the
    * session: `stop()` returns before `spark.streams.active` drops the
    * query, and a follow-up incarnation (restart/resume/rebucket
    * cadences) must not race the old one's teardown. One copy of the
    * deadline loop — the round-11 review found it pasted into four
    * sites and growing. */
  private[graft] def drainAndAwait(spark: SparkSession,
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    try q.processAllAvailable() finally q.stop()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (spark.streams.active.exists(_.runId == q.runId) &&
        System.nanoTime() < deadline) Thread.sleep(50)
  }

  /** One-file-per-micro-batch writer: each write() appends ONE coalesced
    * parquet file to `dir` and stamps it with a strictly increasing
    * mtime, so a file source with maxFilesPerTrigger=1 (oldest-first)
    * delivers every write as its own micro-batch. The ordering contract
    * of the whole replay harness lives HERE and only here —
    * [[chunkedReplayDir]], [[replayRestart]], and the specs' staged
    * streams all write through it (round-10 review finding: diverging
    * copies of the stamp/seen machinery, then a sleep-based copy in a
    * spec). */
  private[graft] final class ChunkWriter(dir: String) {
    private val t0 = System.currentTimeMillis()
    private val seen = scala.collection.mutable.Set[String]()
    private var i = 0
    def write(df: DataFrame, outCols: Seq[String]): Unit = {
      df.select(outCols.map(col): _*)
        .coalesce(1).write.mode("append").parquet(dir)
      new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("part-") && !seen(f.getName))
        .foreach { f => f.setLastModified(t0 + i * 60000L); seen += f.getName }
      i += 1
    }
    /** Move (or, with `keep`, copy) an already-written parquet file into
      * `dir` as the next micro-batch — same strictly-increasing-mtime
      * contract as [[write]], without running a Spark job. Lets a caller
      * stage many chunks in ONE write job (see [[ChunkStager]]) and still
      * deliver them as ordered one-file batches; `keep = true` leaves the
      * staged file in place so a later batch can redeliver it
      * byte-identically ([[replayRestart]]'s crash-redelivery). */
    def adopt(f: java.io.File, keep: Boolean = false): Unit = {
      // one task can stage several chunks, giving their files identical
      // part-names across chunk dirs — prefix the batch index so the
      // flat delivery dir never collides
      val dst = new java.io.File(dir, f"part-c$i%05d-${f.getName.stripPrefix("part-")}")
      dst.getParentFile.mkdirs()
      if (keep) java.nio.file.Files.copy(f.toPath, dst.toPath)
      else java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(t0 + i * 60000L): Unit
      seen += dst.getName
      i += 1
    }
  }

  /** Far-future watermark-carrier row, filtered back out of every
    * result by its `__flush` type. Callers writing MORE than one
    * sentinel into a pipeline that dedups on event_id must pass
    * DISTINCT ids — with a shared id the second sentinel is silently
    * dropped in-flight and the two-watermark handoff it exists for
    * never happens (round-10 review finding on replayRestart). */
  private def flushSentinel(spark: SparkSession, sec: Long,
      id: Long = -1L): DataFrame = spark.range(1).select(
    lit(id).as("event_id"),
    timestamp_seconds(lit(sec)).as("ts"),
    lit(-1L).as("user_id"),
    lit("__flush").as("event_type"),
    lit(0.0).as("value"))

  /** A replay's delivery dir and the schema of the files staged into
    * it ([[ChunkStager.schema]]). [[stream]] is the ONE file source of
    * the replay harness: every lane reads its input through it, one
    * staged file per micro-batch, typed by what was staged rather than
    * by a hand-kept copy of the lane's columns. */
  private final case class ReplayFeed(dir: String, schema: StructType) {
    def stream(runner: SparkSession): DataFrame =
      runner.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(dir)
  }

  /** The columns a replay stages: all of `src`'s but its `__sec` split
    * key, which is never written. */
  private def stagedCols(src: DataFrame): Seq[String] =
    src.columns.toSeq.filterNot(_ == "__sec")

  /** Split `src` into `chunks` time-range parquet files (by its `__sec`
    * column, which is NOT written) through [[ChunkWriter]], so the file
    * source delivers them as real micro-batches in event-time order.
    * `extras` receives `src`'s greatest `__sec` from the one bounds
    * probe ([[persistSecBounds]]) and returns frames delivered after the
    * real chunks, one micro-batch each — far-future sentinel rows that
    * advance the watermark past every real window so append-mode
    * aggregations flush, then any tail. Returns the feed. */
  private def chunkedReplayDir(src: DataFrame, chunks: Int,
      extras: Long => Seq[DataFrame] = _ => Nil): ReplayFeed = {
    val dir = replayTempRoot("graft_replay").resolve("in").toString
    val (lo, hi, span) = persistSecBounds(src)
    val w = new ChunkWriter(dir)
    // ONE job stages every chunk — and, since round 15, the sentinel and
    // tail frames too (each was one more coalesce(1) Spark job per lane):
    // see [[ChunkStager]]. __chunk is the exact inverse of
    // [[chunkBounds]]'s integer split — for d = __sec − lo, the greatest
    // i with lo + span·i/n ≤ sec is ((d+1)·n + span − 1) div span − 1,
    // computed in INTEGER column arithmetic (round-14 advisor: the double
    // floor() was exact only while the numerator stayed below 2^53 —
    // `div` removes the assumption outright). partitionBy keeps one FILE
    // per chunk (repartition clusters each chunk into one task) and
    // drops __chunk from the data columns; [[ChunkWriter.adopt]] then
    // delivers the staged files in chunk order under the same
    // strictly-increasing-mtime contract as the per-chunk writes.
    val stager = new ChunkStager(src, stagedCols(src), chunks, lo, span,
      extras(hi))
    try (0 until stager.total).foreach(stager.deliver(w, _))
    finally stager.close()
    src.unpersist()
    ReplayFeed(dir, stager.schema)
  }

  /** The replay time-range split, in ONE place for [[chunkedReplayDir]]
    * and the two-incarnation replays that stage their own chunks
    * ([[replayUpsertRebucket]], [[replayUpsertDrift]]): chunk i of n
    * covers [lo + span*i/n, lo + span*(i+1)/n) on floor-second
    * timestamps. The e21/e22 DuckDB oracles reproduce this integer
    * arithmetic token-for-token — a change here must update them in
    * lockstep, and a private copy in one replay would let that lane
    * silently diverge from its oracle's cut (round-12 review). */
  private def chunkBounds(lo: Long, span: Long, chunks: Int,
      i: Int): (Long, Long) =
    (lo + span * i / chunks, lo + span * (i + 1) / chunks)

  /** The `__chunk` column — the exact integer inverse of [[chunkBounds]]
    * (see the derivation at the [[chunkedReplayDir]] staging write), in
    * ONE place for the one-job chunk staging used by the single-drain
    * and two-incarnation replays alike. Integral `div`: no floating-
    * point exactness assumption at any span/chunk magnitude. */
  private def chunkIndexCol(lo: Long, span: Long, chunks: Int)
      : org.apache.spark.sql.Column =
    expr(s"(((__sec - ${lo}L + 1L) * ${chunks}L + ${span - 1}L) div ${span}L)")
      .cast("int").minus(lit(1)).as("__chunk")

  /** ONE-JOB chunk staging, shared by every replay that delivers
    * time-range chunks through a [[ChunkWriter]] — the single-drain
    * lanes via [[chunkedReplayDir]] and the two-incarnation lanes
    * ([[replayRestart]], [[replayUpsertRebucket]], [[replayUpsertDrift]]),
    * which deliver their staged chunks in phases. Stages every chunk of
    * `src` (which must carry `__sec`) — plus any `extras` frames, one
    * staged chunk each AFTER the real chunks (sentinels/tails) — as one
    * partitioned write instead of a filter+coalesce(1) Spark job per
    * chunk (guide §1.2/§2.4; round 14 introduced this for the
    * single-drain lanes, round 15 moved it here so the phase-delivering
    * lanes stop paying ~9 scheduling rounds per call).
    *
    * `deliver(w, i, keep = true)` COPIES the staged file so the same
    * chunk can later be redelivered byte-identically (replayRestart's
    * crash-redelivery is then the SAME bytes by construction, not by
    * parquet write determinism). Empty chunks fall back to a zero-row
    * one-job write so batchIds can never shift. `close()` reclaims the
    * staging dir. `schema` is the staged files' schema, nullable as
    * their footers report it: the type a [[ReplayFeed]] reads them as. */
  private[graft] final class ChunkStager(src: DataFrame, outCols: Seq[String],
      chunks: Int, lo: Long, span: Long, extras: Seq[DataFrame] = Nil) {
    // close() reclaims it early; a crash mid-delivery leaves it to exit
    private val stagingRoot = replayTempRoot("graft_replay_stage")
    // the parquet writer requires a NOT-yet-existing target path
    private val staging = stagingRoot.resolve("c")
    try {
      val base = src.select(
        outCols.map(col) :+ chunkIndexCol(lo, span, chunks): _*)
      extras.zipWithIndex.foldLeft(base) { case (acc, (f, j)) =>
          acc.unionByName(f.select(
            outCols.map(col) :+ lit(chunks + j).as("__chunk"): _*))
        }
        .repartition(col("__chunk"))
        .write.partitionBy("__chunk").parquet(staging.toString)
    } catch { case e: Throwable => close(); throw e }
    val schema: StructType =
      VersionedTable.nullableSchema(src.select(outCols.map(col): _*).schema)
    /** Total deliverable batch count (real chunks + extras). */
    def total: Int = chunks + extras.size
    def deliver(w: ChunkWriter, i: Int, keep: Boolean = false): Unit = {
      val staged = Option(
          new java.io.File(staging.toFile, s"__chunk=$i").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .filter(_.getName.startsWith("part-"))
      if (staged.nonEmpty) {
        // one file per chunk is LOAD-BEARING (round-14 advisor): a conf
        // that splits a chunk's output (maxRecordsPerFile …) would adopt
        // each piece as its own micro-batch and silently shift every
        // later batchId — fail fast instead
        require(staged.length == 1,
          s"chunk $i staged ${staged.length} files (expected exactly 1); " +
            "a multi-file chunk would shift every later batchId")
        w.adopt(staged.head, keep)
      } else {
        // sentinel/tail frames are 1-2 literal rows — a missing staged
        // file for one means the staging write itself is broken
        require(i < chunks,
          s"extra frame ${i - chunks} staged no file — sentinel frames " +
            "cannot be empty (the watermark handoff rides on them)")
        // an EMPTY chunk still has to arrive as its own (empty)
        // micro-batch or every later batchId shifts — stage it the old
        // one-job way, which writes a zero-row file
        val (cLo, cHi) = chunkBounds(lo, span, chunks, i)
        w.write(src.where(col("__sec") >= cLo && col("__sec") < cHi), outCols)
      }
    }
    def close(): Unit = org.apache.commons.io.FileUtils
      .deleteQuietly(stagingRoot.toFile): Unit
  }

  private def withSec(events: DataFrame): DataFrame =
    events.withColumn("__sec", col("ts").cast("long"))

  /** `src`'s `__sec` bounds `(lo, hi, span)` for the replay time-range
    * split ([[chunkBounds]]), in ONE place for every chunked replay.
    * Persists `src` first: one scan feeds this probe plus the staged
    * chunk write — without the cache each pass re-reads the source
    * parquet. The caller unpersists once its staging is done. */
  private[graft] def persistSecBounds(src: DataFrame): (Long, Long, Long) = {
    src.persist()
    val (lo, hi) = secRange(src)
    (lo, hi, math.max(1L, hi - lo + 1))
  }

  /** The least and greatest non-null `__sec` of `src`, as ONE Spark job:
    * each partition folds its own min/max and the driver folds those.
    * An `agg(min, max)` costs two or three on an AQE session, which runs
    * the aggregate's shuffle-map stage, and the first scan of a
    * just-persisted source, as jobs of their own. Fails on a source
    * with no `__sec` value — there is nothing to split. */
  private def secRange(src: DataFrame): (Long, Long) = {
    val parts = src.select(col("__sec")).queryExecution.toRdd
      .mapPartitions { rows =>
        val secs = rows.filterNot(_.isNullAt(0)).map(_.getLong(0))
        if (secs.isEmpty) Iterator.empty
        else Iterator(secs.foldLeft((Long.MaxValue, Long.MinValue)) {
          case ((lo, hi), s) => (math.min(lo, s), math.max(hi, s))
        })
      }.collect()
    require(parts.nonEmpty, "replay source has no __sec value to split")
    (parts.map(_._1).min, parts.map(_._2).max)
  }

  /** Isolated CHILD SESSION for a replay's streaming queries: same
    * SparkContext and catalog, private SQLConf — nothing global is
    * mutated and nothing needs restoring, so replays built on a runner
    * are safe under a concurrent driver (ConcurrencySpec runs them).
    *
    * Replay state is tiny but per-batch cost scales with state
    * partitions (a stream-stream join commits 4 stores per partition
    * per batch): 4 partitions instead of the session's 32 cuts the
    * commit count 8x. Real deployments size this to their key space.
    * (No-data batches stay at the default here: the single-sentinel
    * replays rely on the trailing no-data batch to flush their last
    * windows — only [[replayRestart]]'s dual-sentinel design turns
    * them off, on its own runner.)
    *
    * `newSession()` clones the parent's conf AS OF SESSION CREATION
    * only for static defaults — runtime `spark.conf.set` overrides do
    * NOT propagate (verified empirically on Spark 4.1.2; the round-10
    * state-store A/B silently ran default-vs-default because of it).
    * The caller's state-store choices are therefore copied explicitly:
    * the provider class and every `stateStore.*` tuning knob set on
    * the parent take effect on the runner's queries. */
  private def isolatedRunner(spark: SparkSession): SparkSession = {
    val runner = spark.newSession()
    runner.conf.set("spark.sql.shuffle.partitions", "4")
    // The runner reads only KB-sized replay inputs and bucket-version
    // files; inheriting the parent BENCH session's 4 MB fixture-split
    // knobs turned every 32-bucket merge read into 32 one-file scan
    // tasks (round 15, guide §6 — split size is a per-workload setting;
    // Spark's defaults pack these tiny files into a couple of splits).
    runner.conf.set("spark.sql.files.maxPartitionBytes",
      String.valueOf(128L * 1024 * 1024))
    runner.conf.set("spark.sql.files.openCostInBytes",
      String.valueOf(4L * 1024 * 1024))
    // AQE re-plans and schedules every exchange as its own query stage —
    // pure latency on a replay's KB-sized 4-partition batch jobs (the
    // streaming plans themselves already run without AQE; this reaches
    // the foreachBatch merge jobs). Production-scale merges keep it on —
    // this is the same tiny-state sizing decision as the 4 partitions.
    runner.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.getAll
      .filter(_._1.startsWith("spark.sql.streaming.stateStore."))
      .foreach { case (k, v) => runner.conf.set(k, v) }
    runner
  }

  /** A replay temp root, registered for JVM-exit reclamation (callers
    * may also delete it earlier) — in ONE place for every replay's
    * inputs, staging, tables, sinks and checkpoints. With `tmpfs` it
    * lives on /dev/shm when that exists, else the default temp dir. */
  private def replayTempRoot(prefix: String,
      tmpfs: Boolean = false): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val p = if (tmpfs && java.nio.file.Files.isDirectory(shm))
        java.nio.file.Files.createTempDirectory(shm, prefix)
      else java.nio.file.Files.createTempDirectory(prefix)
    registerRestartRoot(p.toFile)
    p
  }

  /** tmpfs temp dir for a replay's streaming query, in ONE place for
    * every replay (checkpoints of [[memorySink]], the upsert-ingest
    * replays and the incremental dedup; [[replayRestart]]'s whole
    * root): a replay checkpoint is a dozen tiny offset/commit-log files
    * whose cost is fsync latency, not bytes, and it is dead the moment
    * the drain ends. The TABLE an ingest writes stays on real disk —
    * the lane prices real data bytes; only the commit-log fsyncs move
    * off the spindle. */
  private def shmCheckpointDir(prefix: String): String =
    replayTempRoot(prefix, tmpfs = true).toString

  /** Drain a streaming plan into an in-memory sink and return the sink
    * table. The plan is BUILT on an [[isolatedRunner]] child session
    * (hence the builder parameter, not a DataFrame — a stream arrives
    * bound to whatever session constructed it), so the replay's
    * 4-partition state conf never touches the caller's session and the
    * memorySink replays are concurrency-safe like replayRestart —
    * ConcurrencySpec runs them beside batch queries. A tmpfs
    * checkpoint keeps offset-log and state-delta fsyncs off disk, and
    * is reclaimed the moment the drain ends; the returned table's rows
    * live in the sink, not the checkpoint.
    *
    * @param noDataBatches keep Spark's trailing no-data micro-batch
    *   (default). A lane whose LAST OUTPUT is watermark-driven — the
    *   sentinel-flushed append aggregations e11/e14/e16, whose final
    *   windows emit in the batch AFTER the sentinel advanced the
    *   watermark — needs it; a lane whose operators emit on data
    *   arrival (fMGWS/TWS state readouts e8/e20, update-mode funnel
    *   e9, dropDuplicates e13, the stream-stream joins e10/e17 with
    *   their dual-sentinel eviction design) pays its full commit
    *   cycle (~0.3–0.7 s) for zero output rows — those pass false
    *   (round 15, guide §1.2; each lane's oracle re-verified). */
  private[graft] def memorySink(parent: SparkSession,
      build: SparkSession => DataFrame,
      prefix: String, mode: OutputMode,
      noDataBatches: Boolean = true): DataFrame = {
    val runner = isolatedRunner(parent)
    if (!noDataBatches)
      runner.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        "false")
    val sink = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckpt = shmCheckpointDir("graft_ckpt")
    try {
      val q = build(runner).writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt)
        .outputMode(mode).start()
      try { q.processAllAvailable() } finally q.stop()
    } finally {
      // the replay is done with its checkpoint the moment the drain ends —
      // reclaim the tmpfs space instead of accumulating a dir per replay
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
    // the sink registers in the runner's session catalog (temp views are
    // session-scoped); the returned frame stays valid — same context
    runner.table(sink)
  }

  /** E8 — deterministic FILE-STREAM REPLAY of a batch event table through
    * the stateful streaming sessionizer, returning the FINAL per-user
    * state for oracle comparison against the batch mirror (e4's SQL).
    *
    * Timestamps are truncated to whole seconds before replay: the
    * streaming state diffs milliseconds while the batch mirror and the
    * DuckDB oracle diff floor-seconds, and on truncated inputs
    * `diff_ms > gap*60000  ⟺  floor-second diff > gap*60` — exactly
    * equivalent, with no boundary disagreement on sub-second gaps.
    * Same-second events for one user produce no session break in either
    * form regardless of intra-second order, so chunk order is the only
    * ordering that matters and the time-range split guarantees it.
    *
    * The append-mode memory sink accumulates one row per touched user per
    * micro-batch; both state fields are monotonically non-decreasing, so
    * the final state is the per-user max — a plain batch aggregate over
    * the sink. */
  def replaySessionize(
      events: DataFrame,
      chunks: Int = 8,
      gapMinutes: Int = 30): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val feed = chunkedReplayDir(
      withSec(events.select(col("user_id"),
        date_trunc("second", col("ts")).as("ts"))), chunks)
    memorySink(spark, r => sessionizeStreaming(
          feed.stream(r).as[SessionEvent], gapMinutes).toDF(),
        "graft_e8_", OutputMode.Append(), noDataBatches = false)
      .groupBy(col("user_id"))
      .agg(max(col("n_sessions")).as("n_sessions"),
        max(col("n_events")).as("n_events"))
  }

  /** E20 — the [[replaySessionize]] harness pointed at the
    * `transformWithState` sessionizer ([[TwsSessionize]]): the declared
    * big-state migration API carries the SAME DuckDB hash-compare
    * evidence as the `flatMapGroupsWithState` primary it replaces (e4's
    * batch-mirror SQL). Same truncation/ordering/read-out contract as
    * e8 — the two forms share `foldSessionEvents`, so a divergence here
    * isolates to the TWS state plumbing, not the gap rule.
    *
    * PROVIDER REQUIREMENT: `transformWithState` runs only on the
    * RocksDB state store (its typed state handles are implemented
    * against it) — set on the replay's ISOLATED runner session, never
    * on the caller's. */
  def replayTwsSessionize(
      events: DataFrame,
      chunks: Int = 8,
      gapMinutes: Int = 30): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val feed = chunkedReplayDir(
      withSec(events.select(col("user_id"),
        date_trunc("second", col("ts")).as("ts"))), chunks)
    memorySink(spark, { r =>
        r.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider")
        TwsSessionize.sessionize(
          feed.stream(r).as[SessionEvent], gapMinutes).toDF()
      }, "graft_e20_", OutputMode.Append(), noDataBatches = false)
      .groupBy(col("user_id"))
      .agg(max(col("n_sessions")).as("n_sessions"),
        max(col("n_events")).as("n_events"))
  }

  private val replayCols = Seq("event_id", "ts", "user_id", "event_type")

  /** File-stream replay of the stream-stream interval join
    * ([[followsWithin]]): purchase and click streams read from the same
    * replayed chunk files, joined within `windowSec`, and the appended
    * match set must equal the batch interval join — the oracle form of
    * the hardest streaming shape. Watermark (1 h) far exceeds the join
    * window, and replay is in event-time order, so no match is evicted
    * early and none arrives late. */
  def replayFollows(
      events: DataFrame,
      chunks: Int = 6,
      windowSec: Long = 300): DataFrame = {
    val spark = events.sparkSession
    val feed = chunkedReplayDir(
      withSec(events.select(replayCols.map(col): _*)), chunks)
    memorySink(spark, { r =>
        // ONE file source shared by both legs (round 15): two readStream
        // instances over the same dir each paid their own per-batch
        // offset resolution, seen-files log, and WAL entry; the self-join
        // legs differ only in their type filter, which sits downstream
        val stream = feed.stream(r)
        def side(tpe: String) = stream.where(col("event_type") === tpe)
        followsWithin(side("purchase"), side("click"), windowSec)
      },
        // an INNER interval join emits each match the moment the later
        // side arrives — the trailing no-data batch only evicts state
        // and contributes no output row (round 15; see memorySink)
        "graft_e10_", OutputMode.Append(), noDataBatches = false)
      .select(col("p_event_id"), col("p_user_id"), col("p_ts"), col("e_ts"))
  }

  /** E17 — file-stream replay of the stream-stream LEFT OUTER interval
    * join: [[followsWithin]] with `left_outer`, where a purchase that no
    * click follows within the window must emit a null-extended row — but
    * only once the watermark proves no match can still arrive. That
    * emission is WATERMARK-DRIVEN state eviction, the semantics this
    * replay pins: an unmatched purchase at `p_ts` leaves the state store
    * when the global watermark (min over both sides' watermark nodes)
    * passes `p_ts + windowSec`, so the replay appends dual sentinel
    * batches on BOTH sides — the type filters sit upstream of the
    * watermark nodes, so a sentinel must survive its side's filter to
    * advance that side's watermark — far enough past the horizon
    * (`windowSec + delay + slack`) that every real purchase evicts
    * before the drain ends. Dual, because a batch admits with the
    * PREVIOUS batch's watermark and evicts with the current one (the
    * e16 measurement): sentinel #2 carries the advanced watermark into
    * the eviction position. Sentinel users are negative (never joinable
    * with real rows) and filtered from the result; the purchase-side
    * sentinel's own unmatched row can never emit (nothing ever passes
    * ITS horizon). With event-time-ordered replay and delay >> 0, no
    * real match is evicted early and none arrives late, so the appended
    * set must equal the batch LEFT JOIN — e17's DuckDB oracle. */
  def replayFollowsOuter(
      events: DataFrame,
      chunks: Int = 6,
      windowSec: Long = 300): DataFrame = {
    val spark = events.sparkSession
    def sentinels(sec: Long) = {
      def row(id: Long, uid: Long, tpe: String) = spark.range(1).select(
        lit(id).as("event_id"),
        timestamp_seconds(lit(sec)).as("ts"),
        lit(uid).as("user_id"),
        lit(tpe).as("event_type"))
      row(-1L, -1L, "click").unionByName(row(-2L, -2L, "purchase"))
    }
    val horizon = windowSec + 3600 + 60
    val feed = chunkedReplayDir(
      withSec(events.select(replayCols.map(col): _*)), chunks,
      hi => Seq(sentinels(hi + horizon), sentinels(hi + horizon + 60)))
    memorySink(spark, { r =>
        // ONE file source shared by both legs — see replayFollows
        val stream = feed.stream(r)
        def side(tpe: String) = stream.where(col("event_type") === tpe)
        followsWithin(side("purchase"), side("click"), windowSec,
          "left_outer")
      },
        // the trailing no-data batch is pure cost here too: every real
        // purchase evicts while the tail sentinel batch processes (the
        // dual-sentinel design exists precisely so no emission waits
        // for a post-tail batch), and the sentinels' own null-extended
        // rows are filtered by user sign; oracle re-verified (round 15)
        "graft_e17_", OutputMode.Append(), noDataBatches = false)
      .where(col("p_user_id") >= 0)
      .select(col("p_event_id"), col("p_user_id"), col("p_ts"), col("e_ts"))
  }

  /** File-stream replay of the funnel (the [[replaySessionize]] harness
    * pointed at [[funnelStreaming]]): the events table split into
    * time-range chunks, replayed as real micro-batches, final per-user
    * state compared against the batch funnel — so stream-equals-batch is
    * an ORACLE row (f1's SQL verbatim), not only a spec assertion.
    *
    * Chunks split on whole seconds, so same-second events (which the µs
    * sort inside [[funnelStreaming]] orders) never straddle a batch, and
    * cross-batch arrival is in event-time order by construction. The
    * funnel stage is monotone non-decreasing per user, so the final state
    * is the per-user max over the append sink.
    */
  def replayFunnel(events: DataFrame, chunks: Int = 8): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val feed = chunkedReplayDir(
      withSec(events.select(replayCols.map(col): _*)), chunks)
    memorySink(spark, r => funnelStreaming(
          feed.stream(r).as[FunnelEvent]).toDF(),
        "graft_e9_", OutputMode.Update(), noDataBatches = false)
      .groupBy(col("user_id"))
      .agg(max(col("funnel_stage")).as("funnel_stage"))
  }

  /** E13 — streaming exactly-once ingestion dedup under at-least-once
    * delivery: every third event is re-delivered 30 minutes late (same
    * event_id — the retry shape), and the stream drops the duplicates
    * with `dropDuplicatesWithinWatermark` keyed on event_id. The 2 h
    * watermark bounds the dedup state: a key's fingerprint is held only
    * until the watermark passes it, so state is O(events per 2 h window),
    * not O(stream) — the property that makes streaming dedup viable at
    * 100 TB/day. Output is each event exactly once; duplicates differ
    * only in ts and ts is not emitted, so which physical copy survives a
    * same-batch race is unobservable and the oracle is simply the clean
    * base table. Re-deliveries land at most 30 min after their original
    * while the watermark trails 2 h, so no retry can arrive behind the
    * watermark and leak through as a fresh row.
    */
  def replayDedup(events: DataFrame, chunks: Int = 6): DataFrame = {
    val spark = events.sparkSession
    val src = events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
    val retries = src.where(col("event_id") % 3 === 0)
      .withColumn("ts", timestamp_seconds(col("ts").cast("long") + 1800L))
    val feed = chunkedReplayDir(withSec(src.unionByName(retries)), chunks)
    memorySink(spark, r => feed.stream(r)
        .withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark("event_id")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value")),
      "graft_e13_", OutputMode.Append(), noDataBatches = false)
  }

  /** File-stream replay of the watermarked tumbling-window aggregation:
    * real micro-batches through [[windowedAgg]] in APPEND mode — windows
    * only emit once the watermark passes them, which is the production
    * streaming contract. A far-future sentinel event (3 h past the end,
    * filtered back out of the result) advances the watermark so the last
    * real windows flush. Final emitted windows == the batch mirror (e3's
    * oracle SQL verbatim). */
  def replayWindowed(events: DataFrame, chunks: Int = 6): DataFrame =
    replayAggregated(events, chunks, windowedAgg(_), "graft_e11_")

  /** E14 — the hopping-window form of [[replayWindowed]]: same append-mode
    * watermark-gated emission contract, but every event feeds two
    * overlapping windows, so the replay proves the 2× state bookkeeping
    * flushes exactly once per (window, type) with no duplicate or lost
    * emissions across micro-batch boundaries. */
  def replayHopping(events: DataFrame, chunks: Int = 6): DataFrame =
    replayAggregated(events, chunks, hoppingAgg(_), "graft_e14_")

  /** E16 — LATE-DATA accounting: the `event_id % 7 = 0` slice is withheld
    * from the in-order replay and delivered in one final micro-batch
    * after the watermark has passed every real window. The watermark
    * contract requires the aggregation to DROP all of it — closed
    * windows never reopen, no duplicate emissions — so the final sink
    * must equal the batch aggregation over the on-time slice alone,
    * which is what the oracle states. (e13 proves the dual: redelivery
    * WITHIN the watermark horizon dedups; this proves arrival BEYOND it
    * excludes.)
    *
    * TWO far-future sentinels precede the late batch, not one: since the
    * two-watermark model (SPARK-24634), a batch filters late input with
    * the PREVIOUS batch's watermark and evicts with the current one — so
    * the batch after sentinel #1 still admits rows into the newest
    * window (late filter trails at max - delay; measured before this
    * went dual-sentinel). Sentinel #2 carries the advanced watermark
    * into the late-filter position, and the late batch then drops
    * everything with a >= 1 h margin — no window-end/watermark boundary
    * case to depend on. */
  def replayLateWindowed(events: DataFrame, chunks: Int = 6): DataFrame = {
    val spark = events.sparkSession
    val src = events.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))
    val onTime = src.where(col("event_id") % 7 =!= 0)
    val late = src.where(col("event_id") % 7 === 0)
    // its own probe: the sentinel margin is measured from the max over
    // on-time AND late rows, not the on-time slice the feed bounds
    val (_, hi) = secRange(withSec(src))
    val feed = chunkedReplayDir(withSec(onTime), chunks, _ => Seq(
      flushSentinel(spark, hi + 10800L, id = -1L),
      flushSentinel(spark, hi + 10860L, id = -2L), late))
    memorySink(spark, r => windowedAgg(feed.stream(r)),
        "graft_e16_", OutputMode.Append())
      .where(col("event_type") =!= "__flush")
  }

  /** E15 — STREAMING incremental near-dup: the ingest-time dedup pattern
    * end to end. The "new crawl" slice (doc_id % 7 = 3) replays as real
    * micro-batches; each batch runs the banded MinHash probe against the
    * STATIC accepted corpus inside foreachBatch (exactly how a production
    * ingest job composes a batch operator with a stream), and its
    * verified pairs append to the accepted-pairs table. Batches cover
    * disjoint id ranges, so the accumulated table must equal the one-shot
    * batch form — d13's oracle SQL verbatim. State is the corpus index
    * (static, shared across batches); the stream itself carries none.
    */
  def replayIncrementalDedup(docs: DataFrame, chunks: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    val batchSide = docs.where(col("doc_id") % 7 === 3)
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 7 =!= 3)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val feed = chunkedReplayDir(
      batchSide.withColumn("__sec", col("doc_id")), chunks)
    val outDir = replayTempRoot("graft_e15_out").toString
    // seed the sink with the empty schema so an all-clean replay still reads
    val pairSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("batch_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("corpus_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("jaccard",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      pairSchema).write.mode("overwrite").parquet(s"$outDir/bseed")
    // the stream (and so each foreachBatch invocation's planning) lives
    // on an isolated child session — the 4-partition replay conf never
    // touches the caller's session (same posture as memorySink)
    val runner = isolatedRunner(spark)
    // the trailing no-data batch invokes foreachBatch on an EMPTY batch,
    // which still runs the whole LSH candidate pipeline for zero rows
    // and writes an empty b<N> dir the union reader ignores — pure cost
    // (round 15; see memorySink's noDataBatches note)
    runner.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      "false")
    val stream = feed.stream(runner)
    val ckpt = shmCheckpointDir("graft_ckpt")
    try {
      val q = stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                         batchId: Long) =>
          // per-batch dir + overwrite = idempotent under foreachBatch's
          // at-least-once contract: a batch re-executed after a crash
          // clobbers its own first attempt instead of appending a
          // duplicate slice into the accepted-pairs table (the
          // streamingUpsert round-10 finding, applied here)
          graft.operators.Dedup.minhashNearDupsAgainst(
              corpus, batch, "doc_id", "text", threshold)
            .write.mode("overwrite").parquet(s"$outDir/b$batchId")
          ()
        }
        .option("checkpointLocation", ckpt).start()
      try { q.processAllAvailable() } finally q.stop()
    } finally
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt)): Unit
    // explicit batch-dir list, not the "$outDir/b*" glob: DataSource
    // probes a glob path for a FileStreamSink metadata dir and logs a
    // WARN + full stack trace on the miss — ~700 of them per bench run
    val batchDirs = Option(new java.io.File(outDir).list())
      .getOrElse(Array.empty).filter(_.matches("b\\w+")).sorted
      .map(b => s"$outDir/$b")
    spark.read.parquet(batchDirs.toIndexedSeq: _*)
  }

  /** Replay temp roots awaiting JVM-exit deletion — restart sinks on
    * tmpfs (see [[replayRestart]]), chunked replay inputs, and upsert
    * version tables; a returned DataFrame may read them lazily, so
    * exit is the earliest safe reclaim point. The hook installs once. */
  private val restartRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()
  private lazy val restartCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      restartRoots.forEach(r =>
        org.apache.commons.io.FileUtils.deleteQuietly(r): Unit)))
  private def registerRestartRoot(root: java.io.File): Unit = {
    restartCleanupHook
    restartRoots.add(root): Unit
  }

  /** E18 — RESTART RECOVERY: the exactly-once ingest pipeline (exact
    * streaming dedup in front of the watermarked tumbling-window
    * aggregation) run as TWO separate streaming queries over ONE
    * checkpoint and ONE fault-tolerant parquet sink. This is the
    * `Trigger.AvailableNow` incremental-job posture a production feed
    * actually runs on — start, drain what's there, stop, restart on the
    * next cadence — and it is the contract every other replay assumes
    * but none proves: that the checkpoint alone carries the state.
    *
    * Phase 1 delivers the first half of the chunks as real one-file
    * micro-batches and TERMINATES. Phase 2 builds a FRESH query (new
    * source, new plan objects, same checkpoint + sink) whose input now
    * also carries a byte-identical REDELIVERY of phase-1's first chunk.
    * Exactly-once across the restart then requires recovered state on
    * three axes:
    *  - the dedup operator (`dropDuplicates("event_id")`, no event-time
    *    column in the key set, so its state is never watermark-evicted
    *    and the dedup is exact at any lateness) must drop redeliveries
    *    it first saw BEFORE the restart;
    *  - windows straddling the restart boundary must emit ONE row with
    *    the full count — only recovered aggregation state can produce
    *    it (phase 1 flushed nothing past its own watermark);
    *  - the watermark itself must resume from the offset log, or the
    *    redelivered old chunk would re-open closed windows.
    * The parquet sink's `_spark_metadata` commit log makes the FILE
    * output exactly-once in turn (a batch replayed after a crash
    * overwrites, never duplicates), and the result reads the sink back
    * through that log. Dedup state is O(distinct ids) per key group —
    * at 100 TB/day the bounded form is e13's
    * `dropDuplicatesWithinWatermark`; exact dedup here keeps the
    * restart proof independent of watermark timing.
    *
    * Dual far-future sentinels flush the tail (the SPARK-24634
    * two-watermark model: the late filter trails one batch behind —
    * see [[replayLateWindowed]]). Final rows == the batch windowed
    * aggregation over the clean base table (e3's oracle verbatim: base
    * event_ids are unique, so every redelivered row must vanish).
    *
    * `betweenDrains(ckptDir, outDir)` runs after query 1 terminates and
    * before query 2 starts — a no-op in production (and in the e18
    * oracle row). EventStreamSpec uses it to simulate the CRASH WINDOW:
    * deleting the newest entry of the checkpoint's commit log leaves a
    * batch whose offsets are logged but whose completion is not — the
    * exact state a crash between sink write and commit leaves behind —
    * so query 2 must RE-EXECUTE that batch against a sink that already
    * holds its output, and the sink's own commit log must keep the
    * first attempt's files out of every read (re-run output replaces,
    * never duplicates). */
  def replayRestart(events: DataFrame, chunks: Int = 6,
      betweenDrains: (String, String) => Unit = (_, _) => ()): DataFrame = {
    val spark = events.sparkSession
    val src = withSec(events.select(col("event_id"),
      date_trunc("second", col("ts")).as("ts"),
      col("user_id"), col("event_type"), col("value")))
    val (lo, hi, span) = persistSecBounds(src)
    // input chunks, sink, and checkpoint all live on tmpfs when
    // available: the replay is ~11 micro-batches of tiny files whose
    // cost is fsync, not bytes (same rationale as memorySink's ckpt).
    // The root is registered for deletion at JVM exit — outDir must
    // outlive this call (the returned DataFrame reads it lazily), so
    // per-call cleanup can only reclaim ckpt and inDir; without the
    // exit hook each verify/bench/soak rep would strand a RAM-resident
    // sink dir until reboot (round-10 review finding).
    val root = replayTempRoot("graft_restart", tmpfs = true)
    val inDir = root.resolve("in").toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString

    // one micro-batch per delivery, across BOTH query incarnations. ALL
    // chunks and both flush sentinels stage in ONE Spark job up front
    // (round 15, guide §1.2 — the per-chunk filter+coalesce(1) loop paid
    // 9 scheduling rounds per call); the phases below just move/copy
    // staged files, no Spark jobs. Chunk 0 is delivered with keep=true
    // so its phase-2 redelivery is the SAME staged file — byte-identical
    // by construction rather than by parquet write determinism.
    val w = new ChunkWriter(inDir)
    val stager = new ChunkStager(src, stagedCols(src), chunks, lo, span,
      // DISTINCT sentinel ids: the pipeline dedups on event_id, so a
      // shared id would drop sentinel #2 in-flight and the
      // two-watermark handoff would ride on the dedup's leniency
      // instead of the documented mechanism (round-10 review finding)
      extras = Seq(flushSentinel(spark, hi + 10800L, id = -1L),
        flushSentinel(spark, hi + 10860L, id = -2L)))
    val feed = ReplayFeed(inDir, stager.schema)

    // Both queries build from one [[isolatedRunner]] child session, so
    // the checkpoint sees one consistent conf across the two
    // incarnations — and the caller's state-store provider choice
    // actually reaches them (the round-10 A/B gap). No-data batches
    // are off: every emission here is data-driven (the dual sentinels
    // carry the watermark), so AvailableNow's no-data flush batches
    // are pure commit-cycle cost.
    val runner = isolatedRunner(spark)
    runner.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")

    // a fresh query per call — nothing driver-side survives between the
    // two drains except the checkpoint and the sink
    def drain(): Unit = {
      val q = windowedAgg(feed.stream(runner).dropDuplicates("event_id"))
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    try {
      val half = chunks / 2
      (0 until half).foreach(i => stager.deliver(w, i, keep = i == 0))
      drain() // query 1: first tranche, then stops
      betweenDrains(ckpt, outDir)
      // byte-identical redelivery across the restart (keep: the staged
      // file must survive for the (half until chunks) loop when
      // chunks < 2 makes this the FIRST delivery of chunk 0; close()
      // reclaims it either way)
      stager.deliver(w, 0, keep = true)
      (half until chunks).foreach(stager.deliver(w, _))
      stager.deliver(w, chunks)     // flush sentinel #1
      stager.deliver(w, chunks + 1) // flush sentinel #2
      drain() // query 2: fresh plan, recovered checkpoint
    } finally {
      stager.close()
      src.unpersist()
      // reclaim the tmpfs input and checkpoint; outDir stays — the
      // returned DataFrame reads it lazily through its commit log
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(inDir))
    }
    spark.read.parquet(outDir).where(col("event_type") =!= "__flush")
  }

  /** E19 — CONTINUOUS INGEST into the versioned memory table: the
    * reference's upsert endpoint (src/vector_store.rs:215-255) run as a
    * streaming feed end to end. The events table replays as real
    * micro-batches; each batch is first reduced to its latest update
    * per user with a deterministic (ts, event_id, value) struct-max
    * tie-break — the ingest discipline
    * [[graft.operators.MemoryOps.upsertById]]'s within-batch contract
    * requires; value participates so a redelivered (ts, event_id) pair
    * carrying a different value still reduces deterministically on
    * BOTH engines — then LWW-merged into a new
    * immutable version directory (v0, v1, ...). Chunks split by event
    * time, so a user's globally latest update lives in that user's
    * last batch and survives every later merge: the FINAL version must
    * equal the per-user argmax over the whole table, which is exactly
    * what the oracle states. At scale each version rewrite is
    * partition-pruned to the id-buckets the batch touched (see
    * [[VersionedTable.streamingUpsert]]); the replay proves the merge
    * semantics. */
  def replayUpsert(events: DataFrame, chunks: Int = 6): DataFrame = {
    val root = ingestReplay(events, chunks, "graft_upsert_tbl") {
      (stream, tbl, ckpt) => VersionedTable.streamingUpsert(stream, tbl,
        "user_id", reduceBatch = lwwReduceByUser, checkpoint = Some(ckpt))
    }
    events.sparkSession.read.parquet(VersionedTable.latestUpsertVersion(root))
      .select(col("user_id"), col("event_id"),
        round(col("value"), 6).as("value"))
  }

  /** E19B — the BUCKETED form of [[replayUpsert]]: the same per-batch
    * latest-per-key reduction and LWW semantics, ingested through
    * [[VersionedTable.streamingUpsertBucketed]] so every micro-batch
    * merge is partition-pruned to the id-buckets it touches — the
    * 100-TB ingest posture under the same DuckDB oracle as the plain
    * form. The final
    * state (newest committed version of every bucket) must equal the
    * per-user argmax over the whole table, bucket layout invisible. */
  def replayUpsertBucketed(events: DataFrame, chunks: Int = 6,
      nBuckets: Int = 32): DataFrame = {
    val spark = events.sparkSession
    val root = ingestBucketedReplay(events, chunks, nBuckets,
      "graft_upsertb_tbl")
    VersionedTable.latestBucketedUpsert(spark, root)
      .select(col("user_id"), col("event_id"),
        round(col("value"), 6).as("value"))
  }

  /** The ONE copy of the single-drain ingest block (chunked time-range
    * replay of the (event_id, ts, user_id, value) feed → the writer
    * `start(stream, tableRoot, checkpoint)` starts, drained clean): e19
    * starts [[VersionedTable.streamingUpsert]], the bucketed lanes
    * (e19b/e21/e23/e24, through [[ingestBucketedReplay]])
    * [[VersionedTable.streamingUpsertBucketed]], and beyond that they
    * differ only in HOW they read the table back, so the ingest they
    * read from must be incapable of drifting between them. Returns the
    * table root (temp, reclaimed at JVM exit: version snapshots are
    * O(users) each and the soak runs these lanes at 10x
    * keys twice per factor — round-10 review finding). */
  private def ingestReplay(events: DataFrame, chunks: Int, prefix: String)(
      start: (DataFrame, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery): String = {
    val feed = chunkedReplayDir(withSec(events.select(col("event_id"),
      col("ts"), col("user_id"), col("value"))), chunks)
    val root = replayTempRoot(prefix).toString
    // ingest on an [[isolatedRunner]] with a tmpfs checkpoint (round 14,
    // guide §2/§6): replay state is tiny, so the 4-partition child
    // session cuts every merge stage's task count 8x, and the dead-the-
    // moment-it-drains checkpoint stops paying disk fsync per batch.
    // The TABLE root stays on real disk — the lane prices real bytes.
    val runner = isolatedRunner(events.sparkSession)
    drainAndAwait(runner, start(feed.stream(runner), root,
      shmCheckpointDir("graft_ingest_ckpt")))
    // the ckpt dir is NOT reclaimed here: the e21/e24 vacuum lanes'
    // drained-checkpoint guard must still resolve the `_OWNER` path to
    // prove no batch is in flight. It is a few KB of tmpfs, reclaimed
    // at JVM exit with the table root.
    root
  }

  /** [[ingestReplay]] into a [[VersionedTable.streamingUpsertBucketed]]
    * table. */
  private def ingestBucketedReplay(events: DataFrame, chunks: Int,
      nBuckets: Int, prefix: String): String =
    ingestReplay(events, chunks, prefix) { (stream, tbl, ckpt) =>
      VersionedTable.streamingUpsertBucketed(stream, tbl, "user_id",
        nBuckets, reduceBatch = lwwReduceByUser, checkpoint = Some(ckpt))
    }

  /** E23 — POINT LOOKUP on the ingested store under the oracle: the
    * bucketed ingest of [[replayUpsertBucketed]], then ONE planted
    * user's latest state read back through
    * [[VersionedTable.bucketedPointLookup]]'s O(bucket) path — the
    * read-side half of the reference's get-by-id against the versioned
    * store (S2, src/session_store.rs:127-136),
    * the last maintenance-surface read that was pinned only by specs.
    * The oracle is the e19 argmax SQL restricted to the planted user.
    *
    * The SCALE claim is asserted in-row, not in prose: the lookup's
    * physical plan must contain exactly ONE parquet scan whose root is
    * a single `b<k>/v<n>` bucket-version dir (never the table), and
    * the id equality must reach that scan as a pushed filter — a plan
    * that widened to the table or lost the pushdown fails every
    * verify/bench run loudly. */
  def replayUpsertPointLookup(events: DataFrame, chunks: Int = 6,
      nBuckets: Int = 32, userId: Long = 1L): DataFrame = {
    val spark = events.sparkSession
    val root = ingestBucketedReplay(events, chunks, nBuckets,
      "graft_upsertp_tbl")
    val hit =
      VersionedTable.bucketedPointLookup(spark, root, "user_id", userId)
    assertPointLookupPlan(hit, "user_id")
    hit.select(col("user_id"), col("event_id"),
      round(col("value"), 6).as("value"))
  }

  /** The ONE copy of the point-lookup family's in-row SCALE assertion
    * (e23/e24): the physical plan must contain exactly one parquet
    * scan rooted at a single `b<k>/v<n>` bucket-version dir — O(bucket),
    * never O(table) — with the id equality pushed to the scan. Shared
    * so the latest and as-of lanes assert the same contract and cannot
    * drift apart. */
  private def assertPointLookupPlan(hit: DataFrame, idCol: String): Unit = {
    val scans = hit.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    val paths = scans.flatMap(_.relation.location.rootPaths.map(_.toString))
    require(paths.size == 1 && paths.head.matches(".*/b\\d+/v\\d+"),
      s"the point lookup must read exactly ONE bucket version dir " +
        s"(O(bucket), not O(table)) — scanned $paths")
    require(scans.exists(_.metadata.get("PushedFilters")
        .exists(_.contains(s"EqualTo($idCol"))),
      "the id equality must reach the parquet scan as a pushed filter")
  }

  /** E24 — the AS-OF POINT LOOKUP under the oracle: the shared
    * bucketed ingest, then ONE planted user's state at a MID-FEED
    * batch boundary read through
    * [[VersionedTable.bucketedPointLookupAsOf]]'s single-dir path — the
    * composition of e23 (S2 get-by-id, O(bucket)) and e21 (time travel)
    * the round-13 verdict named as the one un-pinned composition of two
    * pinned postures. The oracle is e21's prefix argmax SQL restricted
    * to the planted user.
    *
    * Three contracts ride in the row, asserted on every verify and
    * bench run:
    *  - the SAME single-bucket-version-dir + pushed-filter plan shape
    *    as e23 ([[assertPointLookupPlan]] — one copy);
    *  - the as-of answer actually DIFFERS from the latest answer for
    *    this user (fixture-verified at every sf: the planted user's
    *    latest event lands after the boundary), so the row can never
    *    pass vacuously as a re-run of e23;
    *  - the LOUD-HORIZON refusal: after a keep-1
    *    [[VersionedTable.vacuumBucketed]] destroys the history, the
    *    SAME lookup must fail on the raised horizon — never a silently
    *    stale answer. */
  def replayUpsertPointLookupAsOf(events: DataFrame, chunks: Int = 6,
      asOfBatch: Long = 2, nBuckets: Int = 32,
      userId: Long = 1L): DataFrame = {
    val spark = events.sparkSession
    val root = ingestBucketedReplay(events, chunks, nBuckets,
      "graft_upsertpa_tbl")
    val hit = VersionedTable.bucketedPointLookupAsOf(spark, root,
      "user_id", userId, asOfBatch)
    assertPointLookupPlan(hit, "user_id")
    // materialize BEFORE the horizon lane destroys the version it
    // reads — the parquet read is lazy
    val snapshot = hit.select(col("user_id"), col("event_id"),
      round(col("value"), 6).as("value")).localCheckpoint(true)
    val latest =
      VersionedTable.bucketedPointLookup(spark, root, "user_id", userId)
      .select(col("event_id")).head().getLong(0)
    val asOfEvent = snapshot.select(col("event_id")).head().getLong(0)
    require(asOfEvent != latest,
      s"the as-of lookup must answer from the PREFIX, not the latest " +
        s"state (both returned event $latest) — the fixture plants a " +
        "later event for this user past the boundary")
    requireLoudHorizon(root, s"as-of $asOfBatch must fail LOUDLY once " +
      "vacuum raised the retention horizon past it — a quiet answer here " +
      "would be a silently stale point read") {
      VersionedTable.bucketedPointLookupAsOf(spark, root, "user_id", userId,
        asOfBatch)
    }
    snapshot
  }

  /** E21 — TIME TRAVEL under the oracle: the bucketed ingest of
    * [[replayUpsertBucketed]], then [[VersionedTable.bucketedUpsertAsOf]]
    * read at a MID-FEED batch boundary. Chunk construction is deterministic
    * (time-range split over `[lo, hi]`), so batch `asOfBatch` = chunk
    * `asOfBatch`, and the snapshot after it must equal the per-user
    * argmax restricted to the EVENT PREFIX of the first
    * `asOfBatch + 1` chunks — exactly the SQL the DuckDB oracle
    * states (`floor-second < lo + span·(asOfBatch+1)/chunks`). The
    * reference's versioned memory table IS this store; a
    * point-in-time read is the natural extension the spec-only
    * maintenance surface still owed the hash compare (round-11 ask).
    *
    * The LOUD-HORIZON lane rides in the same row: after the snapshot
    * is materialized, a keep-1 [[VersionedTable.vacuumBucketed]]
    * destroys the history it stitched, and the SAME as-of read must now fail
    * loudly on the raised `_RETENTION_HORIZON` — never a silently
    * partial stitch. Both halves are asserted on every verify and
    * bench run, not only in a spec. */
  def replayUpsertAsOf(events: DataFrame, chunks: Int = 6,
      asOfBatch: Long = 2, nBuckets: Int = 16): DataFrame = {
    val spark = events.sparkSession
    val root = ingestBucketedReplay(events, chunks, nBuckets,
      "graft_upserta_tbl")
    // materialize the snapshot BEFORE the horizon lane destroys the
    // versions it stitches — the parquet read is lazy
    val snapshot = VersionedTable.bucketedUpsertAsOf(spark, root, asOfBatch)
      .select(col("user_id"), col("event_id"),
        round(col("value"), 6).as("value"))
      .localCheckpoint(true)
    requireLoudHorizon(root, s"as-of $asOfBatch must fail LOUDLY once " +
      "vacuum raised the retention horizon past it — a quiet answer here " +
      "would be a silently partial stitch") {
      VersionedTable.bucketedUpsertAsOf(spark, root, asOfBatch)
    }
    snapshot
  }

  /** The LOUD-HORIZON lane of e21 and e24, in one place: a keep-1
    * [[VersionedTable.vacuumBucketed]] of `root`, then `read` (an as-of
    * read the vacuum retired) must fail on the raised retention horizon;
    * a quiet answer fails the lane with `quietMessage`. */
  private def requireLoudHorizon(root: String, quietMessage: String)(
      read: => Any): Unit = {
    VersionedTable.vacuumBucketed(root, keep = 1)
    val loud =
      try { read; false }
      catch {
        case e: IllegalArgumentException
          if e.getMessage.contains("retention horizon") => true
      }
    require(loud, quietMessage)
  }

  /** E22 — SCHEMA-DRIFT-TOLERANT ingest under the oracle: the bucketed
    * feed of [[replayUpsertBucketed]] run as TWO incarnations over one
    * checkpoint and one table, where the SECOND incarnation's chunks
    * carry an ADDED column (`etype`) — the long-lived-feed reality the
    * `tolerateSchemaDrift` flag exists for (a file stream's schema is
    * fixed per query, so a feed that gains a field arrives as a
    * restart with a wider reader — exactly how production rolls it
    * out). The widening contract this row pins, against the DuckDB
    * mirror with explicit null-fill:
    *  - the table WIDENS instead of killing the query (additive drift);
    *  - LWW stays ROW-wise: a user whose latest update predates the
    *    new column gets `etype` NULL (rows win, not fields), and a
    *    user updated after it gets that update's value;
    *  - era stitching: buckets last written before the drift read back
    *    null-filled through the manifest-union readers.
    *
    * The era-2 feed EXCLUDES the `user_id % 5 = 0` cohort (they
    * churned before the field shipped) — without it every fixture
    * user's latest event lands after the boundary and the
    * null-etype branch of the contract would go untested; with it
    * ~20% of the final rows must carry the era-1 NULL. */
  def replayUpsertDrift(events: DataFrame, chunks: Int = 6,
      nBuckets: Int = 16): DataFrame = {
    val spark = events.sparkSession
    val src = withSec(events.select(col("event_id"), col("ts"),
      col("user_id"), col("value"),
      col("event_type").as("etype")))
    val (lo, _, span) = persistSecBounds(src)
    val root = replayTempRoot("graft_upsertd_tbl")
    val inDir = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    // both incarnations ingest on ONE [[isolatedRunner]] (consistent
    // conf across the restart, the replayRestart posture) with the
    // cross-incarnation checkpoint on tmpfs — commit-log fsyncs are
    // per-batch dead weight; the widened TABLE stays on real disk
    val runner = isolatedRunner(spark)
    val ckpt = shmCheckpointDir("graft_upsertd_ckpt")
    val w = new ChunkWriter(inDir)
    def drain(stager: ChunkStager): Unit = {
      val q = VersionedTable.streamingUpsertBucketed(
        ReplayFeed(inDir, stager.schema).stream(runner), tbl, "user_id",
        nBuckets,
        reduceBatch = lwwReduceByUser, checkpoint = Some(ckpt),
        tolerateSchemaDrift = true)
      drainAndAwait(runner, q)
    }
    // Each era's chunks stage in ONE Spark job (round 15, guide §1.2 —
    // was one filter+coalesce(1) job per chunk). The eras stay separate
    // staged writes: they project different widths (era 2 gains `etype`)
    // and era 2 drops the %5 cohort. Each stager sees only its era's
    // time range, so the chunk ids outside it stage no file and are
    // never delivered.
    val half = chunks / 2
    val eraBound = chunkBounds(lo, span, chunks, half)._1
    val era1 = src.where(col("__sec") < eraBound).drop("etype")
    val era2 =
      src.where(col("__sec") >= eraBound).where(col("user_id") % 5 =!= 0)
    val stager1 = new ChunkStager(era1, stagedCols(era1), chunks, lo, span)
    val stager2 = new ChunkStager(era2, stagedCols(era2), chunks, lo, span)
    try {
      // era 1: the feed before the field existed
      (0 until half).foreach(stager1.deliver(w, _))
      drain(stager1)
      // era 2: the feed gained `etype`; the restarted reader is wider
      // (the checkpoint's seen-files log keeps era-1 files out of it).
      // The %5 cohort churned in era 1 — their final rows must read
      // back with the era-1 NULL
      (half until chunks).foreach(stager2.deliver(w, _))
      drain(stager2)
    } finally {
      stager1.close()
      stager2.close()
      src.unpersist(): Unit
    }
    VersionedTable.latestBucketedUpsert(spark, tbl)
      .select(col("user_id"), col("event_id"),
        round(col("value"), 6).as("value"), col("etype"))
  }

  /** The e19-family per-batch reduction, in ONE place for all the
    * ingest replays (plain, bucketed, rebucket, as-of, drift):
    * collapse a micro-batch to its latest update per user with the
    * deterministic (ts, event_id, value) struct-max tie-break — the
    * contract the DuckDB oracle mirrors token-for-token; a copy
    * drifting in one replay would silently diverge that lane from its
    * siblings. Columns beyond the tie-break trio (e22's drifted
    * `etype`) ride BEHIND it in the struct and never participate in
    * the ordering (event_ids are unique, so the trio is already a
    * total order); with no extras the plan is the round-11 original. */
  private def lwwReduceByUser(b: DataFrame): DataFrame = {
    val extras = b.columns.toSeq
      .filterNot(Set("user_id", "ts", "event_id", "value"))
    val fields = Seq("ts", "event_id", "value") ++ extras
    b.groupBy(col("user_id"))
      .agg(max(struct(fields.map(col): _*)).as("m"))
      .select(col("user_id") +: fields.map(f => col(s"m.$f").as(f)): _*)
  }

  /** E19C — REBUCKET MID-INGEST: the bucketed ingest of
    * [[replayUpsertBucketed]] interrupted after its first tranche by
    * the table-growth maintenance cadence — stop the query clean,
    * [[VersionedTable.rebucketUpsert]] the layout to 4× the buckets (the
    * fixed-bucket-size response to a table that grew), then RESUME the same
    * checkpoint. The resumed incarnation still passes the stale seed
    * count; the new generation's `_NBUCKETS` must govern, its merges
    * must prune against the re-hashed buckets, and the final state
    * must equal the same per-user argmax oracle as e19/e19b — the
    * whole maintenance window invisible in the data. */
  def replayUpsertRebucket(events: DataFrame, chunks: Int = 6,
      nBuckets: Int = 8, newBuckets: Int = 32): DataFrame = {
    val spark = events.sparkSession
    val src = withSec(events.select(col("event_id"), col("ts"),
      col("user_id"), col("value")))
    val (lo, _, span) = persistSecBounds(src)
    val root = replayTempRoot("graft_upsertr_tbl")
    val inDir = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    // one [[isolatedRunner]] for both incarnations, checkpoint on tmpfs
    // (round 14 — the replayRestart/memorySink posture; the rebucketed
    // TABLE and its generation rewrite stay on real disk)
    val runner = isolatedRunner(spark)
    val ckpt = shmCheckpointDir("graft_upsertr_ckpt")
    val w = new ChunkWriter(inDir)
    // ONE Spark job stages every chunk up front (round 15, guide §1.2 —
    // was one filter+coalesce(1) job per chunk); the two incarnations
    // then just move staged files into the delivery dir
    val stager = new ChunkStager(src, stagedCols(src), chunks, lo, span)
    val feed = ReplayFeed(inDir, stager.schema)
    def drain(): Unit = {
      // the seed bucket count is passed UNCHANGED across the rebucket —
      // proving the metadata, not the call site, owns the layout
      val q = VersionedTable.streamingUpsertBucketed(feed.stream(runner),
        tbl, "user_id", nBuckets,
        reduceBatch = lwwReduceByUser, checkpoint = Some(ckpt))
      drainAndAwait(runner, q)
    }
    try {
      val half = chunks / 2
      (0 until half).foreach(stager.deliver(w, _))
      drain() // incarnation 1 at the seed layout
      VersionedTable.rebucketUpsert(spark, tbl, "user_id", newBuckets)
      (half until chunks).foreach(stager.deliver(w, _))
      drain() // incarnation 2: resumed checkpoint, rebucketed generation
    } finally {
      stager.close()
      src.unpersist(): Unit
    }
    VersionedTable.latestBucketedUpsert(spark, tbl)
      .select(col("user_id"), col("event_id"),
        round(col("value"), 6).as("value"))
  }

  private def replayAggregated(events: DataFrame, chunks: Int,
      agg: DataFrame => DataFrame, sinkPrefix: String): DataFrame = {
    val spark = events.sparkSession
    val feed = chunkedReplayDir(withSec(events.select(col("event_id"),
      col("ts"), col("user_id"), col("event_type"), col("value"))), chunks,
      hi => Seq(flushSentinel(spark, hi + 10800L)))
    memorySink(spark, r => agg(feed.stream(r)), sinkPrefix,
        OutputMode.Append())
      .where(col("event_type") =!= "__flush")
  }
}
