package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.streaming.EventStream

class EventStreamSpec extends SparkSpec {
  import spark.implicits._

  test("windowedAgg as a real streaming query equals the batch plan on the same data") {
    val batch = EventStream.windowedAgg(Tables.events(spark, sf0001))
      .select(col("window_start").cast("string"), col("event_type"),
        col("n_events"), col("sum_value"))
      .collect().map(_.toSeq).toSet
    // file streaming sources are directories: stage the fixture file
    val dir = java.nio.file.Files.createTempDirectory("es_spec").toFile
    dir.deleteOnExit()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      java.nio.file.Paths.get(dir.getPath, "events.parquet"))
    val streamed = EventStream.runWindowedToMemory(
        spark, dir.getPath, "es_spec_sink")
      .select(col("window_start").cast("string"), col("event_type"),
        col("n_events"), col("sum_value"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("watermark drops data later than 1 hour behind the max event time") {
    import org.apache.spark.sql.streaming.OutputMode
    val dir = java.nio.file.Files.createTempDirectory("es_late").toFile
    def writeBatch(name: String, rows: Seq[(Long, String, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "tsStr", "user_id", "event_type", "value", "props")
        .select($"event_id",
          to_timestamp($"tsStr").as("ts"),
          $"user_id", $"event_type", $"value", $"props")
        .coalesce(1).write.mode("append").parquet(dir.getPath + "/in")
    // batch 1: two events in the 10:00 window, one at 13:00 -> watermark 12:00
    writeBatch("b1", Seq(
      (1L, "2024-01-01 10:00:00", 1L, "view", 1.0, "{}"),
      (2L, "2024-01-01 10:30:00", 1L, "view", 1.0, "{}"),
      (3L, "2024-01-01 13:00:00", 1L, "view", 1.0, "{}")))
    val q = EventStream.windowedAgg(
        EventStream.readEventStream(spark, dir.getPath + "/in"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("es_late_sink").start()
    q.processAllAvailable()
    // batch 2: a LATE event for the (already finalized) 10:00 window plus a
    // 14:00 event that advances the watermark past 13:00
    writeBatch("b2", Seq(
      (4L, "2024-01-01 10:15:00", 1L, "view", 1.0, "{}"),
      (5L, "2024-01-01 14:00:00", 1L, "view", 1.0, "{}")))
    q.processAllAvailable()
    // batch 3: advance the watermark past 14:00 so the 13:00 window closes
    writeBatch("b3", Seq(
      (6L, "2024-01-01 15:30:00", 1L, "view", 1.0, "{}")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("es_late_sink")
      .select(col("window_start").cast("string"), col("n_events"))
      .as[(String, Long)].collect().toMap
    // the 10:00 window holds only the 2 on-time events — the late row was
    // discarded by the watermark, not silently merged into a closed window
    assert(out("2024-01-01 10:00:00") == 2L)
    assert(out("2024-01-01 13:00:00") == 1L)
    // still-open windows are not emitted in append mode
    assert(!out.contains("2024-01-01 15:00:00"))
  }

  test("sessionizeBatch: gap > 30min opens a new session") {
    def ev(id: Long, user: Long, t: String) =
      (id, Timestamp.valueOf(t), user, "view", 1.0, "{}")
    val events = Seq(
      ev(1, 1, "2024-01-01 10:00:00"),
      ev(2, 1, "2024-01-01 10:10:00"),  // same session
      ev(3, 1, "2024-01-01 11:00:00"),  // 50min gap -> new session
      ev(4, 2, "2024-01-01 09:00:00"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val rows = EventStream.sessionizeBatch(events)
      .select("user_id", "n_sessions", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    assert(rows == Set((1L, 2L, 3L), (2L, 1L, 1L)))
  }

  test("dedupStream: a re-delivered event id is emitted exactly once across micro-batches") {
    import org.apache.spark.sql.streaming.OutputMode
    val dir = java.nio.file.Files.createTempDirectory("es_dedup").toFile
    def writeBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("event_id", "tsStr")
        .select($"event_id",
          to_timestamp($"tsStr").as("ts"),
          lit(1L).as("user_id"), lit("view").as("event_type"),
          lit(1.0).as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("append").parquet(dir.getPath + "/in")
    writeBatch(Seq((1L, "2024-01-01 10:00:00"), (2L, "2024-01-01 10:01:00")))
    val q = EventStream.dedupStream(
        EventStream.readEventStream(spark, dir.getPath + "/in"))
      .select("event_id")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("es_dedup_sink").start()
    q.processAllAvailable()
    // batch 2 re-delivers event 1 and adds event 3
    writeBatch(Seq((1L, "2024-01-01 10:00:00"), (3L, "2024-01-01 10:02:00")))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("es_dedup_sink").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("streamingUpsert: micro-batches LWW-merge into successive table versions") {
    val root = java.nio.file.Files.createTempDirectory("es_upsert").toFile.getPath
    val in = s"$root/in"
    def writeBatch(rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "payload").coalesce(1)
        .write.mode("append").parquet(in)
    writeBatch(Seq((1L, "one"), (2L, "two")))
    val stream = spark.readStream
      .schema("id LONG, payload STRING").parquet(in)
    val q = EventStream.streamingUpsert(stream, s"$root/table", "id")
    q.processAllAvailable()
    writeBatch(Seq((2L, "two-updated"), (3L, "three")))
    q.processAllAvailable()
    q.stop()
    val versions = new java.io.File(s"$root/table").list()
      .filter(_.startsWith("v")).sorted.toSeq
    assert(versions == Seq("v0", "v1"))
    val latest = spark.read.parquet(s"$root/table/v1")
      .as[(Long, String)].collect().toMap
    assert(latest == Map(1L -> "one", 2L -> "two-updated", 3L -> "three"))
  }

  test("sessionizeStreaming (flatMapGroupsWithState) matches batch on the fixture") {
    val batch = EventStream.sessionizeBatch(Tables.events(spark, sf0001))
      .select("user_id", "n_sessions", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    val typed = Tables.events(spark, sf0001)
      .select(col("user_id"), col("ts"))
      .as[EventStream.SessionEvent]
    // run the stateful function in batch mode over the same grouping
    val streaming = EventStream.sessionizeStreaming(typed)
      .as[(Long, Long, Long)].collect().toSet
    assert(streaming == batch)
  }

  test("transformWithState sessionizer (Spark 4 TWS) streamed on RocksDB" +
      " state matches the batch sessionizer") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val batch = EventStream.sessionizeBatch(Tables.events(spark, sf0001))
      .select("user_id", "n_sessions", "n_events")
      .as[(Long, Long, Long)].collect().toSet
    // real micro-batched run: TWS requires the RocksDB provider — the
    // state lives off-heap, split across batches, per-user max == batch.
    // (No batch-mode lane: batch transformWithState wants a
    // StateStoreCoordinator that only a streaming run registers.)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    val root = java.nio.file.Files.createTempDirectory("es_tws")
    try {
      val ev = Tables.events(spark, sf0001)
        .select($"user_id", date_trunc("second", $"ts").as("ts"))
        .withColumn("__sec", $"ts".cast("long"))
      val mid = ev.agg((min($"__sec") + max($"__sec")) / 2).head()
        .getDouble(0).toLong
      val inDir = root.resolve("in").toString
      // ChunkWriter stamps strictly increasing mtimes — two real
      // micro-batches without a sleep-based second copy of the
      // ordering contract (round-10 review finding)
      val w = new EventStream.ChunkWriter(inDir)
      w.write(ev.where($"__sec" <= mid), Seq("user_id", "ts"))
      w.write(ev.where($"__sec" > mid), Seq("user_id", "ts"))
      val stream = spark.readStream.schema("user_id LONG, ts TIMESTAMP")
        .option("maxFilesPerTrigger", 1).parquet(inDir)
      val q = graft.streaming.TwsSessionize
        .sessionize(stream.as[EventStream.SessionEvent]).toDF()
        .writeStream.format("memory").queryName("es_tws_sink")
        .option("checkpointLocation", root.resolve("ckpt").toString)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val streamed = spark.table("es_tws_sink").groupBy($"user_id")
        .agg(max($"n_sessions").as("s"), max($"n_events").as("e"))
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch)
      assert(batch.nonEmpty)
    } finally spark.conf.set(key, prev)
  }

  test("transformWithState recovers its RocksDB value state across a" +
      " checkpoint restart") {
    // completes the restart-recovery family: dedup + windowed agg
    // (e18), flatMapGroupsWithState (sessionizer spec), and now the
    // TWS/RocksDB state codepath — a user straddling the restart must
    // continue counts from recovered off-heap state
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "org.apache.spark.sql.execution.streaming." +
      "state.RocksDBStateStoreProvider")
    val root = java.nio.file.Files.createTempDirectory("es_tws_restart")
    try {
      val ev = Tables.events(spark, sf0001)
        .select($"user_id", date_trunc("second", $"ts").as("ts"))
        .withColumn("__sec", $"ts".cast("long"))
      val mid = ev.agg((min($"__sec") + max($"__sec")) / 2).head()
        .getDouble(0).toLong
      val inDir = root.resolve("in").toString
      val outDir = root.resolve("out").toString
      val ckpt = root.resolve("ckpt").toString
      val w = new EventStream.ChunkWriter(inDir)
      def drain(): Unit = {
        val stream = spark.readStream.schema("user_id LONG, ts TIMESTAMP")
          .parquet(inDir)
        val q = graft.streaming.TwsSessionize
          .sessionize(stream.as[EventStream.SessionEvent]).toDF()
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .outputMode(OutputMode.Append())
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      w.write(ev.where($"__sec" <= mid), Seq("user_id", "ts"))
      drain() // query 1 terminates
      w.write(ev.where($"__sec" > mid), Seq("user_id", "ts"))
      drain() // query 2: fresh plan, recovered RocksDB state
      val got = spark.read.parquet(outDir).groupBy($"user_id")
        .agg(max($"n_sessions").as("s"), max($"n_events").as("e"))
        .as[(Long, Long, Long)].collect().toSet
      val exp = EventStream.sessionizeBatch(Tables.events(spark, sf0001))
        .select("user_id", "n_sessions", "n_events")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == exp)
      assert(exp.nonEmpty)
    } finally spark.conf.set(key, prev)
  }

  test("firstTouchStreaming (mapGroupsWithState) matches batch on the fixture") {
    val batch = EventStream.firstTouchBatch(Tables.events(spark, sf0001))
      .select("user_id", "first_event_id", "first_type", "first_sec")
      .as[(Long, Long, String, Long)].collect().toSet
    val typed = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[EventStream.TouchEvent]
    val streaming = EventStream.firstTouchStreaming(typed)
      .as[EventStream.FirstTouch].collect()
      .map(f => (f.user_id, f.first_event_id, f.first_type, f.first_sec)).toSet
    assert(streaming == batch)
  }

  test("funnelStreaming (mapGroupsWithState) matches the batch funnel") {
    val batch = Queries6.f1Funnel(spark, sf0001)
      .as[(Long, Int)].collect().toSet
    val typed = Tables.events(spark, sf0001)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[EventStream.FunnelEvent]
    val streaming = EventStream.funnelStreaming(typed)
      .as[EventStream.UserFunnel].collect()
      .map(f => (f.user_id, f.funnel_stage)).toSet
    assert(streaming == batch)
  }

  test("stream-stream interval join (followsWithin) equals the batch join") {
    val ev = Tables.events(spark, sf0001)
    val purch = ev.where(col("event_type") === "purchase")
    val batch = EventStream.followsWithin(purch, ev, 600L)
      .groupBy("p_event_id").count()
      .as[(Long, Long)].collect().toSet

    val dir = java.nio.file.Files.createTempDirectory("ss_join").toFile
    try {
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(dir.getPath, "in"))
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf0001/events.parquet"),
        java.nio.file.Paths.get(dir.getPath, "in", "events.parquet"))
      val pStream = EventStream.readEventStream(spark, dir.getPath + "/in")
        .where(col("event_type") === "purchase")
      val eStream = EventStream.readEventStream(spark, dir.getPath + "/in")
      val q = EventStream.followsWithin(pStream, eStream, 600L)
        .writeStream.outputMode("append").format("memory")
        .queryName("ss_join").start()
      q.processAllAvailable()
      q.stop()
      val streaming = spark.table("ss_join")
        .groupBy("p_event_id").count()
        .as[(Long, Long)].collect().toSet
      assert(streaming == batch)
      assert(batch.nonEmpty)
    } finally dir.deleteOnExit()
  }

  test("firstTouchStreaming keeps the earliest event across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, sec: Long, typ: String) =
      EventStream.TouchEvent(id, new java.sql.Timestamp(sec * 1000L), 1L, typ)
    val source = MemoryStream[EventStream.TouchEvent]
    val q = EventStream.firstTouchStreaming(source.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("first_touch_mb").start()
    try {
      source.addData(ev(10L, 500L, "view"))
      q.processAllAvailable()
      // a later-arriving but earlier-timestamped event must win
      source.addData(ev(11L, 100L, "signup"), ev(12L, 900L, "click"))
      q.processAllAvailable()
      val rows = spark.table("first_touch_mb")
        .as[EventStream.FirstTouch].collect()
      // last update for user 1 reflects the true minimum
      assert(rows.last == EventStream.FirstTouch(1L, 11L, "signup", 100L))
    } finally q.stop()
  }

  test("replayDedup: at-least-once delivery in, exactly-once table out") {
    val ev = Tables.events(spark, sf0001)
    val out = EventStream.replayDedup(ev, chunks = 4)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val base = ev.select($"event_id", $"user_id", $"event_type", $"value")
    val n = base.count()
    // the replay really injected retries (every third event), yet the
    // emitted table is the clean base: one row per event_id, values intact
    assert(n > 0) // fixture sanity: non-empty
    assert(out.count() == n)
    assert(out.select("event_id").distinct().count() == n)
    assert(out.exceptAll(base).isEmpty && base.exceptAll(out).isEmpty)
  }

  test("replayRestart: two queries over one checkpoint, a chunk redelivered" +
      " across the restart, final windows equal the batch mirror") {
    val ev = Tables.events(spark, sf0001)
    val out = EventStream.replayRestart(ev, chunks = 6)
      .select($"window_start".cast("string"), $"event_type",
        $"n_events", $"sum_value")
      .collect().map(_.toSeq).toSet
    // batch mirror over the CLEAN base table: the redelivered chunk must
    // have been dropped by recovered dedup state (or the recovered
    // watermark's late filter), and windows straddling the restart
    // boundary must have emitted once with full counts — any state loss
    // at the restart shows up as a doubled or split window row here
    val batch = EventStream.windowedAgg(ev)
      .select($"window_start".cast("string"), $"event_type",
        $"n_events", $"sum_value")
      .collect().map(_.toSeq).toSet
    assert(out == batch)
    assert(batch.nonEmpty)
  }

  test("sessionizeStreaming recovers flatMapGroupsWithState state across" +
      " a checkpoint restart") {
    // e18 proves restart recovery for the dedup + windowed-agg state
    // codepaths; this pins the third family — arbitrary user state under
    // flatMapGroupsWithState. A user whose events straddle the restart
    // must CONTINUE its session counts from recovered state: lost state
    // shows up as reset n_events or a spurious session break at the
    // boundary, and the per-user final state would diverge from the
    // batch sessionizer.
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val ev = Tables.events(spark, sf0001)
      .select($"user_id", date_trunc("second", $"ts").as("ts"))
      .withColumn("__sec", $"ts".cast("long"))
    val b = ev.agg(min($"__sec"), max($"__sec")).head()
    val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    val root = java.nio.file.Files.createTempDirectory("es_sess_restart")
    val inDir = root.resolve("in").toString
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt").toString
    def deliver(cond: org.apache.spark.sql.Column): Unit =
      ev.where(cond).select($"user_id", $"ts")
        .coalesce(1).write.mode("append").parquet(inDir)
    def drain(): Unit = {
      val stream = spark.readStream.schema("user_id LONG, ts TIMESTAMP")
        .parquet(inDir)
      val q = EventStream
        .sessionizeStreaming(stream.as[EventStream.SessionEvent]).toDF()
        .writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    deliver($"__sec" <= mid)
    drain() // query 1 terminates
    deliver($"__sec" > mid)
    drain() // query 2: fresh plan, recovered per-user state
    // both emitted counters are monotone, so the final state per user is
    // the max over everything either query incarnation emitted
    val got = spark.read.parquet(outDir).groupBy($"user_id")
      .agg(max($"n_sessions").as("n_sessions"), max($"n_events").as("n_events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exp = EventStream.sessionizeBatch(Tables.events(spark, sf0001))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == exp)
    assert(exp.nonEmpty)
  }

  test("streamingUpsert survives the crash window: a re-executed batch" +
      " overwrites its own version idempotently, no phantom versions") {
    // foreachBatch is at-least-once: a crash between the version write
    // and the checkpoint commit re-executes the batch. Versions are
    // named by batchId and merges read only _SUCCESS-committed
    // predecessors (< batchId), so the retry reproduces v1 in place
    // instead of minting a shifted v2 from its own first attempt.
    val root = java.nio.file.Files.createTempDirectory("es_upsert_crash")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    val w = new EventStream.ChunkWriter(in)
    w.write(Seq((1L, "one"), (2L, "two")).toDF("id", "payload"),
      Seq("id", "payload"))
    w.write(Seq((2L, "two-updated"), (3L, "three")).toDF("id", "payload"),
      Seq("id", "payload"))
    def drain(): Unit = {
      val stream = spark.readStream.schema("id LONG, payload STRING")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q = EventStream.streamingUpsert(stream, tbl, "id",
        checkpoint = Some(ckpt))
      try q.processAllAvailable() finally q.stop()
      // stop() deregisters asynchronously; the restart below must not
      // race the active-run registry on the shared checkpoint
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (spark.streams.active.exists(_.runId == q.runId) &&
          System.nanoTime() < deadline) Thread.sleep(50)
    }
    drain() // batches 0 and 1 committed
    // crash simulation: batch 1's offsets stay logged, its commit
    // record vanishes — the restart must RE-EXECUTE batch 1 against a
    // table that already holds v1
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.map(_.getName).toSeq == Seq("0", "1"))
    val victim = commits.last
    assert(victim.delete())
    // the checksum companions must go with it, or the retry's rename
    // into the commit log fails on the stale .crc
    Seq(new java.io.File(victim.getParent, victim.getName + ".checksum"),
        new java.io.File(victim.getParent, "." + victim.getName + ".crc"))
      .foreach(f => if (f.exists()) f.delete(): Unit)
    drain() // retry of batch 1
    val versions = new java.io.File(tbl).list().filter(_.startsWith("v"))
      .sorted.toSeq
    assert(versions == Seq("v0", "v1"),
      s"retry minted a phantom version: $versions")
    val latest = spark.read.parquet(EventStream.latestUpsertVersion(tbl))
      .as[(Long, String)].collect().toMap
    assert(latest ==
      Map(1L -> "one", 2L -> "two-updated", 3L -> "three"))
  }

  test("streamingUpsert RESUMES a half-ingested table across a process" +
      " restart: same checkpoint, new query incarnation, batchIds continue" +
      " past the existing versions") {
    // the recovery path the _OWNER error message prescribes ("pass that
    // run's checkpoint to continue it"), proven end to end: query 1
    // ingests half the feed and terminates; query 2 — a fresh plan over
    // the SAME checkpoint and root, the restarted-process shape — must
    // pick up the owner marker, resume batch numbering past v0, merge
    // against query 1's committed version, and converge to the same
    // table a single uninterrupted run would have produced.
    val root = java.nio.file.Files.createTempDirectory("es_upsert_resume")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    val w = new EventStream.ChunkWriter(in)
    def drain(): Unit = {
      val stream = spark.readStream.schema("id LONG, payload STRING")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q = EventStream.streamingUpsert(stream, tbl, "id",
        checkpoint = Some(ckpt))
      EventStream.drainAndAwait(spark, q)
    }
    w.write(Seq((1L, "one"), (2L, "two")).toDF("id", "payload"),
      Seq("id", "payload"))
    drain() // incarnation 1: commits v0, stamps _OWNER with the ckpt path
    assert(new java.io.File(tbl, "v0/_SUCCESS").exists())
    // the restart: new data arrives while the process is down
    w.write(Seq((2L, "two-updated"), (3L, "three")).toDF("id", "payload"),
      Seq("id", "payload"))
    drain() // incarnation 2: must resume as batch 1, not refuse or restart at 0
    val versions = new java.io.File(tbl).list().filter(_.matches("v\\d+"))
      .sorted.toSeq
    assert(versions == Seq("v0", "v1"),
      s"resume did not continue batch numbering: $versions")
    val latest = spark.read.parquet(EventStream.latestUpsertVersion(tbl))
      .as[(Long, String)].collect().toMap
    assert(latest == Map(1L -> "one", 2L -> "two-updated", 3L -> "three"))
  }

  test("streamingUpsert fails fast on a tableRoot owned by another run" +
      " instead of clobbering its versions") {
    // batchId-named versions make a root single-owner: a FRESH query's
    // batchIds restart at 0 and an unguarded write would overwrite the
    // old run's v0 while ignoring its content. The _OWNER marker turns
    // that silent data loss into a loud error; continuation is the
    // checkpointed path (proven by the crash-window test above).
    val root = java.nio.file.Files.createTempDirectory("es_upsert_owner")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    def drain(): Unit = {
      val stream = spark.readStream.schema("id LONG, payload STRING")
        .parquet(in)
      val q = EventStream.streamingUpsert(stream, tbl, "id")
      try q.processAllAvailable() finally q.stop()
    }
    Seq((1L, "one")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(in)
    drain() // run 1 commits v0 and stamps _OWNER
    assert(new java.io.File(tbl, "v0/_SUCCESS").exists())
    val before = spark.read.parquet(EventStream.latestUpsertVersion(tbl))
      .as[(Long, String)].collect().toMap
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain() // run 2: new anonymous owner, same root — must refuse
    }
    assert(e.getMessage.contains("belongs to another query run"),
      s"unexpected failure: ${e.getMessage}")
    // and the refusal left the table untouched
    val after = spark.read.parquet(EventStream.latestUpsertVersion(tbl))
      .as[(Long, String)].collect().toMap
    assert(after == before && before == Map(1L -> "one"))
  }

  test("streamingUpsertBucketed: a micro-batch rewrites ONLY the buckets" +
      " its keys hash into; untouched buckets keep their old version") {
    val nBuckets = 4
    // resolve each id's bucket with the PRODUCTION hash — the test must
    // not re-derive the bucketing rule
    val bucketOfId = spark.range(1, 17)
      .select($"id", operators.MemoryOps.bucketOf("id", nBuckets).as("b"))
      .as[(Long, Long)].collect().toMap
    // all four buckets populated in batch 0, or the pruning assertion
    // below is vacuous
    assert(bucketOfId.values.toSet.size == nBuckets, s"fixture ids " +
      s"1..16 no longer cover all $nBuckets buckets: $bucketOfId")
    val target = bucketOfId(1L)
    val updateIds = bucketOfId.collect { case (id, b) if b == target => id }
    val root = java.nio.file.Files.createTempDirectory("es_upsertb")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    val w = new EventStream.ChunkWriter(in)
    w.write((1L to 16L).map(id => (id, s"p$id")).toDF("id", "payload"),
      Seq("id", "payload"))
    w.write(updateIds.map(id => (id, s"p$id-v2")).toSeq.toDF("id", "payload"),
      Seq("id", "payload"))
    val stream = spark.readStream.schema("id LONG, payload STRING")
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = EventStream.streamingUpsertBucketed(stream, tbl, "id", nBuckets)
    try q.processAllAvailable() finally q.stop()
    // THE pruning contract: batch 1 wrote v1 into the target bucket only
    for (b <- 0 until nBuckets) {
      val versions = Option(new java.io.File(tbl, s"b$b").list())
        .getOrElse(Array.empty).filter(_.matches("v\\d+")).sorted.toSeq
      if (b.toLong == target) assert(versions == Seq("v0", "v1"), s"b$b")
      else assert(versions == Seq("v0"),
        s"untouched bucket b$b was rewritten: $versions")
    }
    val latest = EventStream.latestBucketedUpsert(spark, tbl)
      .as[(Long, String)].collect().toMap
    val exp = (1L to 16L).map(id =>
      id -> (if (updateIds.toSet(id)) s"p$id-v2" else s"p$id")).toMap
    assert(latest == exp)
    // vacuum drops the superseded target-bucket version, answer unchanged
    EventStream.vacuumBucketed(tbl)
    assert(!new java.io.File(tbl, s"b$target/v0").exists())
    assert(EventStream.latestBucketedUpsert(spark, tbl)
      .as[(Long, String)].collect().toMap == exp)
  }

  test("streamingUpsertBucketed survives the crash window: a re-executed" +
      " batch reproduces its bucket versions idempotently") {
    val nBuckets = 4
    val root = java.nio.file.Files.createTempDirectory("es_upsertb_crash")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    val w = new EventStream.ChunkWriter(in)
    w.write((1L to 8L).map(id => (id, s"p$id")).toDF("id", "payload"),
      Seq("id", "payload"))
    w.write(Seq((2L, "p2-v2"), (9L, "p9")).toDF("id", "payload"),
      Seq("id", "payload"))
    def drain(): Unit = {
      val stream = spark.readStream.schema("id LONG, payload STRING")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q = EventStream.streamingUpsertBucketed(stream, tbl, "id", nBuckets,
        checkpoint = Some(ckpt))
      EventStream.drainAndAwait(spark, q)
    }
    drain() // batches 0 and 1 committed
    def layout(): Map[String, Seq[String]] =
      (0 until nBuckets).map(b => s"b$b" ->
        Option(new java.io.File(tbl, s"b$b").list()).getOrElse(Array.empty)
          .filter(_.matches("v\\d+")).sorted.toSeq).toMap
    val before = layout()
    // crash simulation: batch 1's commit record vanishes; the restart
    // must re-execute it against buckets that already hold its output
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.map(_.getName).toSeq == Seq("0", "1"))
    val victim = commits.last
    assert(victim.delete())
    Seq(new java.io.File(victim.getParent, victim.getName + ".checksum"),
        new java.io.File(victim.getParent, "." + victim.getName + ".crc"))
      .foreach(f => if (f.exists()) f.delete(): Unit)
    drain() // retry of batch 1
    assert(layout() == before,
      s"retry changed the bucket-version layout: ${layout()} vs $before")
    val latest = EventStream.latestBucketedUpsert(spark, tbl)
      .as[(Long, String)].collect().toMap
    val exp = (1L to 9L).map(id =>
      id -> (if (id == 2L) "p2-v2" else s"p$id")).toMap
    assert(latest == exp)
  }

  test("version listing ignores stray non-version files in the table root" +
      " instead of failing the query on a file it never wrote") {
    // the round-11 advisor finding: committedVersions parsed every
    // v-prefixed entry, so a 'versions.txt' or editor backup threw
    // NumberFormatException inside foreachBatch
    val root = java.nio.file.Files.createTempDirectory("es_upsert_stray")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    Seq((1L, "one")).toDF("id", "payload")
      .coalesce(1).write.mode("append").parquet(in)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tbl))
    // the strays a human or tool drops next to the data
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tbl, "versions.txt"), "notes")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(tbl, "v0.bak"))
    val stream = spark.readStream.schema("id LONG, payload STRING")
      .parquet(in)
    val q = EventStream.streamingUpsert(stream, tbl, "id")
    try q.processAllAvailable() finally q.stop()
    val latest = spark.read.parquet(EventStream.latestUpsertVersion(tbl))
      .as[(Long, String)].collect().toMap
    assert(latest == Map(1L -> "one"))
  }

  test("streamingUpsertBucketed: an empty micro-batch writes nothing and" +
      " mints no versions") {
    val root = java.nio.file.Files.createTempDirectory("es_upsertb_empty")
    val tbl = root.resolve("table").toString
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("payload",
          org.apache.spark.sql.types.StringType))))
    EventStream.upsertBatchBucketed(tbl, empty, 0L, "id", 4)
    assert(Option(new java.io.File(tbl).list()).getOrElse(Array.empty)
      .isEmpty, "empty batch left artifacts in the table root")
  }

  test("replayUpsertBucketed: partition-pruned versioned ingest converges" +
      " to the same per-user argmax as the plain form") {
    val ev = Tables.events(spark, sf0001)
    val got = EventStream.replayUpsertBucketed(ev, chunks = 4, nBuckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id")
      .orderBy($"ts".desc, $"event_id".desc, $"value".desc)
    val exp = ev.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"user_id", $"event_id", round($"value", 6).as("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == exp)
    assert(exp.nonEmpty)
  }

  test("replayUpsert: versioned micro-batch ingest converges to the" +
      " per-user argmax under the per-batch reduction") {
    val ev = Tables.events(spark, sf0001)
    val got = EventStream.replayUpsert(ev, chunks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch mirror: the latest update per user by (ts, event_id, value)
    // — the same deterministic tie-break the per-batch reduction
    // applies, so duplicate updates inside one chunk (even a redelivered
    // (ts, event_id) with a different value) cannot make the merge
    // order-dependent
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id")
      .orderBy($"ts".desc, $"event_id".desc, $"value".desc)
    val exp = ev.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"user_id", $"event_id", round($"value", 6).as("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == exp)
    assert(exp.nonEmpty)
  }

  test("replayRestart's isolated runner INHERITS the caller's state-store" +
      " provider (the round-10 A/B silently ran default-vs-default)") {
    // newSession() does not see runtime conf overrides; isolatedRunner
    // copies spark.sql.streaming.stateStore.* explicitly. Proof by
    // poison: a bogus provider class on the CALLER must fail the
    // replay's queries — it can only fail if the conf reached the
    // child session the streams actually run on.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "graft.NoSuchProvider")
    try {
      val e = intercept[Exception] {
        EventStream.replayRestart(Tables.events(spark, sf0001), chunks = 4)
          .count()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.toString +: chain(t.getCause)
      assert(chain(e).exists(_.contains("NoSuchProvider")),
        s"replay ran without the caller's provider: ${chain(e)}")
    } finally spark.conf.set(key, prev)
  }

  test("replayRestart survives the crash window: an uncommitted batch is" +
      " re-executed against a sink that already wrote it, no duplicates") {
    val ev = Tables.events(spark, sf0001)
    var simulated = false
    val out = EventStream.replayRestart(ev, chunks = 6,
        betweenDrains = (ckpt, _) => {
          // delete the NEWEST commit-log entry: offsets for that batch
          // stay logged, its completion record vanishes — exactly what a
          // crash between the sink write and the commit leaves behind.
          // Query 2 must re-execute the batch from recovered state and
          // the parquet sink's commit log must supersede the first
          // attempt's files instead of duplicating them.
          val commits = Option(new java.io.File(ckpt, "commits").listFiles())
            .toSeq.flatten.filter(_.getName.forall(_.isDigit))
            .sortBy(_.getName.toInt)
          assert(commits.nonEmpty, "no commit log to crash")
          val victim = commits.last
          Seq(victim,
              new java.io.File(victim.getParent, victim.getName + ".checksum"),
              new java.io.File(victim.getParent, "." + victim.getName + ".crc"))
            .foreach(f => if (f.exists()) f.delete(): Unit)
          simulated = true
        })
      .select($"window_start".cast("string"), $"event_type",
        $"n_events", $"sum_value")
      .collect().map(_.toSeq).toSet
    assert(simulated)
    val batch = EventStream.windowedAgg(ev)
      .select($"window_start".cast("string"), $"event_type",
        $"n_events", $"sum_value")
      .collect().map(_.toSeq).toSet
    assert(out == batch)
    assert(batch.nonEmpty)
  }

  test("rebucketUpsert grows the bucket count through a committed" +
      " generation; a resumed stream with the stale seed honors the new" +
      " layout and the data is unchanged") {
    val nSeed = 4
    val root = java.nio.file.Files.createTempDirectory("es_rebucket")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    val w = new EventStream.ChunkWriter(in)
    def drain(): Unit = {
      val stream = spark.readStream.schema("id LONG, payload STRING")
        .option("maxFilesPerTrigger", 1).parquet(in)
      // the seed count stays 4 across the rebucket: the generation's
      // _NBUCKETS, not the call site, must govern the resumed merges
      val q = EventStream.streamingUpsertBucketed(stream, tbl, "id", nSeed,
        checkpoint = Some(ckpt))
      EventStream.drainAndAwait(spark, q)
    }
    w.write((1L to 16L).map(id => (id, s"p$id")).toDF("id", "payload"),
      Seq("id", "payload"))
    drain() // batch 0 at the seed layout
    EventStream.rebucketUpsert(spark, tbl, "id", 8)
    // the rewrite committed as generation 1 and retired the root layout
    assert(new java.io.File(tbl, "gen1/_GEN_COMMIT").exists())
    assert(Option(new java.io.File(tbl).list()).getOrElse(Array.empty)
      .forall(!_.matches("b\\d+")), "root-level buckets survived rebucket")
    val mid = EventStream.latestBucketedUpsert(spark, tbl)
      .as[(Long, String)].collect().toMap
    assert(mid == (1L to 16L).map(id => id -> s"p$id").toMap,
      "rebucket changed the data")
    // resume the same checkpoint; its batch 1 must merge against gen1
    w.write(Seq((3L, "p3-v2"), (17L, "p17")).toDF("id", "payload"),
      Seq("id", "payload"))
    drain()
    val gen1 = new java.io.File(tbl, "gen1")
    val touchedDirs = Option(gen1.list()).getOrElse(Array.empty)
      .filter(_.matches("b\\d+")).filter(b =>
        new java.io.File(gen1, s"$b/v1/_SUCCESS").exists())
    val bucketOfId = spark.range(1, 18)
      .select($"id", operators.MemoryOps.bucketOf("id", 8).as("b"))
      .as[(Long, Long)].collect().toMap
    val expTouched = Set(3L, 17L).map(bucketOfId).map(b => s"b$b")
    assert(touchedDirs.toSet == expTouched,
      s"batch 1 touched ${touchedDirs.toSet}, expected $expTouched " +
        "(8-bucket hashing) — the stale 4-bucket seed leaked through")
    val fin = EventStream.latestBucketedUpsert(spark, tbl)
      .as[(Long, String)].collect().toMap
    val exp = ((1L to 17L).map(id => id -> s"p$id").toMap
      + (3L -> "p3-v2"))
    assert(fin == exp)
  }

  test("rebucketUpsert REFUSES while the checkpoint holds an in-flight" +
      " batch, and an uncommitted generation is invisible to readers") {
    val root = java.nio.file.Files.createTempDirectory("es_rebucket_guard")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    val w = new EventStream.ChunkWriter(in)
    w.write((1L to 8L).map(id => (id, s"p$id")).toDF("id", "payload"),
      Seq("id", "payload"))
    w.write(Seq((2L, "p2-v2")).toDF("id", "payload"), Seq("id", "payload"))
    val stream = spark.readStream.schema("id LONG, payload STRING")
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = EventStream.streamingUpsertBucketed(stream, tbl, "id", 4,
      checkpoint = Some(ckpt))
    try q.processAllAvailable() finally q.stop()
    // crash simulation (same shape as the crash-window spec): batch 1's
    // commit record vanishes, so it is IN FLIGHT — it will re-execute
    // on resume and must find the history a rebucket would destroy
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val victim = commits.last
    val victimBytes = java.nio.file.Files.readAllBytes(victim.toPath)
    Seq(victim,
        new java.io.File(victim.getParent, victim.getName + ".checksum"),
        new java.io.File(victim.getParent, "." + victim.getName + ".crc"))
      .foreach(f => if (f.exists()) f.delete(): Unit)
    val e = intercept[IllegalArgumentException] {
      EventStream.rebucketUpsert(spark, tbl, "id", 8)
    }
    assert(e.getMessage.contains("in flight"), e.getMessage)
    // vacuum carries the SAME drain guard: a keep-1 vacuum in this
    // window would delete the retry's merge source (round-11 review —
    // silent data loss on the re-executed batch)
    val ev = intercept[IllegalArgumentException] {
      EventStream.vacuumBucketed(tbl)
    }
    assert(ev.getMessage.contains("in flight"), ev.getMessage)
    // a crashed rebucket's leftover — a gen dir with NO commit marker —
    // must not hijack reads (the atomic-commit half of the contract)
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(tbl, "gen9/b0/v99"))
    val latest = EventStream.latestBucketedUpsert(spark, tbl)
      .as[(Long, String)].collect().toMap
    val exp = (1L to 8L).map(id =>
      id -> (if (id == 2L) "p2-v2" else s"p$id")).toMap
    assert(latest == exp)
    // the crash window clears when the batch's commit record is back
    // (production: resume the query once); vacuum then reclaims the
    // stray uncommitted generation
    java.nio.file.Files.write(victim.toPath, victimBytes)
    EventStream.vacuumBucketed(tbl)
    assert(!new java.io.File(tbl, "gen9").exists())
    // FAIL CLOSED: an _OWNER whose checkpoint path doesn't resolve from
    // this host may still hide an in-flight batch — destructive
    // maintenance must refuse rather than proceed blind
    val blindTbl = root.resolve("blind").toString
    EventStream.upsertBatchBucketed(blindTbl,
      (1L to 4L).map(id => (id, s"p$id")).toDF("id", "payload"),
      0L, "id", 2)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(blindTbl, "_OWNER"),
      root.resolve("no_such_ckpt").toString)
    val blind = intercept[IllegalArgumentException] {
      EventStream.rebucketUpsert(spark, blindTbl, "id", 4)
    }
    assert(blind.getMessage.contains("refusing destructive maintenance"),
      blind.getMessage)
  }

  test("maintenance REFUSES while a writer query is LIVE — even idle —" +
      " and a crash-left marker fails closed until deleted") {
    val root = java.nio.file.Files.createTempDirectory("es_live_writer")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    val w = new EventStream.ChunkWriter(in)
    w.write((1L to 8L).map(id => (id, s"p$id")).toDF("id", "payload"),
      Seq("id", "payload"))
    val stream = spark.readStream.schema("id LONG, payload STRING")
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q = EventStream.streamingUpsertBucketed(stream, tbl, "id", 4,
      checkpoint = Some(ckpt))
    val grace = EventStream.liveWriterGraceMs
    EventStream.liveWriterGraceMs = 300L
    try {
      // drained AND idle: offsets == commits, so the drained-checkpoint
      // guard is blind here — exactly the round-11 documented blind
      // spot the _WRITER marker closes
      q.processAllAvailable()
      assert(new java.io.File(tbl, "_WRITER").exists(),
        "the writer must stamp its live marker")
      val e = intercept[IllegalArgumentException] {
        EventStream.rebucketUpsert(spark, tbl, "id", 8)
      }
      assert(e.getMessage.contains("LIVE writer"), e.getMessage)
      val ev = intercept[IllegalArgumentException] {
        EventStream.vacuumBucketed(tbl)
      }
      assert(ev.getMessage.contains("LIVE writer"), ev.getMessage)
      // the refused rebucket must not have flipped the layout
      assert(!new java.io.File(tbl).list().exists(_.startsWith("gen")),
        "a refused rebucket left generation artifacts")
      // a MIS-OWNED second query (different checkpoint, same root) dies
      // at requireOwner on its first batch — and must NOT have erased
      // the live owner's marker on the way down (the stamp is
      // owner-gated; an ungated stamp + the loser's own reap would
      // reopen the idle-writer window this guard exists to close)
      val in2 = root.resolve("in2").toString
      new EventStream.ChunkWriter(in2)
        .write(Seq((99L, "x")).toDF("id", "payload"), Seq("id", "payload"))
      val intruder = EventStream.streamingUpsertBucketed(
        spark.readStream.schema("id LONG, payload STRING")
          .option("maxFilesPerTrigger", 1).parquet(in2),
        tbl, "id", 4, checkpoint = Some(root.resolve("ckpt2").toString))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        try intruder.processAllAvailable()
        finally EventStream.drainAndAwait(spark, intruder)
      }
      val marker = java.nio.file.Paths.get(tbl, "_WRITER")
      assert(java.nio.file.Files.exists(marker),
        "the intruder's teardown erased the live owner's marker")
      assert(new String(java.nio.file.Files.readAllBytes(marker),
          "UTF-8").trim == q.runId.toString,
        "the marker no longer names the live owner's run")
    } finally {
      EventStream.liveWriterGraceMs = grace
      EventStream.drainAndAwait(spark, q)
    }
    // clean stop: the termination listener reaps the marker and the
    // same maintenance proceeds (the guard's grace poll absorbs the
    // listener's asynchrony — this is the e19c cadence)
    EventStream.rebucketUpsert(spark, tbl, "id", 8)
    val latest = EventStream.latestBucketedUpsert(spark, tbl)
      .as[(Long, String)].collect().toMap
    assert(latest == (1L to 8L).map(id => id -> s"p$id").toMap)
    // crash-left marker: a dead JVM never fires the listener; the
    // guard fails closed until the operator confirms the process is
    // gone and deletes the marker — the record-the-judgment contract
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tbl, "_WRITER"), "dead-run-id")
    EventStream.liveWriterGraceMs = 300L
    try {
      val ec = intercept[IllegalArgumentException] {
        EventStream.vacuumBucketed(tbl)
      }
      assert(ec.getMessage.contains("dead-run-id"), ec.getMessage)
    } finally EventStream.liveWriterGraceMs = grace
    java.nio.file.Files.delete(java.nio.file.Paths.get(tbl, "_WRITER"))
    EventStream.vacuumBucketed(tbl) // the judgment recorded, it proceeds
  }

  test("a second fresh query racing a still-unowned root neither steals" +
      " nor reaps the first writer's live marker") {
    // the round-12 review race: _OWNER is only created inside the first
    // batch, so before any batch runs the owner gate has nothing to
    // match — an existing marker on an unowned root must mean HANDS OFF
    // (whoever ends up owning, someone is live), or the loser's own
    // termination reap would disarm the winner's guard
    val root = java.nio.file.Files.createTempDirectory("es_stamp_race")
    val tbl = root.resolve("table").toString
    def emptyIn(name: String): String = {
      val d = root.resolve(name)
      java.nio.file.Files.createDirectories(d)
      d.toString
    }
    def start(in: String, ckpt: String) = EventStream.streamingUpsertBucketed(
      spark.readStream.schema("id LONG, payload STRING")
        .option("maxFilesPerTrigger", 1).parquet(in),
      tbl, "id", 4, checkpoint = Some(root.resolve(ckpt).toString))
    val marker = java.nio.file.Paths.get(tbl, "_WRITER")
    val q1 = start(emptyIn("in1"), "ckpt1")
    try {
      // the round-12 advisor's pre-start window: the marker must exist
      // the moment start() returns (it is stamped provisionally BEFORE
      // start and rewritten to the runId before the writer returns) —
      // a first micro-batch can never execute unmarked
      assert(java.nio.file.Files.exists(marker),
        "the marker must exist from before start() — the pre-start " +
          "window is closed")
      q1.processAllAvailable() // empty source: live, idle, ZERO batches
      assert(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
        .trim == q1.runId.toString)
      val q2 = start(emptyIn("in2"), "ckpt2")
      try {
        q2.processAllAvailable()
        assert(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
            .trim == q1.runId.toString,
          "the second fresh query stole the live marker")
      } finally EventStream.drainAndAwait(spark, q2)
      // q2 never stamped, so its teardown must not have reaped either
      assert(java.nio.file.Files.exists(marker) &&
        new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
          .trim == q1.runId.toString,
        "the loser's teardown reaped the winner's marker")
    } finally EventStream.drainAndAwait(spark, q1)
    // the winner's own clean stop still reaps normally
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (java.nio.file.Files.exists(marker) &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(!java.nio.file.Files.exists(marker),
      "the winner's clean stop failed to reap its marker")
  }

  test("the no-marker stamp is ATOMIC: N concurrent stampers, one winner") {
    // the round-12 advisor's medium finding: the old stamp was
    // check-then-write, so two fresh queries racing a still-unowned
    // root could BOTH believe they stamped — and the loser's
    // termination reap would then disarm the survivor's guard. The fix
    // is a link(2) create-if-absent; this pins the primitive itself,
    // for both markers that stamp through it (`_OWNER` and `_WRITER`).
    val root = java.nio.file.Files.createTempDirectory("es_stamp_atomic")
    val n = 8
    for (name <- Seq("_WRITER", "_OWNER")) {
      val gate = new java.util.concurrent.CountDownLatch(1)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val winners = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val threads = (0 until n).map { i =>
        new Thread(() => {
          gate.await()
          if (EventStream.stampIfAbsent(root.toFile, name, s"racer-$i")) {
            wins.incrementAndGet(): Unit
            winners.add(s"racer-$i"): Unit
          }
        })
      }
      threads.foreach(_.start())
      gate.countDown()
      threads.foreach(_.join())
      assert(wins.get() == 1,
        s"expected exactly one $name stamp winner, got ${wins.get()}")
      val content = new String(java.nio.file.Files.readAllBytes(
        root.resolve(name)), "UTF-8").trim
      assert(winners.contains(content),
        s"the $name content ($content) must be the winner's value")
    }
  }

  test("a resumed incarnation replaces a crash-left marker at its first" +
      " beat — the delete-the-marker guidance is safe against a live resume") {
    // the round-12 advisor's crash-before-first-batch scenario: the
    // dead incarnation stamped _WRITER but never created _OWNER, so the
    // resume cannot replace the marker at start (the root is unowned —
    // hands off). Its first committed batch establishes ownership, and
    // the next beat must then take the marker owner-gated: from that
    // point the guard names the LIVE run, and an operator who verified
    // the dead run is gone and deleted the marker mid-flight gets it
    // re-armed at the next beat rather than a disarmed live writer.
    val root = java.nio.file.Files.createTempDirectory("es_resume_marker")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    val marker = java.nio.file.Paths.get(tbl, "_WRITER")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tbl))
    java.nio.file.Files.writeString(marker, "dead-run-id")
    val w = new EventStream.ChunkWriter(in)
    w.write(Seq((1L, "p1")).toDF("id", "payload"), Seq("id", "payload"))
    val q = EventStream.streamingUpsertBucketed(
      spark.readStream.schema("id LONG, payload STRING")
        .option("maxFilesPerTrigger", 1).parquet(in),
      tbl, "id", 4, checkpoint = Some(ckpt))
    def markerIs(v: String): Boolean = {
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline) {
        if (java.nio.file.Files.exists(marker) &&
          new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
            .trim == v) return true
        Thread.sleep(50)
      }
      false
    }
    try {
      q.processAllAvailable()
      assert(markerIs(q.runId.toString),
        "the live resume's first beat must replace the dead marker")
      // heartbeat-aware refusal: a marker with a FRESH heartbeat must
      // refuse with do-not-delete guidance, not the crash guidance
      val grace = EventStream.liveWriterGraceMs
      EventStream.liveWriterGraceMs = 300L
      try {
        val e = intercept[IllegalArgumentException] {
          EventStream.vacuumBucketed(tbl)
        }
        assert(e.getMessage.contains("LIVE writer"), e.getMessage)
        assert(e.getMessage.contains("RIGHT NOW"),
          s"a fresh heartbeat must yield running-right-now guidance: ${e.getMessage}")
      } finally EventStream.liveWriterGraceMs = grace
      // operator deletes the marker against the live resume (the exact
      // action the old error message instructed): the next beat re-arms
      java.nio.file.Files.delete(marker)
      w.write(Seq((2L, "p2")).toDF("id", "payload"), Seq("id", "payload"))
      q.processAllAvailable()
      assert(markerIs(q.runId.toString),
        "a deleted marker under a live writer must be re-stamped at " +
          "the next beat")
    } finally EventStream.drainAndAwait(spark, q)
    // clean stop reaps marker AND heartbeat (heartbeat strictly first,
    // so marker-gone implies heartbeat-gone); maintenance proceeds
    val hb = java.nio.file.Paths.get(tbl, "_WRITER_HB")
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while ((java.nio.file.Files.exists(marker) ||
        java.nio.file.Files.exists(hb)) &&
      System.nanoTime() < deadline) Thread.sleep(50)
    assert(!java.nio.file.Files.exists(marker))
    assert(!java.nio.file.Files.exists(hb),
      "the heartbeat must be reaped with the marker")
    EventStream.vacuumBucketed(tbl)
  }

  test("a cross-process writer is distinguished by HEARTBEAT: fresh ->" +
      " refuse do-not-delete, stale -> the crash judgment contract") {
    // round-12 verdict residual: a live writer in another JVM used to
    // be indistinguishable from a crash. Simulate the foreign process
    // by planting marker + heartbeat no in-session query owns.
    val root = java.nio.file.Files.createTempDirectory("es_foreign_hb")
    val tbl = root.resolve("table").toString
    EventStream.upsertBatchBucketed(tbl,
      (1L to 4L).map(id => (id, s"p$id")).toDF("id", "payload"),
      0L, "id", 2)
    val marker = java.nio.file.Paths.get(tbl, "_WRITER")
    val hb = java.nio.file.Paths.get(tbl, "_WRITER_HB")
    java.nio.file.Files.writeString(marker, "foreign-run-id")
    val grace = EventStream.liveWriterGraceMs
    EventStream.liveWriterGraceMs = 300L
    try {
      // fresh heartbeat: running right now — refuse, do NOT delete
      java.nio.file.Files.writeString(hb,
        s"foreign-run-id ${System.currentTimeMillis()}")
      val fresh = intercept[IllegalArgumentException] {
        EventStream.vacuumBucketed(tbl)
      }
      assert(fresh.getMessage.contains("RIGHT NOW") &&
        fresh.getMessage.contains("do NOT delete"), fresh.getMessage)
      // stale heartbeat: the crash guidance, naming the dead run
      java.nio.file.Files.writeString(hb, "foreign-run-id " +
        (System.currentTimeMillis() - 10 * EventStream.writerHeartbeatStaleMs))
      val stale = intercept[IllegalArgumentException] {
        EventStream.vacuumBucketed(tbl)
      }
      assert(stale.getMessage.contains("STALE") &&
        stale.getMessage.contains("foreign-run-id"), stale.getMessage)
      // heartbeat naming a DIFFERENT run is another incarnation's
      // leftover, not this writer's: the no-heartbeat guidance
      java.nio.file.Files.writeString(hb,
        s"other-run-id ${System.currentTimeMillis()}")
      val none = intercept[IllegalArgumentException] {
        EventStream.vacuumBucketed(tbl)
      }
      assert(none.getMessage.contains("no matching heartbeat"),
        none.getMessage)
    } finally EventStream.liveWriterGraceMs = grace
    // the judgment recorded, maintenance proceeds
    java.nio.file.Files.delete(marker)
    EventStream.vacuumBucketed(tbl)
  }

  test("the no-hardlink fallback stamp is ALSO atomic: N concurrent" +
      " CREATE_NEW racers, one winner") {
    // the round-13 advisor's low finding: the old fallback was a
    // no-replace move whose existence check is TOCTOU on POSIX
    // (rename(2) silently overwrites) — two racers on a hardlink-less
    // filesystem could both believe they stamped. CREATE_NEW maps to
    // O_CREAT|O_EXCL: atomic create-if-absent without link(2). The
    // local fs supports hardlinks, so this pins the extracted fallback
    // primitive directly rather than forcing the IOException path.
    val root = java.nio.file.Files.createTempDirectory("es_createnew")
    val target = root.resolve("_WRITER")
    val n = 8
    val gate = new java.util.concurrent.CountDownLatch(1)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val winners = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val threads = (0 until n).map { i =>
      new Thread(() => {
        gate.await()
        if (EventStream.createNewWithContent(target, s"racer-$i")) {
          wins.incrementAndGet(): Unit
          winners.add(s"racer-$i"): Unit
        }
      })
    }
    threads.foreach(_.start())
    gate.countDown()
    threads.foreach(_.join())
    assert(wins.get() == 1,
      s"expected exactly one CREATE_NEW winner, got ${wins.get()}")
    val content = new String(java.nio.file.Files.readAllBytes(target),
      "UTF-8").trim
    assert(winners.contains(content),
      s"the file content ($content) must be the winner's value")
  }

  test("a same-owner duplicate start must NOT disarm the live twin's" +
      " guard: the fresh heartbeat gates the pre-start replace") {
    // the round-13 advisor's medium finding: the pre-start owner-gated
    // replace used to fire unconditionally, so an in-process duplicate
    // start on the same root+checkpoint (same owner token) replaced
    // the LIVE twin's marker BEFORE Spark refused the start, and the
    // failed-start cleanup then deleted it — guard disarmed until the
    // twin's next beat, a window where vacuum/rebucket could destroy
    // the layout under a live writer. With the incumbent's heartbeat
    // FRESH, the duplicate must leave marker AND heartbeat untouched.
    val root = java.nio.file.Files.createTempDirectory("es_dup_start")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    val marker = java.nio.file.Paths.get(tbl, "_WRITER")
    val hb = java.nio.file.Paths.get(tbl, "_WRITER_HB")
    val w = new EventStream.ChunkWriter(in)
    w.write(Seq((1L, "p1")).toDF("id", "payload"), Seq("id", "payload"))
    def stream() = spark.readStream.schema("id LONG, payload STRING")
      .option("maxFilesPerTrigger", 1).parquet(in)
    // default stopActiveRunOnRestart=true would hand the checkpoint
    // over to the new run instead of refusing; the advisor's scenario
    // is the refusal path (conf off -> same-id start throws)
    val restart = spark.conf.get("spark.sql.streaming.stopActiveRunOnRestart")
    spark.conf.set("spark.sql.streaming.stopActiveRunOnRestart", "false")
    val q1 = EventStream.streamingUpsertBucketed(stream(), tbl, "id", 4,
      checkpoint = Some(ckpt))
    try {
      q1.processAllAvailable()
      val run1 = q1.runId.toString
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      def markerContent(): String =
        if (java.nio.file.Files.exists(marker))
          new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim
        else "<absent>"
      while (markerContent() != run1 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(markerContent() == run1, "precondition: q1 holds the marker")
      intercept[Exception] {
        EventStream.streamingUpsertBucketed(stream(), tbl, "id", 4,
          checkpoint = Some(ckpt))
      }
      // IMMEDIATELY after the refused duplicate: the live guard intact
      // (pre-fix, the marker was absent here until q1's next beat)
      assert(markerContent() == run1,
        "the refused duplicate start must leave the live marker intact")
      assert(java.nio.file.Files.exists(hb) &&
        new String(java.nio.file.Files.readAllBytes(hb), "UTF-8")
          .startsWith(run1),
        "the refused duplicate start must leave the live heartbeat intact")
    } finally {
      spark.conf.set("spark.sql.streaming.stopActiveRunOnRestart", restart)
      EventStream.drainAndAwait(spark, q1)
    }
  }

  test("a failed start that replaced a stale-LOOKING marker restores it" +
      " on the way out — the incumbent's guard survives our failure") {
    // second half of the same advisor finding: when the pre-start
    // replace DOES fire (incumbent heartbeat stale or absent — the
    // resume premise) but start() then throws, deleting our
    // provisional stamp must not leave the root unguarded: the
    // incumbent was stale-LOOKING, not proven dead (a wedged writer
    // beats no heartbeat), so its marker content is put back.
    val root = java.nio.file.Files.createTempDirectory("es_restore_marker")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    val tbl2 = root.resolve("table2").toString
    val ckpt = root.resolve("ckpt").toString
    val w = new EventStream.ChunkWriter(in)
    w.write(Seq((1L, "p1")).toDF("id", "payload"), Seq("id", "payload"))
    def stream() = spark.readStream.schema("id LONG, payload STRING")
      .option("maxFilesPerTrigger", 1).parquet(in)
    val restart = spark.conf.get("spark.sql.streaming.stopActiveRunOnRestart")
    spark.conf.set("spark.sql.streaming.stopActiveRunOnRestart", "false")
    // q1 holds the CHECKPOINT (the start() failure source); the stale
    // incumbent lives on a SECOND root owned by the same token, with
    // no heartbeat — the replace-then-fail path in one start call
    val q1 = EventStream.streamingUpsertBucketed(stream(), tbl, "id", 4,
      checkpoint = Some(ckpt))
    try {
      q1.processAllAvailable()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tbl2))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tbl2, "_OWNER"), ckpt)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tbl2, "_WRITER"), "wedged-run-id")
      intercept[Exception] {
        EventStream.streamingUpsertBucketed(stream(), tbl2, "id", 4,
          checkpoint = Some(ckpt))
      }
      val restored = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(tbl2, "_WRITER")), "UTF-8").trim
      assert(restored == "wedged-run-id",
        s"the failed start must restore the incumbent marker, got $restored")
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(tbl2, "_WRITER_HB")),
        "the failed start's provisional heartbeat must be reaped " +
          "(marker-without-heartbeat is the fail-closed shape)")
    } finally {
      spark.conf.set("spark.sql.streaming.stopActiveRunOnRestart", restart)
      EventStream.drainAndAwait(spark, q1)
    }
  }

  test("a same-checkpoint duplicate start under the DEFAULT handover conf" +
      " marks the successor the moment start() returns (step 2b)") {
    // the other half of the pre-start gate's world: under Spark's
    // DEFAULT spark.sql.streaming.stopActiveRunOnRestart=true a
    // same-checkpoint duplicate start does not throw — Spark STOPS the
    // incumbent and hands the checkpoint over. The gate (correctly)
    // refused to replace the FRESH incumbent's marker, but pre-fix the
    // successor then stayed unmarked until its first beat while the
    // stopped incumbent's reap deleted the marker: a live-but-unmarked
    // window of up to a quarter of the stale threshold in which
    // vacuum/rebucket could destroy the layout under the live
    // successor (round-14 review finding). Step 2b closes it with an
    // owner-gated acquire right after start() returns.
    val root = java.nio.file.Files.createTempDirectory("es_handover_marker")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    val marker = java.nio.file.Paths.get(tbl, "_WRITER")
    val hb = java.nio.file.Paths.get(tbl, "_WRITER_HB")
    val w = new EventStream.ChunkWriter(in)
    w.write(Seq((1L, "p1")).toDF("id", "payload"), Seq("id", "payload"))
    def stream() = spark.readStream.schema("id LONG, payload STRING")
      .option("maxFilesPerTrigger", 1).parquet(in)
    assert(spark.conf.get(
      "spark.sql.streaming.stopActiveRunOnRestart") == "true",
      "precondition: the DEFAULT handover conf")
    val q1 = EventStream.streamingUpsertBucketed(stream(), tbl, "id", 4,
      checkpoint = Some(ckpt))
    var q2: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      q1.processAllAvailable()
      val run1 = q1.runId.toString
      def markerContent(): String =
        if (java.nio.file.Files.exists(marker))
          new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim
        else "<absent>"
      def poll(cond: () => Boolean, ms: Long): Boolean = {
        val deadline = System.nanoTime() + ms * 1000 * 1000
        while (!cond() && System.nanoTime() < deadline) Thread.sleep(25)
        cond()
      }
      assert(poll(() => markerContent() == run1, 15000),
        "precondition: q1 holds the marker")
      q2 = EventStream.streamingUpsertBucketed(stream(), tbl, "id", 4,
        checkpoint = Some(ckpt)) // no throw: Spark stops q1, hands over
      val run2 = q2.runId.toString
      assert(run2 != run1, "the handover must produce a new run")
      // step 2b is synchronous in the tracked start: the only
      // tolerance needed is for q1's ASYNC termination reap
      // interleaving (its claim-then-check restores our content —
      // microseconds). The 3 s bound sits far below both the first
      // timer beat (15 s at the default threshold) and the 10 s
      // idle-event interval, so a pass can only come from the
      // step-2b stamp, never from a first-beat takeover.
      assert(poll(() => markerContent() == run2, 3000),
        s"successor must be marked at start()-return, got ${markerContent()}")
      assert(poll(() => java.nio.file.Files.exists(hb) &&
        new String(java.nio.file.Files.readAllBytes(hb), "UTF-8")
          .startsWith(run2), 3000),
        "the successor's heartbeat must ride with the step-2b stamp")
      assert(!q1.isActive, "the handover must have stopped the incumbent")
      // and the acquired marker reaps cleanly on the successor's stop
      EventStream.drainAndAwait(spark, q2)
      q2 = null
      assert(poll(() => !java.nio.file.Files.exists(marker), 15000),
        "the successor's stop must reap the marker it acquired at 2b")
    } finally {
      if (q2 != null && q2.isActive) EventStream.drainAndAwait(spark, q2)
      if (q1.isActive) EventStream.drainAndAwait(spark, q1)
    }
  }

  test("a beat that finds a foreign marker on a root not ours stops" +
      " heartbeating and forfeits the reap claim") {
    // the round-13 advisor's low finding: `stamped` kept our runId
    // after the marker was lost to a foreign value without a takeover,
    // so every beat refreshed _WRITER_HB naming US while _WRITER named
    // THEM — and requireNoLiveWriter, finding no heartbeat matching
    // the marker, emitted the delete-the-marker guidance against a
    // possibly live writer: the exact misguidance the heartbeat was
    // added to prevent. The fix: heartbeat only when THIS beat holds
    // the marker; losing it nulls the reap claim.
    val stale = EventStream.writerHeartbeatStaleMs
    EventStream.writerHeartbeatStaleMs = 4000L // timer beat every 1 s
    val root = java.nio.file.Files.createTempDirectory("es_foreign_marker")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    val marker = java.nio.file.Paths.get(tbl, "_WRITER")
    val owner = java.nio.file.Paths.get(tbl, "_OWNER")
    val hb = java.nio.file.Paths.get(tbl, "_WRITER_HB")
    val w = new EventStream.ChunkWriter(in)
    w.write(Seq((1L, "p1")).toDF("id", "payload"), Seq("id", "payload"))
    val q = EventStream.streamingUpsertBucketed(
      spark.readStream.schema("id LONG, payload STRING")
        .option("maxFilesPerTrigger", 1).parquet(in),
      tbl, "id", 4, checkpoint = Some(ckpt))
    try {
      q.processAllAvailable()
      val run = q.runId.toString
      def poll(cond: () => Boolean): Boolean = {
        val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
        while (!cond() && System.nanoTime() < deadline) Thread.sleep(50)
        cond()
      }
      assert(poll(() => java.nio.file.Files.exists(marker) &&
        new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
          .trim == run), "precondition: the query holds the marker")
      // simulate losing the root: a foreign owner AND a foreign marker
      // (the never-stamped-query posture — beats must not take over)
      java.nio.file.Files.writeString(owner, "someone-else")
      java.nio.file.Files.writeString(marker, "foreign-run-id")
      // a beat that read the still-ours marker JUST before the
      // overwrite may legitimately finish its heartbeat write after
      // it — let any straddler drain for one full timer period before
      // capturing the cutoff, so the assertion below only sees beats
      // that observed the foreign marker (round-14 review finding)
      Thread.sleep(1200)
      val planted = System.currentTimeMillis()
      Thread.sleep(3500) // >3 timer beats at the compressed period
      assert(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8")
        .trim == "foreign-run-id",
        "beats must not take over a root owned by someone else")
      val hbStampedAfter = java.nio.file.Files.exists(hb) && {
        new String(java.nio.file.Files.readAllBytes(hb), "UTF-8")
          .trim.split(' ') match {
          case Array(r, millis) if millis.forall(_.isDigit) =>
            r == run && millis.toLong >= planted
          case _ => false
        }
      }
      assert(!hbStampedAfter,
        "a beat that does not hold the marker must not refresh the " +
          "heartbeat naming our run against a foreign marker")
      // root legitimately ours again: the next beat re-acquires
      java.nio.file.Files.writeString(owner, ckpt)
      assert(poll(() => new String(java.nio.file.Files.readAllBytes(
        marker), "UTF-8").trim == run),
        "the beat must re-acquire the marker once the root is ours again")
      assert(poll(() => java.nio.file.Files.exists(hb) &&
        new String(java.nio.file.Files.readAllBytes(hb), "UTF-8")
          .startsWith(run)),
        "the heartbeat must resume with the re-acquired marker")
    } finally {
      EventStream.drainAndAwait(spark, q)
      EventStream.writerHeartbeatStaleMs = stale
    }
  }

  test("bucketedPointLookupAsOf: mid-feed state from ONE bucket version," +
      " pre-first-write miss, and the loud horizon after vacuum") {
    // the e24 composition at batch level: the id's history lives
    // entirely inside its own bucket's version axis, so the as-of
    // answer is the bucket's newest committed version <= asOfBatch,
    // filtered — never a table-wide stitch for one key
    val root = java.nio.file.Files.createTempDirectory("es_point_asof")
    val tbl = root.resolve("table").toString
    def put(batch: Long, rows: (Long, String)*): Unit =
      EventStream.upsertBatchBucketed(tbl,
        rows.toSeq.toDF("id", "payload"), batch, "id", 4)
    put(0L, 1L -> "a0", 2L -> "b0")
    put(1L, 1L -> "a1")
    put(2L, 1L -> "a2", 2L -> "b2", 7L -> "g2")
    def asOf(id: Long, batch: Long): Seq[String] =
      EventStream.bucketedPointLookupAsOf(spark, tbl, "id", id, batch)
        .select("payload").collect().map(_.getString(0)).toSeq
    assert(asOf(1L, 1L) == Seq("a1"), "id 1 as of batch 1")
    assert(asOf(1L, 0L) == Seq("a0"), "id 1 as of batch 0")
    // id 2 was untouched by batch 1: its state as of 1 is batch 0's
    // (whether or not its bucket was rewritten by id 1's merge)
    assert(asOf(2L, 1L) == Seq("b0"), "id 2 as of batch 1")
    // id 7 first appeared in batch 2: as of 1 it must MISS — either
    // its bucket had no version yet (empty-frame path) or the version
    // it had carries no id-7 row (filter path); both answer empty
    assert(asOf(7L, 1L).isEmpty, "id 7 must not exist as of batch 1")
    assert(asOf(7L, 2L) == Seq("g2"), "id 7 as of batch 2")
    // the latest lookup is unaffected by any of this
    assert(EventStream.bucketedPointLookup(spark, tbl, "id", 1L)
      .select("payload").collect().map(_.getString(0)).toSeq == Seq("a2"))
    // keep-1 vacuum raises the horizon to 1: batch-1 state is
    // destroyed and the SAME lookup must refuse loudly, while the
    // surviving batch-2 state stays answerable
    EventStream.vacuumBucketed(tbl, keep = 1)
    val e = intercept[IllegalArgumentException] { asOf(1L, 1L) }
    assert(e.getMessage.contains("retention horizon"), e.getMessage)
    assert(asOf(1L, 2L) == Seq("a2"),
      "as-of above the horizon must still answer after vacuum")
  }

  test("in-writer retention bounds the plain table's footprint, keeps" +
      " the crash-retry's merge source, and survives the crash window") {
    val root = java.nio.file.Files.createTempDirectory("es_retain")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    val w = new EventStream.ChunkWriter(in)
    def drain(): Unit = {
      val stream = spark.readStream.schema("id LONG, payload STRING")
        .option("maxFilesPerTrigger", 1).parquet(in)
      val q = EventStream.streamingUpsert(stream, tbl, "id",
        checkpoint = Some(ckpt), retainVersions = 1)
      EventStream.drainAndAwait(spark, q)
    }
    (0 to 3).foreach(b => w.write(
      Seq((1L, s"one-b$b"), (b.toLong + 10L, s"new-b$b"))
        .toDF("id", "payload"), Seq("id", "payload")))
    drain() // four batches, retention riding along
    def versions(): Seq[String] = new java.io.File(tbl).list()
      .filter(_.matches("v\\d+")).sorted.toSeq
    // every version is a full table copy; retention holds the newest
    // plus the retry's merge source — two dirs, not four
    assert(versions() == Seq("v2", "v3"), versions().toString)
    val exp = Map(1L -> "one-b3", 10L -> "new-b0", 11L -> "new-b1",
      12L -> "new-b2", 13L -> "new-b3")
    def latest(): Map[Long, String] =
      spark.read.parquet(EventStream.latestUpsertVersion(tbl))
        .as[(Long, String)].collect().toMap
    assert(latest() == exp)
    // vacuumed history fails loudly, the kept predecessor still reads
    intercept[IllegalArgumentException](
      EventStream.upsertVersionAsOf(tbl, 1L))
    assert(spark.read.parquet(EventStream.upsertVersionAsOf(tbl, 2L))
      .count() == 4)
    // crash window ON a retention-enabled table: batch 3's commit
    // record vanishes; the retry must find v2 (the kept merge source)
    // and reproduce v3 without resurrecting or doubling anything
    val commits = new java.io.File(ckpt, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    val victim = commits.last
    Seq(victim,
        new java.io.File(victim.getParent, victim.getName + ".checksum"),
        new java.io.File(victim.getParent, "." + victim.getName + ".crc"))
      .foreach(f => if (f.exists()) f.delete(): Unit)
    drain() // retry of batch 3
    assert(versions() == Seq("v2", "v3"), versions().toString)
    assert(latest() == exp)
  }

  test("in-writer retention bounds each touched bucket; untouched" +
      " buckets keep their history until written") {
    val root = java.nio.file.Files.createTempDirectory("es_retain_b")
    val tbl = root.resolve("table").toString
    def df(rows: (Long, String)*) = rows.toDF("id", "payload")
    // seed all buckets (ids 1..16 cover all four — pinned by the
    // pruning spec above), then hammer id 1's bucket three more times
    EventStream.upsertBatchBucketed(tbl,
      (1L to 16L).map(id => (id, "v0")).toDF("id", "payload"),
      0L, "id", 4, retainVersions = 1)
    (1 to 3).foreach(b => EventStream.upsertBatchBucketed(tbl,
      df(1L -> s"v$b"), b.toLong, "id", 4, retainVersions = 1))
    val bucketOfId = spark.range(1, 17)
      .select($"id", operators.MemoryOps.bucketOf("id", 4).as("b"))
      .as[(Long, Long)].collect().toMap
    val hot = bucketOfId(1L)
    for (b <- 0 until 4) {
      val vs = Option(new java.io.File(tbl, s"b$b").list())
        .getOrElse(Array.empty).filter(_.matches("v\\d+")).sorted.toSeq
      if (b.toLong == hot)
        assert(vs == Seq("v2", "v3"), s"hot bucket b$b: $vs")
      else assert(vs == Seq("v0"), s"cold bucket b$b: $vs")
    }
    val latest = EventStream.latestBucketedUpsert(spark, tbl)
      .as[(Long, String)].collect().toMap
    assert(latest == (1L to 16L).map(id =>
      id -> (if (id == 1L) "v3" else "v0")).toMap)
    // horizon rose to (hot bucket's lowest kept − 1): stitched as-of
    // below it would silently drop the hot bucket's rows
    intercept[IllegalArgumentException](
      EventStream.bucketedUpsertAsOf(spark, tbl, 1L))
    val asOf2 = EventStream.bucketedUpsertAsOf(spark, tbl, 2L)
      .as[(Long, String)].collect().toMap
    assert(asOf2(1L) == "v2")
  }

  test("bucketedPointLookup reads exactly one bucket's newest version —" +
      " the get-by-id read served from the ingested store at O(bucket)") {
    val root = java.nio.file.Files.createTempDirectory("es_pointlookup")
    val tbl = root.resolve("table").toString
    EventStream.upsertBatchBucketed(tbl,
      (1L to 16L).map(id => (id, s"p$id")).toDF("id", "payload"),
      0L, "id", 4)
    EventStream.upsertBatchBucketed(tbl,
      Seq((3L, "p3-v2")).toDF("id", "payload"), 1L, "id", 4)
    val hit = EventStream.bucketedPointLookup(spark, tbl, "id", 3L)
    // THE pruning contract: every file the lookup plans over lives in
    // id 3's bucket — the other buckets' files are never touched
    val bucketOfId = spark.range(1, 17)
      .select($"id", operators.MemoryOps.bucketOf("id", 4).as("b"))
      .as[(Long, Long)].collect().toMap
    val k = bucketOfId(3L)
    val files = hit.inputFiles
    assert(files.nonEmpty && files.forall(_.contains(s"/b$k/")),
      s"lookup read outside bucket b$k: ${files.mkString(",")}")
    // and it reads that bucket's NEWEST version, post-update
    assert(files.forall(_.contains("/v1/")), files.mkString(","))
    assert(hit.as[(Long, String)].collect().toSeq == Seq((3L, "p3-v2")))
    // an id hashing to an untouched bucket still resolves (v0), a
    // missing id returns empty with the right schema
    assert(EventStream.bucketedPointLookup(spark, tbl, "id", 2L)
      .as[(Long, String)].collect().toSeq == Seq((2L, "p2")))
    val miss = EventStream.bucketedPointLookup(spark, tbl, "id", 999L)
    assert(miss.columns.toSeq == Seq("id", "payload") && miss.isEmpty)
    // a TYPE-mismatched literal must still find the row: xxhash64
    // hashes Int and Long differently, so the lookup casts the literal
    // to the STORED id type before hashing — an Int 3 against a LONG
    // column landing in the wrong bucket was the round-11 review find
    assert(EventStream.bucketedPointLookup(spark, tbl, "id", 3)
      .as[(Long, String)].collect().toSeq == Seq((3L, "p3-v2")))
  }

  test("building a point-lookup frame (latest or as-of) starts no Spark" +
      " job: the bucket and schema come from table metadata") {
    val root = java.nio.file.Files.createTempDirectory("es_pointlookup")
    val tbl = root.resolve("table").toString
    EventStream.upsertBatchBucketed(tbl,
      (1L to 16L).map(id => (id, s"p$id")).toDF("id", "payload"),
      0L, "id", 4)
    EventStream.upsertBatchBucketed(tbl,
      Seq((3L, "p3-v2")).toDF("id", "payload"), 1L, "id", 4)
    // only jobs started from this thread under this tag count, so a
    // stray background job elsewhere in the JVM cannot fail the case
    val tag = "graft.test.pointlookup.plan"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(tag) == "1"))
          jobs.incrementAndGet(): Unit
    }
    // the listener bus is asynchronous: poll until the count has held
    // still for half a second before reading it
    def quietCount(): Int = {
      var last = jobs.get()
      var still = 0
      while (still < 5) {
        Thread.sleep(100)
        val now = jobs.get()
        if (now == last) still += 1 else { last = now; still = 0 }
      }
      last
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setLocalProperty(tag, "1")
    val frames = try {
      Seq(EventStream.bucketedPointLookup(spark, tbl, "id", 3L),
        EventStream.bucketedPointLookup(spark, tbl, "id", 999L),
        EventStream.bucketedPointLookup(spark, tbl, "id", 3),
        EventStream.bucketedPointLookupAsOf(spark, tbl, "id", 3L, 0L),
        EventStream.bucketedPointLookupAsOf(spark, tbl, "id", 999L, 1L),
        EventStream.bucketedPointLookupAsOf(spark, tbl, "id", 3, 1L))
    } finally spark.sparkContext.setLocalProperty(tag, null)
    try assert(quietCount() == 0,
      "building the point-lookup frames ran Spark jobs")
    finally spark.sparkContext.removeSparkListener(listener)
    // the frames built without a job still answer correctly
    assert(frames.map(_.as[(Long, String)].collect().toSeq) == Seq(
      Seq((3L, "p3-v2")), Nil, Seq((3L, "p3-v2")),
      Seq((3L, "p3")), Nil, Seq((3L, "p3-v2"))))
  }

  test("schema drift: the default writer fails fast on a drifted batch;" +
      " tolerateSchemaDrift widens the table with row-wise LWW nulls") {
    val root = java.nio.file.Files.createTempDirectory("es_drift")
    def df2(rows: (Long, String)*) = rows.toDF("id", "payload")
    def df3(rows: (Long, String, Double)*) =
      rows.toDF("id", "payload", "score")
    // default: a batch that gained a column must fail the merge loudly
    // (a file stream's declared schema would project the drift away
    // before the sink — the strict contract bites where drift actually
    // arrives, e.g. evolving upstream frames through foreachBatch)
    val strictTbl = root.resolve("strict").toString
    EventStream.upsertBatchPlain(strictTbl, df2(1L -> "a"), 0L, "id")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      EventStream.upsertBatchPlain(strictTbl, df3((1L, "b", 0.5)), 1L, "id")
    }
    assert(e.getMessage.toLowerCase.contains("union"), e.getMessage)
    // tolerant: the batch-level merge widens; an update that doesn't
    // carry the new column replaces the whole row with it null
    val tbl = root.resolve("tolerant").toString
    EventStream.upsertBatchPlain(tbl, df2(1L -> "a", 2L -> "b"), 0L, "id",
      tolerateSchemaDrift = true)
    EventStream.upsertBatchPlain(tbl, df3((1L, "a2", 0.9)), 1L, "id",
      tolerateSchemaDrift = true)
    EventStream.upsertBatchPlain(tbl, df2(1L -> "a3"), 2L, "id",
      tolerateSchemaDrift = true)
    val out = spark.read.parquet(EventStream.latestUpsertVersion(tbl))
    assert(out.columns.sorted.toSeq == Seq("id", "payload", "score"))
    val rows = out.select($"id", $"payload", $"score")
      .as[(Long, String, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows == Map(1L -> (("a3", None)), 2L -> (("b", None))))
  }

  test("schema drift (bucketed): buckets sit at different schema eras;" +
      " the stitched read and later merges union them") {
    val root = java.nio.file.Files.createTempDirectory("es_drift_b")
    val tbl = root.resolve("table").toString
    EventStream.upsertBatchBucketed(tbl,
      (1L to 16L).map(id => (id, s"p$id")).toDF("id", "payload"),
      0L, "id", 4, tolerateSchemaDrift = true)
    // batch 1 carries a NEW column and touches only id 1's bucket: the
    // other three buckets stay at the two-column era
    EventStream.upsertBatchBucketed(tbl,
      Seq((1L, "p1-v2", 0.7)).toDF("id", "payload", "score"),
      1L, "id", 4, tolerateSchemaDrift = true)
    val out = EventStream.latestBucketedUpsert(spark, tbl)
    assert(out.columns.sorted.toSeq == Seq("id", "payload", "score"),
      "stitched read sampled one era instead of unioning the footers")
    val rows = out.select($"id", $"payload", $"score")
      .as[(Long, String, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows(1L) == (("p1-v2", Some(0.7))))
    assert(rows(2L) == (("p2", None)))
    assert(rows.size == 16)
    // a later merge touching an OLD-era bucket must read across eras
    // (mergeSchema) and write that bucket forward into the new era
    EventStream.upsertBatchBucketed(tbl,
      Seq((2L, "p2-v2", 0.3)).toDF("id", "payload", "score"),
      2L, "id", 4, tolerateSchemaDrift = true)
    val rows2 = EventStream.latestBucketedUpsert(spark, tbl)
      .select($"id", $"payload", $"score")
      .as[(Long, String, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows2(2L) == (("p2-v2", Some(0.3))))
    assert(rows2(1L) == (("p1-v2", Some(0.7))))
  }

  test("as-of reads time-travel both layouts within the retention" +
      " horizon and fail loudly past it") {
    // PLAIN: three versions, each a full table copy
    val root = java.nio.file.Files.createTempDirectory("es_asof")
    val tbl = root.resolve("plain").toString
    def df(rows: (Long, String)*) = rows.toDF("id", "payload")
    EventStream.upsertBatchPlain(tbl, df(1L -> "a"), 0L, "id")
    EventStream.upsertBatchPlain(tbl, df(1L -> "b", 2L -> "x"), 1L, "id")
    EventStream.upsertBatchPlain(tbl, df(2L -> "y"), 2L, "id")
    def readPlain(asOf: Long): Map[Long, String] =
      spark.read.parquet(EventStream.upsertVersionAsOf(tbl, asOf))
        .as[(Long, String)].collect().toMap
    assert(readPlain(0L) == Map(1L -> "a"))
    assert(readPlain(1L) == Map(1L -> "b", 2L -> "x"))
    assert(readPlain(5L) == Map(1L -> "b", 2L -> "y")) // newest <= 5 is v2
    EventStream.vacuumUpsert(tbl, keep = 2) // drops v0, horizon 0
    assert(readPlain(1L) == Map(1L -> "b", 2L -> "x"))
    val e1 = intercept[IllegalArgumentException](readPlain(0L))
    assert(e1.getMessage.contains("retention horizon"), e1.getMessage)

    // BUCKETED: buckets version independently; the as-of read stitches
    // each bucket's newest version <= asOf into one table-wide snapshot
    val btbl = root.resolve("bucketed").toString
    EventStream.upsertBatchBucketed(btbl,
      (1L to 8L).map(id => (id, "v0")).toDF("id", "payload"), 0L, "id", 4)
    // batch 1 touches only id 1's bucket; the rest stay at v0
    EventStream.upsertBatchBucketed(btbl,
      df(1L -> "v1"), 1L, "id", 4)
    EventStream.upsertBatchBucketed(btbl,
      df(1L -> "v2", 2L -> "v2"), 2L, "id", 4)
    def readB(asOf: Long): Map[Long, String] =
      EventStream.bucketedUpsertAsOf(spark, btbl, asOf)
        .as[(Long, String)].collect().toMap
    val base = (1L to 8L).map(_ -> "v0").toMap
    assert(readB(0L) == base)
    assert(readB(1L) == base + (1L -> "v1"))
    assert(readB(2L) == base + (1L -> "v2") + (2L -> "v2"))
    // keep=1 leaves id 1's bucket with only v2: every bucket's lowest
    // kept version bounds the horizon, or a stitched read below it
    // would silently drop that bucket's rows
    EventStream.vacuumBucketed(btbl, keep = 1)
    assert(readB(2L) == base + (1L -> "v2") + (2L -> "v2"))
    val e2 = intercept[IllegalArgumentException](readB(1L))
    assert(e2.getMessage.contains("retention horizon"), e2.getMessage)
  }

  test("replayUpsertAsOf: the mid-feed snapshot equals the argmax over" +
      " the event prefix, and the post-vacuum loud-horizon lane holds") {
    val ev = Tables.events(spark, sf0001)
    // asOfBatch=2 of 6 time-range chunks == events in the first 3/6 of
    // the span; the mirror reproduces chunkedReplayDir's integer
    // arithmetic on floor-second timestamps
    val got = EventStream.replayUpsertAsOf(ev, chunks = 6, asOfBatch = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = ev.agg(min($"ts".cast("long")), max($"ts".cast("long"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val cut = lo + (hi - lo + 1) * 3 / 6
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id")
      .orderBy($"ts".desc, $"event_id".desc, $"value".desc)
    val exp = ev.where($"ts".cast("long") < cut)
      .withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"user_id", $"event_id", round($"value", 6).as("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == exp)
    assert(exp.nonEmpty)
    // the full-table argmax must DIFFER from the prefix argmax, or this
    // test would pass with time travel silently reading latest
    val full = ev.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"user_id", $"event_id", round($"value", 6).as("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got != full, "prefix snapshot indistinguishable from latest — " +
      "the fixture no longer exercises time travel")
  }

  test("replayUpsertDrift: the feed gains a column mid-stream; the table" +
      " widens, rows win (era-1 users read NULL), eras stitch") {
    val ev = Tables.events(spark, sf0001)
    val got = EventStream.replayUpsertDrift(ev, chunks = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        Option(r.getString(3)))).toSet
    val b = ev.agg(min($"ts".cast("long")), max($"ts".cast("long"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val cut = lo + (hi - lo + 1) * 3 / 6
    // mirror: era-1 events ∪ era-2 events minus the churned cohort;
    // etype carried only by era-2 events
    val src = ev.where($"ts".cast("long") < cut || $"user_id" % 5 =!= 0)
      .withColumn("etype",
        when($"ts".cast("long") >= cut, $"event_type"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id")
      .orderBy($"ts".desc, $"event_id".desc, $"value".desc)
    val exp = src.withColumn("rn", row_number().over(w)).where($"rn" === 1)
      .select($"user_id", $"event_id", round($"value", 6).as("value"),
        $"etype")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        Option(r.getString(3)))).toSet
    assert(got == exp)
    // both branches of the rows-win contract must actually fire
    assert(got.exists(_._4.isEmpty), "no era-1 NULL rows — the churn " +
      "cohort no longer exercises the null-fill branch")
    assert(got.exists(_._4.nonEmpty), "no era-2 rows")
  }

  test("ChunkStager: a staging write that fails leaves no staging dir" +
      " behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def stageDirs(): Set[String] = Option(tmp.listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("graft_replay_stage")).map(_.getName).toSet
    val before = stageDirs()
    val src = Tables.events(spark, sf0001)
      .withColumn("__sec", $"ts".cast("long"))
    intercept[org.apache.spark.sql.AnalysisException] {
      new EventStream.ChunkStager(src, Seq("event_id", "no_such_col"),
        chunks = 4, lo = 0L, span = 1L)
    }
    assert(stageDirs() -- before == Set.empty)
  }

  test("noDataBatches: a sentinel-flushed append windowedAgg (e11's" +
      " shape) loses its final window without the trailing no-data batch") {
    // the sentinel's batch advances the watermark, but the windows it
    // closes evict only in the NEXT batch — which no data triggers, so
    // only Spark's no-data batch can flush them
    val rows = Seq(
      (1L, "2024-01-01 10:05:00", 1L, "view", 1.0),
      (2L, "2024-01-01 10:20:00", 2L, "view", 2.0),
      (3L, "2024-01-01 11:10:00", 1L, "click", 3.0),
      (4L, "2024-01-01 12:30:00", 2L, "view", 4.0))
    def frame(rs: Seq[(Long, String, Long, String, Double)]) =
      rs.toDF("event_id", "tsStr", "user_id", "event_type", "value")
        .select($"event_id", to_timestamp($"tsStr").as("ts"), $"user_id",
          $"event_type", $"value")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value")
    val dir = java.nio.file.Files.createTempDirectory("es_nodata")
      .resolve("in").toString
    val w = new EventStream.ChunkWriter(dir)
    w.write(frame(rows), cols)
    w.write(frame(Seq((-1L, "2024-01-01 20:00:00", -1L, "__flush", 0.0))),
      cols)
    def windows(df: org.apache.spark.sql.DataFrame) =
      df.where($"event_type" =!= "__flush")
        .select($"window_start".cast("string"), $"event_type",
          $"n_events", $"sum_value")
        .collect().map(_.toSeq).toSet
    def replay(noDataBatches: Boolean) = windows(EventStream.memorySink(
      spark, r => EventStream.windowedAgg(r.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, " +
          "event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1).parquet(dir)),
      "es_nodata_", org.apache.spark.sql.streaming.OutputMode.Append(),
      noDataBatches))
    val batch = windows(EventStream.windowedAgg(frame(rows)))
    assert(batch.size == 3)
    assert(replay(noDataBatches = true) == batch)
    val cut = replay(noDataBatches = false)
    assert(!cut.exists(_.head == "2024-01-01 12:00:00"),
      s"the final window emitted without a no-data batch: $cut")
    assert(cut.subsetOf(batch) && cut.nonEmpty, cut)
  }
}
