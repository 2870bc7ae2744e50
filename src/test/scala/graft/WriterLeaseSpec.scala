package graft

import graft.streaming.{EventStream, VersionedTable, WriterLease}

/** The writer lease of a versioned table root ([[WriterLease]]): the
  * live-writer marker that maintenance refuses on, its heartbeat, the
  * atomic create-if-absent stamps of `_WRITER` and `_OWNER`, and the
  * start, beat and reap steps of a tracked writer. EventStreamSpec
  * mixes these cases in, so each keeps its suite id there. */
trait WriterLeaseSpec extends SparkSpec {
  import spark.implicits._

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
    val q = VersionedTable.streamingUpsertBucketed(stream, tbl, "id", 4,
      checkpoint = Some(ckpt))
    val grace = WriterLease.liveWriterGraceMs
    WriterLease.liveWriterGraceMs = 300L
    try {
      // drained AND idle: offsets == commits, so the drained-checkpoint
      // guard is blind here — exactly the round-11 documented blind
      // spot the _WRITER marker closes
      q.processAllAvailable()
      assert(new java.io.File(tbl, "_WRITER").exists(),
        "the writer must stamp its live marker")
      val e = intercept[IllegalArgumentException] {
        VersionedTable.rebucketUpsert(spark, tbl, "id", 8)
      }
      assert(e.getMessage.contains("LIVE writer"), e.getMessage)
      val ev = intercept[IllegalArgumentException] {
        VersionedTable.vacuumBucketed(tbl)
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
      val intruder = VersionedTable.streamingUpsertBucketed(
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
      WriterLease.liveWriterGraceMs = grace
      EventStream.drainAndAwait(spark, q)
    }
    // clean stop: the termination listener reaps the marker and the
    // same maintenance proceeds (the guard's grace poll absorbs the
    // listener's asynchrony — this is the e19c cadence)
    VersionedTable.rebucketUpsert(spark, tbl, "id", 8)
    val latest = VersionedTable.latestBucketedUpsert(spark, tbl)
      .as[(Long, String)].collect().toMap
    assert(latest == (1L to 8L).map(id => id -> s"p$id").toMap)
    // crash-left marker: a dead JVM never fires the listener; the
    // guard fails closed until the operator confirms the process is
    // gone and deletes the marker — the record-the-judgment contract
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tbl, "_WRITER"), "dead-run-id")
    WriterLease.liveWriterGraceMs = 300L
    try {
      val ec = intercept[IllegalArgumentException] {
        VersionedTable.vacuumBucketed(tbl)
      }
      assert(ec.getMessage.contains("dead-run-id"), ec.getMessage)
    } finally WriterLease.liveWriterGraceMs = grace
    java.nio.file.Files.delete(java.nio.file.Paths.get(tbl, "_WRITER"))
    VersionedTable.vacuumBucketed(tbl) // the judgment recorded, it proceeds
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
    def start(in: String, ckpt: String) = VersionedTable.streamingUpsertBucketed(
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
          if (WriterLease.stampIfAbsent(root.toFile, name, s"racer-$i")) {
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
    val q = VersionedTable.streamingUpsertBucketed(
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
      val grace = WriterLease.liveWriterGraceMs
      WriterLease.liveWriterGraceMs = 300L
      try {
        val e = intercept[IllegalArgumentException] {
          VersionedTable.vacuumBucketed(tbl)
        }
        assert(e.getMessage.contains("LIVE writer"), e.getMessage)
        assert(e.getMessage.contains("RIGHT NOW"),
          s"a fresh heartbeat must yield running-right-now guidance: ${e.getMessage}")
      } finally WriterLease.liveWriterGraceMs = grace
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
    VersionedTable.vacuumBucketed(tbl)
  }

  test("a cross-process writer is distinguished by HEARTBEAT: fresh ->" +
      " refuse do-not-delete, stale -> the crash judgment contract") {
    // round-12 verdict residual: a live writer in another JVM used to
    // be indistinguishable from a crash. Simulate the foreign process
    // by planting marker + heartbeat no in-session query owns.
    val root = java.nio.file.Files.createTempDirectory("es_foreign_hb")
    val tbl = root.resolve("table").toString
    VersionedTable.upsertBatchBucketed(tbl,
      (1L to 4L).map(id => (id, s"p$id")).toDF("id", "payload"),
      0L, "id", 2)
    val marker = java.nio.file.Paths.get(tbl, "_WRITER")
    val hb = java.nio.file.Paths.get(tbl, "_WRITER_HB")
    java.nio.file.Files.writeString(marker, "foreign-run-id")
    val grace = WriterLease.liveWriterGraceMs
    WriterLease.liveWriterGraceMs = 300L
    try {
      // fresh heartbeat: running right now — refuse, do NOT delete
      java.nio.file.Files.writeString(hb,
        s"foreign-run-id ${System.currentTimeMillis()}")
      val fresh = intercept[IllegalArgumentException] {
        VersionedTable.vacuumBucketed(tbl)
      }
      assert(fresh.getMessage.contains("RIGHT NOW") &&
        fresh.getMessage.contains("do NOT delete"), fresh.getMessage)
      // stale heartbeat: the crash guidance, naming the dead run
      java.nio.file.Files.writeString(hb, "foreign-run-id " +
        (System.currentTimeMillis() - 10 * WriterLease.writerHeartbeatStaleMs))
      val stale = intercept[IllegalArgumentException] {
        VersionedTable.vacuumBucketed(tbl)
      }
      assert(stale.getMessage.contains("STALE") &&
        stale.getMessage.contains("foreign-run-id"), stale.getMessage)
      // heartbeat naming a DIFFERENT run is another incarnation's
      // leftover, not this writer's: the no-heartbeat guidance
      java.nio.file.Files.writeString(hb,
        s"other-run-id ${System.currentTimeMillis()}")
      val none = intercept[IllegalArgumentException] {
        VersionedTable.vacuumBucketed(tbl)
      }
      assert(none.getMessage.contains("no matching heartbeat"),
        none.getMessage)
    } finally WriterLease.liveWriterGraceMs = grace
    // the judgment recorded, maintenance proceeds
    java.nio.file.Files.delete(marker)
    VersionedTable.vacuumBucketed(tbl)
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
        if (WriterLease.createNewWithContent(target, s"racer-$i")) {
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
    val q1 = VersionedTable.streamingUpsertBucketed(stream(), tbl, "id", 4,
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
        VersionedTable.streamingUpsertBucketed(stream(), tbl, "id", 4,
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
    val q1 = VersionedTable.streamingUpsertBucketed(stream(), tbl, "id", 4,
      checkpoint = Some(ckpt))
    try {
      q1.processAllAvailable()
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tbl2))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tbl2, "_OWNER"), ckpt)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tbl2, "_WRITER"), "wedged-run-id")
      intercept[Exception] {
        VersionedTable.streamingUpsertBucketed(stream(), tbl2, "id", 4,
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
    val q1 = VersionedTable.streamingUpsertBucketed(stream(), tbl, "id", 4,
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
      q2 = VersionedTable.streamingUpsertBucketed(stream(), tbl, "id", 4,
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
    val stale = WriterLease.writerHeartbeatStaleMs
    WriterLease.writerHeartbeatStaleMs = 4000L // timer beat every 1 s
    val root = java.nio.file.Files.createTempDirectory("es_foreign_marker")
    val in = root.resolve("in").toString
    val tbl = root.resolve("table").toString
    val ckpt = root.resolve("ckpt").toString
    val marker = java.nio.file.Paths.get(tbl, "_WRITER")
    val owner = java.nio.file.Paths.get(tbl, "_OWNER")
    val hb = java.nio.file.Paths.get(tbl, "_WRITER_HB")
    val w = new EventStream.ChunkWriter(in)
    w.write(Seq((1L, "p1")).toDF("id", "payload"), Seq("id", "payload"))
    val q = VersionedTable.streamingUpsertBucketed(
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
      WriterLease.writerHeartbeatStaleMs = stale
    }
  }
}
