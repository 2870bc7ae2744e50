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
    * feed needs in front of [[streamingUpsert]].
    */
  def dedupStream(events: DataFrame, idCol: String = "event_id"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicates(idCol, "ts")

  // --- streaming upsert into the versioned memory table -------------------

  /** Continuous ingest: LWW-merge every micro-batch into the keyed table,
    * producing a new immutable version directory per batch (`v0, v1, ...`
    * under `tableRoot`) — the streaming form of the reference's upsert
    * endpoint (src/vector_store.rs:215-255) built from the same
    * [[graft.operators.MemoryOps.upsertById]] machinery. Each version
    * rewrite here is O(table) — the SIMPLE form for small keyed tables;
    * once the table outgrows the batch, use [[streamingUpsertBucketed]],
    * whose merge is partition-pruned to the id-buckets the batch touched
    * (BASELINE.md "Round-11 upsert-layout decades" prices the
    * crossover). A table format with native
    * MERGE slots in here unchanged.
    *
    * `reduceBatch` collapses each micro-batch BEFORE the merge — the
    * standard ingest discipline in front of a keyed upsert (reduce to
    * the latest update per key with a deterministic tie-break), since
    * [[graft.operators.MemoryOps.upsertById]] picks arbitrarily among
    * same-id rows WITHIN one incoming batch. Identity by default.
    *
    * CRASH CONTRACT (round-10 finding): foreachBatch is AT-LEAST-ONCE —
    * after a crash between the version write and the checkpoint commit,
    * Spark re-executes the batch. Versions are therefore named by the
    * stable `batchId` (not by counting existing dirs, which would shift
    * on retry), written with overwrite (a retry clobbers its own
    * partial first attempt), and each merge reads the newest
    * `_SUCCESS`-committed version with id < batchId — never a partial
    * write, never the retry's own previous output (the LWW merge is
    * content-idempotent, but overwrite-while-reading the same dir is
    * not). The retried batch thus reproduces its version byte-for-byte
    * and the table converges exactly once.
    *
    * OWNERSHIP: batchId-naming makes a tableRoot single-owner — a FRESH
    * query (new temp checkpoint, batchIds restarting at 0) started
    * against a populated root would ignore and then overwrite the old
    * run's versions. The root therefore carries an `_OWNER` marker (the
    * checkpoint path when given — stable across checkpointed restarts —
    * or a per-call token otherwise) and a mismatched writer FAILS FAST
    * instead of silently clobbering. To continue a table across
    * process restarts, pass the same `checkpoint`; batchIds then resume
    * past every existing version.
    *
    * RETENTION: every version is a full table copy, so an unbounded
    * ingest's footprint grows O(batches × table). `retainVersions` = k
    * ≥ 1 bounds it IN the writer — safe where the out-of-band
    * [[vacuumUpsert]] needs a maintenance window, because the single
    * owner serializes the vacuum with the merges that read old
    * versions. The writer always keeps the newest max(k−1, 1) versions
    * BELOW the batch it just committed: the immediate predecessor is
    * the crash-window retry's merge source and is never deleted before
    * the NEXT batch commits past it (so k=1 holds two dirs steady-
    * state, not one). The retention horizon rises with the deletions —
    * as-of reads stay loud past it. 0 (default) keeps everything.
    *
    * SCHEMA DRIFT: by default a micro-batch whose schema differs from
    * the table kills the query (fail fast on the unexpected).
    * `tolerateSchemaDrift` = true accepts ADDITIVE drift instead: a
    * column on only one side null-fills on the other and the table
    * widens — the long-lived-feed reality. The LWW contract stays
    * row-wise: an update that doesn't carry a column replaces the
    * whole row with that field null (rows win, not fields). */
  def streamingUpsert(
      stream: DataFrame,
      tableRoot: String,
      idCol: String,
      reduceBatch: DataFrame => DataFrame = identity,
      checkpoint: Option[String] = None,
      retainVersions: Int = 0,
      tolerateSchemaDrift: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val owner = checkpoint.getOrElse(
      "anon-" + java.util.UUID.randomUUID().toString)
    val writer = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val root = new java.io.File(tableRoot)
        root.mkdirs()
        requireOwner(root, owner)
        upsertBatchPlain(tableRoot, reduceBatch(batch.toDF()), batchId, idCol,
          retainVersions, tolerateSchemaDrift)
    }
    startTrackedWriter(stream.sparkSession, new java.io.File(tableRoot),
      owner)(() => checkpoint.fold(writer)(c =>
        writer.option("checkpointLocation", c)).start())
  }

  /** One micro-batch of [[streamingUpsert]]'s merge, as a plain batch
    * job (the foreachBatch body, priced in BASELINE.md "Round-11
    * upsert-layout decades"):
    * LWW-merge `incoming` against the newest `_SUCCESS`-committed
    * version with id < batchId and overwrite `v<batchId>`. O(table) per
    * batch — the simple form; [[upsertBatchBucketed]] is the pruned one. */
  private[graft] def upsertBatchPlain(tableRoot: String, incoming: DataFrame,
      batchId: Long, idCol: String, retainVersions: Int = 0,
      tolerateSchemaDrift: Boolean = false): Unit = {
    val spark = incoming.sparkSession
    val root = new java.io.File(tableRoot)
    val merged = newestCommitted(root, Some(batchId - 1)) match {
      case Some(latest) =>
        graft.operators.MemoryOps.upsertById(
          spark.read.parquet(s"$tableRoot/v$latest"), incoming, idCol,
          tolerateSchemaDrift)
      case None => incoming
    }
    merged.write.mode("overwrite").parquet(s"$tableRoot/v$batchId")
    if (retainVersions >= 1) // the predecessor survives (see [[retire]])
      retire(root, Seq(root -> committedVersions(root).filter(_ < batchId)),
        math.max(retainVersions - 1, 1))
  }

  /** THE retirement rule of the versioned store — in-writer retention of
    * both layouts and both vacuums call it. Per version axis (a bucket
    * dir, or a plain table's root), the candidate versions beyond the
    * newest `keep` are doomed, and the lowest kept one bounds the
    * axis's floor (lowest kept − 1). `_RETENTION_HORIZON` in
    * `horizonDir` rises ONCE to the maximum floor BEFORE any deletion:
    * a concurrent as-of reader racing the deletion, or a crash mid-way,
    * finds the horizon already covering whatever is destroyed — the
    * loud error, never a partially-deleted read. In-writer retention
    * passes only the versions below the batch just committed and keeps
    * max(retain−1, 1) of them: the immediate predecessor survives as
    * the crash-window retry's merge source. */
  private def retire(horizonDir: java.io.File,
      axes: Seq[(java.io.File, Seq[Long])], keep: Int): Unit = {
    val floor = axes.collect { case (_, vs) if vs.size > keep =>
      vs(vs.size - keep) - 1 }.maxOption
    floor.filter(_ > readHorizon(horizonDir)).foreach(f =>
      writeMetaFile(horizonDir, "_RETENTION_HORIZON", f.toString))
    for ((dir, vs) <- axes; v <- vs.dropRight(keep))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(dir, s"v$v")): Unit
  }

  // --- bucketed streaming upsert: the partition-pruned 100-TB form --------

  /** BUCKETED streaming upsert — [[streamingUpsert]] with the
    * partition-pruned merge of
    * [[graft.operators.MemoryOps.upsertBucketed]] wired into the
    * micro-batch path. The table lives as `nBuckets` hash buckets of
    * the id key (`b0..b{n-1}`), each versioned INDEPENDENTLY
    * (`b<k>/v<batchId>`); a micro-batch reads and rewrites only the
    * buckets its keys hash into, so the merge cost is bounded by
    * (touched buckets) × (bucket size) — it tracks the BATCH, not the
    * table (the reference's point-upsert contract: an upsert must not
    * touch unrelated keys, src/vector_store.rs:215-255). At warehouse
    * scale nBuckets grows with the table at fixed bucket size, making
    * the per-update cost a constant; a table format with native MERGE
    * subsumes this layout unchanged.
    *
    * Same crash discipline as the plain form, per bucket: versions are
    * named by the stable batchId, each merge reads only
    * `_SUCCESS`-committed predecessor versions (id < batchId) of its
    * touched buckets — never a partial write, never the retry's own
    * first attempt — and a retried batch clobbers its own staging and
    * bucket-version dirs, so the table converges exactly once. The
    * `_OWNER` guard is shared with [[streamingUpsert]].
    *
    * BUCKET-COUNT GOVERNANCE: `nBuckets` only SEEDS a fresh table. The
    * authoritative count lives in the table's `_NBUCKETS` metadata
    * file, stamped on the first batch and re-read every batch — so a
    * maintenance-window [[rebucketUpsert]] (which rewrites the layout
    * into a new committed generation with a different count) takes
    * effect on the next resumed incarnation even if the caller still
    * passes the stale seed value. Two writers racing different counts
    * onto one root is already excluded by the `_OWNER` guard.
    *
    * RETENTION: `retainVersions` = k ≥ 1 bounds each TOUCHED bucket to
    * its newest max(k−1, 1) versions below the batch just committed,
    * under the same keep-the-retry's-merge-source rule as the plain
    * writer (see [[streamingUpsert]]). Untouched buckets keep their
    * history until touched — bounded all the same, since a bucket's
    * version count only grows when it is written.
    *
    * SCHEMA DRIFT: same contract as [[streamingUpsert]] —
    * `tolerateSchemaDrift` = true widens on additive drift instead of
    * failing the query. Buckets then sit at different schema ERAS
    * until next touched (a bucket's schema only changes when written),
    * so the drift-tolerant merge reads its predecessors under the
    * UNION of their `_SCHEMA` manifests ([[mergedVersionSchema]] —
    * metadata-served since round 15; parquet `mergeSchema`'s footer
    * job before that), and the stitched readers
    * ([[latestBucketedUpsert]] / [[bucketedUpsertAsOf]]) always do. */
  def streamingUpsertBucketed(
      stream: DataFrame,
      tableRoot: String,
      idCol: String,
      nBuckets: Int = 16,
      reduceBatch: DataFrame => DataFrame = identity,
      checkpoint: Option[String] = None,
      retainVersions: Int = 0,
      tolerateSchemaDrift: Boolean = false)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val owner = checkpoint.getOrElse(
      "anon-" + java.util.UUID.randomUUID().toString)
    val writer = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val root = new java.io.File(tableRoot)
        root.mkdirs()
        requireOwner(root, owner)
        upsertBatchBucketed(tableRoot, reduceBatch(batch.toDF()), batchId,
          idCol, nBuckets, retainVersions, tolerateSchemaDrift)
    }
    startTrackedWriter(stream.sparkSession, new java.io.File(tableRoot),
      owner)(() => checkpoint.fold(writer)(c =>
        writer.option("checkpointLocation", c)).start())
  }

  /** One micro-batch of the bucketed merge (the foreachBatch body,
    * priced in BASELINE.md "Round-11 upsert-layout decades"): prune to
    * touched buckets, merge, write
    * the next version of each touched bucket via staging + per-bucket
    * promote. Untouched buckets' files are never read or written. All
    * paths resolve through the ACTIVE GENERATION (see
    * [[rebucketUpsert]]) and the bucket count through its `_NBUCKETS`
    * metadata — `nBuckets` is only the seed for a fresh table. */
  private[graft] def upsertBatchBucketed(tableRoot0: String, inc0: DataFrame,
      batchId: Long, idCol: String, nBuckets: Int,
      retainVersions: Int = 0, tolerateSchemaDrift: Boolean = false): Unit = {
    val spark = inc0.sparkSession
    val dir = activeBucketedDir(new java.io.File(tableRoot0))
    val tableRoot = dir.getPath
    val n = readNBuckets(dir).getOrElse(nBuckets)
    def bucketed(df: DataFrame): DataFrame = df.withColumn("__bucket",
      graft.operators.MemoryOps.bucketOf(idCol, n))
    // The reduced batch feeds TWO jobs — the touched-bucket collect just
    // below and the staging write — and between them sits the caller's
    // reduceBatch shuffle plus the micro-batch scan; persist it so the
    // second job reads the (batch-sized, bounded) cached rows instead of
    // re-running the reduction (round 14, guide §1.2 "don't compute
    // things twice"). Unpersisted before return — nothing outlives the
    // batch.
    val inc1 = inc0.persist()
    try {
    // prune step shared with the batch form (MemoryOps.upsertBucketed)
    val (inc, touched) =
      graft.operators.MemoryOps.tagTouchedBuckets(inc1, idCol, n)
    if (touched.isEmpty) return
    // the authoritative bucket count is stamped with the first real
    // write (an empty batch leaves no artifacts at all)
    if (readNBuckets(dir).isEmpty) {
      dir.mkdirs(); writeMetaFile(dir, "_NBUCKETS", n.toString)
    }
    // newest committed predecessor PER BUCKET — buckets version
    // independently, so each may sit at a different latest version.
    // No horizon check: every retirement keeps each bucket's newest
    // version, which is exactly this merge source (see [[retire]])
    val currentPaths = touched.flatMap(k =>
      newestCommitted(new java.io.File(dir, s"b$k"), Some(batchId - 1))
        .map(v => s"$tableRoot/b$k/v$v"))
    val merged =
      if (currentPaths.isEmpty) inc
      else graft.operators.MemoryOps.upsertById(
        // __bucket is a pure function of the id — recomputing beats
        // persisting it into the data files. The read schema is the
        // UNION OF EVERY predecessor's manifest, unconditionally (the
        // round-11 advisor's mergeSchema rationale, served from
        // metadata since round 15): a table widened by an earlier
        // drift-tolerant run leaves its buckets at mixed schema eras,
        // and a STRICT resume that sampled one footer would silently
        // null the other eras' columns before the strict unionByName
        // ever saw the mismatch — the fail-fast point is the merge
        // below, never the read.
        bucketed(spark.read
          .schema(mergedVersionSchema(spark, currentPaths.toSeq))
          .parquet(currentPaths.toIndexedSeq: _*)),
        inc, idCol, tolerateSchemaDrift)
    // ONE job writes every touched bucket's next version into staging
    // (clustered on the bucket → one file per bucket dir); promotion is
    // a per-bucket rename + commit marker. Leading underscore keeps
    // parquet readers from ever listing the staging dir as data.
    val staging = new java.io.File(tableRoot, s"_staging_v$batchId")
    org.apache.commons.io.FileUtils.deleteQuietly(staging)
    merged.repartition(col("__bucket"))
      .write.partitionBy("__bucket").mode("overwrite").parquet(staging.getPath)
    val dataSchema = org.apache.spark.sql.types.StructType(
      merged.schema.fields.filterNot(_.name == "__bucket"))
    touched.foreach { k =>
      val src = new java.io.File(staging, s"__bucket=$k")
      val dstDir = new java.io.File(tableRoot, s"b$k")
      dstDir.mkdirs()
      val dst = new java.io.File(dstDir, s"v$batchId")
      org.apache.commons.io.FileUtils.deleteQuietly(dst)
      java.nio.file.Files.move(src.toPath, dst.toPath)
      writeSchemaManifest(dst, dataSchema) // before the commit marker
      new java.io.File(dst, "_SUCCESS").createNewFile(): Unit
    }
    org.apache.commons.io.FileUtils.deleteQuietly(staging)
    if (retainVersions >= 1) // per touched bucket, table-wide horizon
      retire(dir, touched.map { k =>
        val bdir = new java.io.File(dir, s"b$k")
        bdir -> committedVersions(bdir).filter(_ < batchId)
      }, math.max(retainVersions - 1, 1))
    } finally {
      inc1.unpersist(): Unit
    }
  }

  /** Current state of a [[streamingUpsertBucketed]] table: the newest
    * `_SUCCESS`-committed version of every bucket of the active
    * generation. Same read-stability caveat as
    * [[latestUpsertVersion]] — a crash-window retry rewrites the
    * newest version in place (byte-identically); strict readers take
    * each bucket's `dropRight(1)`, and a snapshot-isolated table
    * format subsumes all of this at warehouse scale.
    *
    * Reads under the union of the per-version `_SCHEMA` manifests
    * ([[mergedVersionSchema]]): under drift-tolerant ingest the
    * buckets sit at different schema eras (a bucket's schema only
    * changes when written), and sampling one footer would silently
    * drop the other eras' columns. Costs one tiny metadata read per
    * bucket, driver-side — no distributed footer job. */
  def latestBucketedUpsert(spark: SparkSession, tableRoot: String): DataFrame =
    readSnapshot(spark, tableRoot, None)

  /** TIME TRAVEL over a [[streamingUpsertBucketed]] table: its state
    * as of micro-batch `asOfBatch` — per bucket, the newest committed
    * version with id ≤ asOfBatch (a bucket untouched since then is
    * unchanged by definition; a bucket whose FIRST version is newer
    * held no data yet and is skipped). Buckets version independently,
    * which is what makes the pruned writer cheap — this read is where
    * the per-bucket version axes are stitched back into one table-wide
    * snapshot. Fails loudly when `asOfBatch` predates the retention
    * horizon ([[vacuumBucketed]] / [[rebucketUpsert]] destroy history;
    * answering from partial remains would be silently wrong). */
  def bucketedUpsertAsOf(spark: SparkSession, tableRoot: String,
      asOfBatch: Long): DataFrame =
    readSnapshot(spark, tableRoot, Some(asOfBatch))

  /** The stitched read of both snapshot readers above, under the
    * explicit manifest-union schema (see [[mergedVersionSchema]]). */
  private def readSnapshot(spark: SparkSession, tableRoot: String,
      asOf: Option[Long]): DataFrame = {
    val paths = resolveSnapshot(activeBucketedDir(new java.io.File(tableRoot)),
      asOf, None).map(_.getPath)
    require(paths.nonEmpty, "no committed bucket version" +
      asOf.fold("")(a => s" ≤ $a") + s" under $tableRoot")
    spark.read.schema(mergedVersionSchema(spark, paths))
      .parquet(paths: _*)
  }

  /** THE snapshot resolver of the versioned store: per bucket of
    * `root` (the active generation), or only bucket `bucket`, the
    * newest committed version with id ≤ `asOf` (the newest of all
    * when None) — see [[resolveAxes]]. Every bucketed read resolves
    * through here. */
  private def resolveSnapshot(root: java.io.File, asOf: Option[Long],
      bucket: Option[Long]): Seq[java.io.File] =
    resolveAxes(root, asOf, bucket.fold(bucketIds(root))(Seq(_))
      .map(k => new java.io.File(root, s"b$k")))

  /** The committed version dir of each version axis (a bucket dir, or
    * a plain table's root — a single axis) as of `asOf`, by the
    * per-axis rule [[newestCommitted]]. An as-of read is checked
    * against the retention horizon in `root` BEFORE resolving and
    * again AFTER: retention raises the horizon before it deletes, so a
    * reader that resolved just ahead of a retirement notices the
    * horizon moved past it — the loud error instead of a silently
    * partial or stale read. */
  private def resolveAxes(root: java.io.File, asOf: Option[Long],
      axes: Seq[java.io.File]): Seq[java.io.File] = {
    def requireAnswerable(resolved: Boolean): Unit = asOf.foreach { a =>
      val h = readHorizon(root)
      require(a > h,
        if (!resolved) s"as-of $a predates the retention horizon $h of " +
          s"$root — that history has been retired (vacuum, retention or " +
          "rebucket)"
        else s"as-of $a was overtaken by the retention horizon (now " +
          s"$h) while resolving $root — retry with a newer as-of")
    }
    requireAnswerable(resolved = false)
    val dirs = axes.flatMap(ax =>
      newestCommitted(ax, asOf).map(v => new java.io.File(ax, s"v$v")))
    requireAnswerable(resolved = true)
    dirs
  }

  /** Bucket ids of a bucketed layout's `b<k>` dirs, in name order. */
  private def bucketIds(root: java.io.File): Seq[Long] =
    Option(root.list()).getOrElse(Array.empty)
      .filter(_.matches("b\\d+")).sorted.map(_.drop(1).toLong).toSeq

  /** POINT LOOKUP on a [[streamingUpsertBucketed]] table: hash the id
    * with the table's own bucket count, read ONLY that bucket's newest
    * committed version, filter — O(bucket size), not O(table), the
    * read-side half of the reference's get-by-id served straight from
    * the ingested store (src/memory.rs point reads). Building the frame
    * runs no Spark job (see [[pointLookup]]). Returns an empty frame
    * when the id's bucket doesn't exist yet. Under drift-tolerant
    * ingest the hit carries the id's BUCKET's schema era — columns
    * added to the table after that bucket's last write are absent;
    * table-wide schema is [[latestBucketedUpsert]]'s job. */
  def bucketedPointLookup(spark: SparkSession, tableRoot: String,
      idCol: String, id: Any): DataFrame =
    pointLookup(spark, tableRoot, idCol, id, None)

  /** POINT LOOKUP with TIME TRAVEL: [[bucketedPointLookup]]'s
    * O(bucket) read at [[bucketedUpsertAsOf]]'s snapshot semantics —
    * hash the id to its bucket, read ONLY that bucket's newest
    * committed version with id ≤ `asOfBatch`, filter. The composition
    * of the two pinned postures (the reference's S2 get-by-id,
    * src/session_store.rs:127-136, and the versioned store's
    * point-in-time read) in one single-dir scan: buckets version
    * independently, so the id's history is entirely inside its own
    * bucket's version axis — no stitch needed for one key.
    *
    * Fails loudly past the retention horizon, re-checked after
    * resolution like the stitched read. The horizon is TABLE-wide (the
    * metadata records the max floor over buckets, not per-bucket
    * floors), so a lookup whose own bucket still holds the needed
    * version can still be refused — conservative in the fail-closed
    * direction; per-bucket horizons are a table-format feature this
    * markerfile layout deliberately doesn't reimplement. A bucket
    * whose FIRST version is newer than `asOfBatch` held no data yet:
    * empty frame, same skip semantics as the stitched as-of. */
  def bucketedPointLookupAsOf(spark: SparkSession, tableRoot: String,
      idCol: String, id: Any, asOfBatch: Long): DataFrame =
    pointLookup(spark, tableRoot, idCol, id, Some(asOfBatch))

  /** The point-lookup family's one body. The id type and the miss
    * path's schema come from a reference bucket's `_SCHEMA` manifest
    * (the first bucket holding a committed version); the caller's
    * literal is CAST to that stored id type before hashing — xxhash64
    * hashes an Int and a Long differently, so a type-mismatched
    * literal would otherwise land in the wrong bucket and silently
    * miss an existing row. The bucket comes from the writer's own rule
    * evaluated driver-side ([[graft.operators.MemoryOps.bucketOfId]]),
    * and the one bucket version is read under its manifest schema, so
    * building the frame runs no Spark job at all. */
  private def pointLookup(spark: SparkSession, tableRoot: String,
      idCol: String, id: Any, asOf: Option[Long]): DataFrame = {
    val root = activeBucketedDir(new java.io.File(tableRoot))
    val n = readNBuckets(root).getOrElse(sys.error(
      s"$root has no _NBUCKETS metadata — not a bucketed upsert table"))
    val refSchema = bucketIds(root).iterator
      .flatMap(b => resolveSnapshot(root, None, Some(b)))
      .nextOption().map(v => versionSchema(spark, v.getPath))
      .getOrElse(sys.error(
        s"no committed bucket version under $root — empty table"))
    val idType = refSchema(idCol).dataType
    val k = graft.operators.MemoryOps.bucketOfId(id, idType, n,
      spark.conf.get("spark.sql.session.timeZone"))
    resolveSnapshot(root, asOf, Some(k)).headOption match {
      case Some(v) =>
        spark.read.schema(versionSchema(spark, v.getPath)).parquet(v.getPath)
          .where(col(idCol) === lit(id).cast(idType))
      case None => // the bucket held no data (yet, as of `asOf`)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], refSchema)
    }
  }

  /** Reclaim superseded bucket versions, keeping the newest `keep`
    * committed versions of each bucket (the retention horizon — as-of
    * reads stay answerable within it), plus any superseded GENERATION
    * left behind by a [[rebucketUpsert]] whose post-commit cleanup
    * crashed. MAINTENANCE-WINDOW ONLY, and the stream must have
    * STOPPED CLEAN — enforced like [[rebucketUpsert]]: a batch that
    * committed its bucket versions but not its checkpoint entry WILL
    * re-execute on resume and must find its merge source (the newest
    * committed versions below it), which a keep-1 vacuum run in that
    * downtime would have deleted — silent data loss on the retry. The
    * drain guard refuses that window and fails closed on an
    * unresolvable checkpoint; the still-running idle query is refused
    * by the live-writer marker ([[requireNoLiveWriter]], same contract
    * as rebucket). Real table formats solve all of this with snapshot
    * retention horizons.
    *
    * Raises `_RETENTION_HORIZON` to (lowest kept version − 1) over the
    * buckets that lost versions: a bucket's state BELOW its lowest
    * kept version is unanswerable, and one unanswerable bucket poisons
    * the whole table-wide as-of (the stitched read above would
    * silently drop that bucket's rows). The horizon is raised BEFORE
    * any deletion, so a crash mid-vacuum can't leave destroyed history
    * uncovered. */
  def vacuumBucketed(tableRoot: String, keep: Int = 1): Unit = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val top = new java.io.File(tableRoot)
    requireNoLiveWriter(top)
    requireDrainedCheckpoint(top)
    val root = activeBucketedDir(top)
    retire(root, bucketIds(root).map { k =>
      val dir = new java.io.File(root, s"b$k")
      dir -> committedVersions(dir)
    }, keep)
    // stale generations: every gen dir except the active one is either
    // superseded (committed, older) or a crashed rebucket's leftover
    // staging (uncommitted) — both reclaimable inside the maintenance
    // window this op already requires
    Option(top.list()).getOrElse(Array.empty).filter(_.matches("gen\\d+"))
      .map(g => new java.io.File(top, g)).filter(_ != root)
      .foreach(g => org.apache.commons.io.FileUtils.deleteQuietly(g): Unit)
    if (root != top) // pre-rebucket root-level layout, superseded too
      retireRootLayout(top)
  }

  /** Delete a superseded ROOT-LEVEL bucket layout (data dirs + the
    * metadata files that travel with a layout) after a generation has
    * replaced it — one list of what constitutes "the layout", shared by
    * [[rebucketUpsert]]'s post-commit cleanup and [[vacuumBucketed]]'s
    * stale sweep so the two can never drift apart. `_OWNER` stays: root
    * ownership spans generations. */
  private def retireRootLayout(top: java.io.File): Unit =
    Option(top.list()).getOrElse(Array.empty)
      .filter(e => e.matches("b\\d+") || e == "_NBUCKETS" ||
        e == "_RETENTION_HORIZON")
      .foreach(e => org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(top, e)): Unit)

  /** GROW (or shrink) a bucketed upsert table's bucket count — the
    * maintenance half of the "at warehouse scale nBuckets grows with
    * the table at fixed bucket size" contract the pruned writer's cost
    * model rests on: rebucket keeps bucket size bounded as the table
    * grows, so the per-batch merge cost stays a constant instead of
    * degrading into the plain layout's O(table) as buckets fatten.
    *
    * An in-place swap cannot be made crash-safe (mid-swap, an old
    * `b<k>/v<V>` and a new one are indistinguishable), so the rewrite
    * commits through a GENERATION POINTER — the snapshot-pointer trick
    * every real table format uses: the re-hashed state is fully
    * written into a fresh `gen<n>` dir (buckets at version V = the max
    * committed version, `_NBUCKETS` = the new count, horizon = V − 1
    * since per-version history below V is not re-hashed), then made
    * active by ONE atomic `_GEN_COMMIT` marker creation. Readers and
    * the streaming writer resolve the newest committed generation
    * first, so a crash anywhere before the marker leaves the old
    * layout untouched and a re-run simply redoes the staging; a crash
    * after it leaves reclaimable garbage ([[vacuumBucketed]] sweeps
    * superseded generations).
    *
    * MAINTENANCE-WINDOW ONLY, and the stream must have STOPPED clean:
    * a crashed batch B retries on resume and merges against the newest
    * committed versions < B — which this rewrite destroys (the new
    * generation starts at V ≥ B). The crashed-in-flight case is caught
    * mechanically: the `_OWNER` marker records the checkpoint path, so
    * rebucket compares its offsets log against its commits log and
    * REFUSES while a batch is in flight (resume the query once to
    * drain it), and refuses BLIND maintenance too — an unresolvable
    * checkpoint fails closed. The STILL-RUNNING idle query (a fresh
    * batch started mid-rewrite would commit into the old layout the
    * generation flip then abandons) is caught by the live-writer
    * marker: [[requireNoLiveWriter]] refuses while `_WRITER` exists,
    * and the writer's termination listener removes it on any clean or
    * failed stop (see [[startTrackedWriter]]; the heartbeat lets the
    * refusal distinguish a RUNNING cross-process writer from a crash).
    * Anonymous tables need no drain guard —
    * their temp checkpoint dies with the incarnation, so no retry can
    * ever target them. */
  def rebucketUpsert(spark: SparkSession, tableRoot: String, idCol: String,
      newBuckets: Int): Unit = {
    require(newBuckets >= 1, s"newBuckets must be >= 1, got $newBuckets")
    val top = new java.io.File(tableRoot)
    requireNoLiveWriter(top)
    requireDrainedCheckpoint(top)
    val cur = activeBucketedDir(top)
    require(bucketIds(cur).nonEmpty,
      s"$tableRoot is not a bucketed upsert table (no b<k> dirs)")
    val maxV = (resolveSnapshot(cur, None, None)
      .map(_.getName.drop(1).toLong) :+ -1L).max
    require(maxV >= 0, s"no committed bucket version under $tableRoot")
    val state = latestBucketedUpsert(spark, tableRoot)
      .withColumn("__bucket",
        graft.operators.MemoryOps.bucketOf(idCol, newBuckets))
    val genId = (Option(top.list()).getOrElse(Array.empty)
      .filter(_.matches("gen\\d+")).map(_.drop(3).toLong) :+ 0L).max + 1
    val gen = new java.io.File(top, s"gen$genId")
    org.apache.commons.io.FileUtils.deleteQuietly(gen) // crashed prior run
    val staging = new java.io.File(gen, "_staging")
    state.repartition(col("__bucket"))
      .write.partitionBy("__bucket").mode("overwrite").parquet(staging.getPath)
    val dataSchema = org.apache.spark.sql.types.StructType(
      state.schema.fields.filterNot(_.name == "__bucket"))
    Option(staging.list()).getOrElse(Array.empty)
      .filter(_.startsWith("__bucket=")).foreach { part =>
        val k = part.stripPrefix("__bucket=")
        val dst = new java.io.File(gen, s"b$k/v$maxV")
        dst.getParentFile.mkdirs()
        java.nio.file.Files.move(
          new java.io.File(staging, part).toPath, dst.toPath)
        writeSchemaManifest(dst, dataSchema) // before the commit marker
        new java.io.File(dst, "_SUCCESS").createNewFile(): Unit
      }
    org.apache.commons.io.FileUtils.deleteQuietly(staging)
    writeMetaFile(gen, "_NBUCKETS", newBuckets.toString)
    writeMetaFile(gen, "_RETENTION_HORIZON",
      math.max(maxV - 1, readHorizon(cur)).toString)
    // THE commit point: one atomic marker creation flips the table to
    // the new generation; everything before this line was invisible
    require(new java.io.File(gen, "_GEN_COMMIT").createNewFile(),
      s"generation $gen already committed — concurrent rebucket?")
    // post-commit cleanup of the superseded layout; a crash here only
    // strands garbage that vacuumBucketed reclaims
    if (cur == top) retireRootLayout(top)
    else org.apache.commons.io.FileUtils.deleteQuietly(cur): Unit
  }

  /** Reclaim superseded PLAIN-layout versions, keeping the newest
    * `keep` committed ones — each plain version is a full table copy,
    * so an unvacuumed ingest's footprint grows O(batches × table): at
    * warehouse scale retention is not optional. Raises the horizon
    * like [[vacuumBucketed]] and carries the same live-writer and
    * drained-checkpoint guards for the same reasons: an idle live
    * query's next merge reads the very version a keep-1 vacuum would
    * delete, and so does a crashed-but-table-committed batch retried
    * on resume. */
  def vacuumUpsert(tableRoot: String, keep: Int = 1): Unit = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val root = new java.io.File(tableRoot)
    requireNoLiveWriter(root)
    requireDrainedCheckpoint(root)
    retire(root, Seq(root -> committedVersions(root)), keep)
  }

  /** TIME TRAVEL over a [[streamingUpsert]] table: the newest
    * committed version dir with id ≤ asOfBatch — the table's state
    * after that micro-batch. Fails loudly past the retention horizon,
    * re-checked after resolution like [[bucketedUpsertAsOf]], or
    * before the first version. */
  def upsertVersionAsOf(tableRoot: String, asOfBatch: Long): String =
    plainVersion(tableRoot, Some(asOfBatch))

  /** The plain layout's read: one version axis, resolved by the same
    * rule as the bucketed reads ([[resolveAxes]]). */
  private def plainVersion(tableRoot: String, asOf: Option[Long]): String = {
    val root = new java.io.File(tableRoot)
    val v = resolveAxes(root, asOf, Seq(root))
    require(v.nonEmpty, "no committed version" +
      asOf.fold("")(a => s" ≤ $a") + s" under $tableRoot")
    s"$tableRoot/${v.head.getName}"
  }

  /** The generation-pointer read side (see [[rebucketUpsert]]): the
    * newest `gen<n>` dir whose `_GEN_COMMIT` marker exists is the
    * table; with none, the root itself is (every table starts
    * root-level; only a rebucket mints generations). An uncommitted
    * gen dir is a crashed rebucket's invisible staging. */
  private[graft] def activeBucketedDir(top: java.io.File): java.io.File = {
    val committed = Option(top.list()).getOrElse(Array.empty)
      .filter(_.matches("gen\\d+")).map(_.drop(3).toLong)
      .filter(g => new java.io.File(top, s"gen$g/_GEN_COMMIT").exists())
    if (committed.isEmpty) top else new java.io.File(top, s"gen${committed.max}")
  }

  private def readNBuckets(dir: java.io.File): Option[Int] = {
    val f = new java.io.File(dir, "_NBUCKETS")
    if (f.exists())
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8").trim.toInt)
    else None
  }

  /** Per-version SCHEMA MANIFEST (round 15, guide §6 — the table-format
    * posture: schema lives in table metadata, not in a per-read footer
    * job). Every committed bucket-version dir carries its data-file
    * schema as `_SCHEMA` JSON, stamped at promote time BEFORE the
    * `_SUCCESS` marker; readers union the manifests DRIVER-SIDE and
    * hand the parquet scan an explicit schema — the distributed
    * footer-reading job that parquet `mergeSchema` spawned on EVERY
    * micro-batch merge (and every read-back stitch) was ~0.3 s of each
    * ~1 s replay batch. A version dir stamped before the manifest
    * existed falls back to parquet schema inference over its footer
    * (its files were written by one clustered task — one schema),
    * which runs a Spark job. */
  private[graft] def writeSchemaManifest(dir: java.io.File,
      schema: org.apache.spark.sql.types.StructType): Unit =
    writeMetaFile(dir, "_SCHEMA", nullableSchema(schema).json)

  /** `schema` with every field nullable — parquet footers report
    * optional fields, so this is exactly what a read that inferred the
    * schema from the files would see: the `_SCHEMA` manifest's form and
    * the form a replay feed's stream reads its staged files with. */
  private def nullableSchema(schema: StructType): StructType =
    StructType(schema.map(_.copy(nullable = true)))

  private[graft] def versionSchema(spark: SparkSession, path: String)
      : org.apache.spark.sql.types.StructType = {
    val f = new java.io.File(path, "_SCHEMA")
    if (f.isFile)
      org.apache.spark.sql.types.DataType.fromJson(
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    else spark.read.parquet(path).schema // pre-manifest dir: a footer job
  }

  /** Add-only union of version schemas, first-seen field order — the
    * shape parquet `mergeSchema` produces for the engine's add-only
    * drift contract (e22: a feed GAINS columns; nothing ever changes a
    * column's type). A type change fails loudly instead of silently
    * widening — no caller drifts types, so reaching that require is a
    * corruption signal, not a feature gap. Version dirs (`.../b<k>/v<n>`)
    * are merged in committed-version order, then bucket order, so the
    * field order never depends on how the caller listed them; other
    * paths keep the caller's order. */
  private[graft] def mergedVersionSchema(spark: SparkSession,
      paths: Seq[String]): org.apache.spark.sql.types.StructType =
    paths.sortBy(versionOrder).map(versionSchema(spark, _)).reduceLeft { (a, b) =>
      b.fields.foreach { f =>
        a.fields.find(_.name == f.name).foreach { x =>
          require(x.dataType == f.dataType,
            s"version schemas disagree on the TYPE of ${f.name} " +
              s"(${x.dataType} vs ${f.dataType}); drift is add-only")
        }
      }
      org.apache.spark.sql.types.StructType(
        a.fields ++ b.fields.filterNot(f => a.fields.exists(_.name == f.name)))
    }

  private val VersionDir = """.*/b(\d+)/v(\d+)/?""".r

  /** (version, bucket) of a bucket-version dir; anything else sorts
    * first, keeping its relative order (the sort is stable). */
  private def versionOrder(path: String): (Long, Long) = path match {
    case VersionDir(b, v) => (v.toLong, b.toLong)
    case _ => (-1L, -1L)
  }

  /** Highest version id whose table state is UNANSWERABLE (destroyed
    * by vacuum or rebucket); −1 = full history intact. */
  private def readHorizon(dir: java.io.File): Long = {
    val f = new java.io.File(dir, "_RETENTION_HORIZON")
    if (f.exists())
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim.toLong
    else -1L
  }

  /** Atomic small-metadata write: temp file + ATOMIC_MOVE, so a reader
    * never observes a truncated value (same rationale as the `_OWNER`
    * marker's link-based creation, minus the lose-the-race semantics —
    * metadata files are owner-serialized overwrites). */
  private def writeMetaFile(dir: java.io.File, name: String,
      value: String): Unit = {
    dir.mkdirs()
    val tmp = java.nio.file.Files.createTempFile(dir.toPath, "._meta_", ".tmp")
    java.nio.file.Files.write(tmp, value.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, new java.io.File(dir, name).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Owner token of the root's `_OWNER` marker, if stamped. */
  private def readOwnerToken(root: java.io.File): Option[String] = {
    val f = new java.io.File(root, "_OWNER")
    if (f.exists())
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    else None
  }

  /** Current `_WRITER` marker content, if present and readable. */
  private def readWriterMarker(root: java.io.File): Option[String] = {
    val f = new java.io.File(root, "_WRITER")
    if (!f.exists()) None
    else
      try Some(new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8").trim)
      catch { case _: java.io.IOException => None }
  }

  /** ATOMIC create-if-absent stamp of the marker `name` (`_OWNER` or
    * `_WRITER`): the full content goes to a temp file which is then
    * link(2)'d into place, so for `_WRITER` two fresh queries
    * racing a still-unowned root can never BOTH believe they stamped
    * (the round-12 advisor's check-then-write race: both observe no
    * marker, both write, and whichever content survives, the OTHER
    * query's termination reap could later disarm the survivor's guard).
    * Exactly one caller returns true; a `_WRITER` loser falls through
    * to the owner-gated paths in [[startTrackedWriter]], an `_OWNER`
    * loser to [[requireOwner]]'s compare. Falls back to a
    * CREATE_NEW open where hardlinks are unsupported — also atomic
    * create-if-absent (O_CREAT|O_EXCL), so the no-hardlink path keeps
    * the exactly-one-winner contract; the only loss vs link(2) is that
    * a reader racing the fallback can observe a partially-written
    * marker (an unreadable/foreign value, which every consumer already
    * fails closed on), where link(2) publishes full content at once. */
  private[graft] def stampIfAbsent(root: java.io.File, name: String,
      value: String): Boolean = {
    root.mkdirs()
    val marker = new java.io.File(root, name).toPath
    val tmp = java.nio.file.Files.createTempFile(root.toPath,
      "._stamp_", ".tmp")
    try {
      java.nio.file.Files.write(tmp, value.getBytes("UTF-8")): Unit
      try { java.nio.file.Files.createLink(marker, tmp); true }
      catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => createNewWithContent(marker, value)
      }
    } finally java.nio.file.Files.deleteIfExists(tmp): Unit
  }

  /** Atomic create-if-absent WITHOUT hardlinks: a CREATE_NEW open maps
    * to O_CREAT|O_EXCL, so of N racers exactly one creates the file
    * (the round-13 advisor's fallback fix — the previous no-replace
    * move was a TOCTOU existence check, under which two racers could
    * both believe they stamped: the exact race the link(2) path
    * closes). Returns false on FileAlreadyExists or any other IO
    * failure — the loser semantics of [[stampIfAbsent]]. A write
    * or close failure AFTER the create succeeded deletes what was
    * created before returning false: in loser semantics "false" means
    * "someone else's valid marker is in place", and an empty/partial
    * marker we abandoned would instead block every later stamp
    * (including the failed-start restore path) and read to
    * [[requireNoLiveWriter]] as a crashed writer until an operator
    * hand-deletes — content that was never published belongs to no one. */
  private[graft] def createNewWithContent(path: java.nio.file.Path,
      value: String): Boolean =
    try {
      val ch = java.nio.file.Files.newByteChannel(path,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        try ch.write(java.nio.ByteBuffer.wrap(
          value.getBytes("UTF-8"))): Unit
        finally ch.close()
        true
      } catch { case _: java.io.IOException =>
        // we created the file (CREATE_NEW succeeded) but never
        // published full content — remove the garbage, best-effort
        try java.nio.file.Files.deleteIfExists(path): Unit
        catch { case _: java.io.IOException => () }
        false
      }
    } catch { case _: java.io.IOException => false }

  /** How old a `_WRITER_HB` heartbeat may be before
    * [[requireNoLiveWriter]] stops calling the writer RUNNING and
    * reverts to the crash guidance. Heartbeats refresh on every
    * progress/idle event AND on a timer at a quarter of this threshold
    * (events alone go silent inside a long micro-batch — progress only
    * fires at batch completion), so a minute of silence means the
    * process is gone — or wedged so hard (GC death spiral) that for a
    * fail-closed guard the advice is the same. Volatile so specs can
    * compress the stale boundary.
    *
    * CLOCK ASSUMPTION: staleness compares the `epochMillis` the WRITER
    * stamped against the READER's `System.currentTimeMillis()` — two
    * processes, one wall clock, which holds on a single host (the
    * protocol's scope: `_WRITER` lives on a local filesystem). Across
    * hosts sharing a mounted root, the comparison inherits wall-clock
    * skew: a reader running fast by more than this threshold calls a
    * live writer crashed, one running slow calls a crashed writer
    * live. Both degrade GUIDANCE only — the guard itself stays
    * fail-closed on the marker, so skew can delay maintenance or
    * sharpen the operator's judgment call, never license a destructive
    * op — the same honesty bound [[clearWriterIf]]'s documented claim
    * window carries; a real table format's lock service replaces both. */
  @volatile private[graft] var writerHeartbeatStaleMs: Long = 60000L

  /** Refresh the root's `_WRITER_HB` heartbeat: `<runId> <epochMillis>`,
    * atomically replaced so a reader never sees a truncated value. The
    * heartbeat rides in its OWN file so the `_WRITER` guard bit keeps
    * single-value semantics (the claim-then-check reap compares whole
    * content) and is never absent mid-refresh — a heartbeat written
    * through the marker itself would open a marker-gone window in
    * [[requireNoLiveWriter]]'s poll on every beat. Wall-clock epoch is
    * the right clock: the consumer comparing ages may be another
    * process (same host — this is a local markerfile protocol). */
  private def writeHeartbeat(root: java.io.File, runId: String): Unit =
    writeMetaFile(root, "_WRITER_HB",
      s"$runId ${System.currentTimeMillis()}")

  /** Age in ms of the `_WRITER_HB` heartbeat iff it names `marker`;
    * None when the file is absent, unreadable, or names another run.
    * THE one parser of the heartbeat wire format
    * (`<runId> <epochMillis>`): [[heartbeatFresh]] (the pre-start
    * replace gate) and [[requireNoLiveWriter]] (the refusal guidance)
    * both derive from it, so a format change cannot silently split
    * their judgments — two hand-rolled copies updated out of step
    * would let the gate call every incumbent dead while the guidance
    * still called it live, re-opening the disarm race the gate closes. */
  private def heartbeatAgeMs(root: java.io.File,
      marker: String): Option[Long] = {
    val hb = new java.io.File(root, "_WRITER_HB")
    try {
      if (!hb.exists()) None
      else new String(java.nio.file.Files.readAllBytes(hb.toPath),
        "UTF-8").trim.split(' ') match {
        case Array(`marker`, millis) if millis.forall(_.isDigit) =>
          Some(System.currentTimeMillis() - millis.toLong)
        case _ => None // another incarnation's heartbeat, or garbage
      }
    } catch { case _: Exception => None }
  }

  /** True iff `_WRITER_HB` names `marker` and is younger than
    * [[writerHeartbeatStaleMs]] — the "that writer is RUNNING right
    * now" signal. Any read/parse failure reads as not-fresh: every
    * caller uses freshness to REFRAIN from touching a live writer's
    * state, so the failure direction only makes the caller bolder
    * against a marker whose owner left no legible evidence of life —
    * the same judgment [[requireNoLiveWriter]]'s guidance encodes. */
  private def heartbeatFresh(root: java.io.File, marker: String): Boolean =
    heartbeatAgeMs(root, marker).exists(_ < writerHeartbeatStaleMs)

  /** Reap the heartbeat iff it names `runId` — advisory metadata, so a
    * plain read-compare-delete suffices (a racing newer writer loses
    * at most one beat, which its next beat rewrites; the GUARD bit is
    * the marker, reaped claim-then-check). */
  private def clearHeartbeatIf(root: java.io.File, runId: String): Unit = {
    val f = new java.io.File(root, "_WRITER_HB")
    try {
      if (f.exists() && new String(java.nio.file.Files.readAllBytes(
          f.toPath), "UTF-8").startsWith(runId))
        java.nio.file.Files.deleteIfExists(f.toPath): Unit
    } catch { case _: java.io.IOException => () }
  }

  /** Start a writer query with the root's LIVE-WRITER guard attached —
    * the mechanism behind the half of the maintenance-window contract
    * that used to be prose ("stop the stream first"):
    * [[requireDrainedCheckpoint]] catches a CRASHED in-flight batch
    * from the offsets/commits logs, but a STILL-RUNNING idle query is
    * invisible to any filesystem log — it would commit its next batch
    * into the layout a concurrent [[rebucketUpsert]] abandons.
    * `_WRITER` names the live query so [[requireNoLiveWriter]] can
    * refuse mechanically; a JVM crash leaves the marker behind BY
    * DESIGN (maintenance fails closed until the operator confirms the
    * process is gone and deletes it — the record-the-judgment contract
    * shared with the `_OWNER` guard).
    *
    * Timeline of the stamp — each step closes a round-12 advisor gap:
    *
    *  1. BEFORE start(): a provisional marker (`starting-<uuid>`) is
    *     stamped — atomic create-if-absent ([[stampIfAbsent]]),
    *     or an owner-gated replace when the root's `_OWNER` already
    *     matches this query's owner token AND the incumbent marker's
    *     heartbeat is stale or absent (the checkpointed-resume case:
    *     the dead incarnation's stale marker is replaced before the
    *     new one is even live; a FRESH heartbeat means the incumbent
    *     is running — a same-owner duplicate start must not disarm it
    *     whether its own start() goes on to throw or to take over).
    *     When this step stamps, the query is never live-but-unmarked —
    *     the old post-start() stamp left a window where the first
    *     micro-batch could already be executing with no marker for
    *     maintenance to see. A heartbeat is stamped WITH the
    *     provisional marker, so even the startup window (checkpoint
    *     recovery, a long first batch) reads as a RUNNING writer, never
    *     as "crashed — delete it". If start() itself throws, the
    *     provisional stamp and heartbeat are reaped on the way out.
    *  2. AFTER start(): the provisional content is replaced with the
    *     runId. A plain replace is sound here: this query holds the
    *     marker (its content is our token), and the only writer that
    *     could legally interleave an owner-gated stamp is a
    *     same-checkpoint twin — excluded in-process by Spark's
    *     checkpoint lock, and cross-process twins corrupt the
    *     checkpoint itself long before this marker matters (the
    *     protocol's documented cross-process bound). When step 1
    *     REFUSED the replace (fresh incumbent) and start() succeeded
    *     anyway — Spark's DEFAULT stopActiveRunOnRestart=true stops a
    *     same-checkpoint incumbent and hands over rather than throwing
    *     — step 2b acquires the marker owner-gated immediately, so the
    *     successor is marked from the moment start() returns instead
    *     of from its first beat. Residual, documented: between the
    *     stopped incumbent's async reap and step 2b's write the root
    *     can be briefly unmarked — bounded by start()'s return, the
    *     same class as [[clearWriterIf]]'s claim window, where the old
    *     15-second-scale first-beat wait was an operational window.
    *  3. ON EVERY progress/idle event AND on a timer ("beat" — the
    *     timer covers the inside of a long micro-batch, where progress
    *     events go silent until batch completion): the marker is
    *     re-asserted. If it vanished (an operator recorded a crash
    *     judgment against a marker that actually belonged to a live
    *     resume) it is re-stamped; if it names another run while
    *     `_OWNER` names US — the crash-before-first-batch resume: the
    *     root was still unowned at start, so step 1 had to leave the
    *     dead incarnation's marker in place, and only the first
    *     batch's requireOwner-established ownership licenses the
    *     replace — it is taken owner-gated. The
    *     [[requireNoLiveWriter]] error's delete-the-marker guidance is
    *     therefore SAFE against a live resumed writer: the next beat
    *     re-arms the guard. Each beat that holds the marker also
    *     refreshes `_WRITER_HB`, which lets maintenance distinguish a
    *     RUNNING cross-process writer (fresh heartbeat: refuse hard,
    *     do not delete) from a crashed one (stale: the existing
    *     operator-deletes-marker contract) — closing the round-12
    *     verdict's one remaining live-writer residual.
    *  4. ON TERMINATION (clean stop or failure): the claim-then-check
    *     reap ([[clearWriterIf]]) removes the marker iff it still
    *     carries what THIS query last wrote, then drops the heartbeat.
    *
    * A query that never stamped reaps nothing (reaping would only open
    * the claim window on the live owner's marker) — but it still
    * listens: its beats acquire the marker the moment the root becomes
    * legitimately its own (step 3). A mis-owned query on an owned root
    * never acquires anything: it fails [[requireOwner]] at its first
    * batch and dies with the owner's marker untouched. */
  private def startTrackedWriter(session: SparkSession,
      root: java.io.File, owner: String)(
      startQuery: () => org.apache.spark.sql.streaming.StreamingQuery)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val token = "starting-" + java.util.UUID.randomUUID().toString
    // what THIS query most recently wrote into the marker (null = not
    // the holder) — the reap key, so a non-holder can never reap
    val stamped =
      new java.util.concurrent.atomic.AtomicReference[String](null)
    // beats and the reap are mutually exclusive and the reap is final:
    // without this, a beat delivered on the listener-bus (or timer)
    // thread could re-stamp the marker AFTER the reap cleared it, with
    // no reaper left — a cleanly-stopped table carrying a permanent
    // dead-run marker that fails every later maintenance op until an
    // operator hand-deletes (round-13 review finding)
    val lock = new Object
    var done = false // guarded by lock
    // the provisional stamp carries a heartbeat from the very first
    // write: a marker observed during startup (checkpoint recovery, or
    // a long first batch before any event fires) must read as a
    // RUNNING writer, never as "crashed — delete it" (round-13 review
    // finding: the delete guidance during the startup window was the
    // data-loss direction)
    // when the pre-start path replaces an incumbent marker, its content
    // is kept so a failed start() can RESTORE it instead of leaving the
    // root unguarded (see the catch below)
    var replacedMarker: Option[String] = None
    if (stampIfAbsent(root, "_WRITER", token)) stamped.set(token)
    else {
      val prior = readWriterMarker(root)
      // owner-gated replace, gated on the incumbent looking DEAD
      // (stale or absent heartbeat). Ungated, an in-process duplicate
      // start on the same root+checkpoint — same owner token — would
      // replace the LIVE twin's marker HERE, before Spark's checkpoint
      // lock makes start() throw, and the failed-start catch would
      // then delete what this wrote: the live writer disarmed until
      // its next beat, a window where vacuum/rebucket could destroy
      // the layout under it (round-13 advisor, medium). A FRESH
      // heartbeat falsifies the premise this replace exists for ("the
      // marker is a dead incarnation's leftover"), so leave it alone;
      // a legal starter whose incumbent Spark stops in the handover
      // acquires the marker at step 2b, right after start() returns.
      if (readOwnerToken(root).contains(owner) &&
          !prior.exists(p => heartbeatFresh(root, p))) {
        writeMetaFile(root, "_WRITER", token)
        stamped.set(token)
        replacedMarker = prior
      }
    }
    if (stamped.get == token) writeHeartbeat(root, token)
    val q =
      try startQuery()
      catch { case t: Throwable =>
        Option(stamped.get).foreach { v =>
          clearHeartbeatIf(root, v)
          clearWriterIf(root, v)
        }
        // a replaced incumbent was stale-LOOKING, not proven dead (a
        // wedged writer beats no heartbeat): put its marker back so
        // our failed start leaves the guard exactly as found — minus
        // the incumbent's heartbeat, which our provisional beat
        // overwrote; marker-without-heartbeat is the fail-closed shape
        replacedMarker.foreach(p => stampIfAbsent(root, "_WRITER", p): Unit)
        throw t
      }
    val run = q.runId.toString
    if (stamped.compareAndSet(token, run)) { // step 2
      writeMetaFile(root, "_WRITER", run)
      writeHeartbeat(root, run)
    } else if (readOwnerToken(root).contains(owner) &&
        stamped.compareAndSet(null, run)) { // step 2b
      // the pre-start gate refused to replace a FRESH incumbent, yet
      // start() SUCCEEDED. Under Spark's DEFAULT
      // spark.sql.streaming.stopActiveRunOnRestart=true a
      // same-checkpoint duplicate start does not throw — Spark STOPS
      // the incumbent and hands its checkpoint over, so we arrive here
      // with the incumbent terminating and its reap about to delete
      // the marker it still holds. Waiting for our first beat (up to a
      // quarter of the stale threshold) would leave the root
      // live-but-unmarked for that whole window (round-14 review
      // finding); acquire now, owner-gated exactly like a beat's
      // takeover. Ordering vs the incumbent's async reap is safe both
      // ways: its claim-then-check reads OUR content and restores, or
      // it deleted first and this write re-creates. Owner mismatch
      // (a mis-owned query, or a fresh-root stamp race before any
      // owner exists) keeps the old posture: stay unmarked until the
      // first batch establishes ownership and a beat acquires.
      writeMetaFile(root, "_WRITER", run)
      writeHeartbeat(root, run)
    }
    def beat(): Unit = lock.synchronized { // step 3
      // `holding` = the marker content observed or written in THIS
      // beat equals our run. Gating the heartbeat on a stale `stamped`
      // instead (the pre-round-14 shape) let a beat refresh `_WRITER_HB`
      // naming OUR run while `_WRITER` named a foreign one — and
      // [[requireNoLiveWriter]], finding no heartbeat matching the
      // marker, would emit the delete-the-marker guidance against a
      // possibly LIVE writer: the exact misguidance the heartbeat
      // exists to prevent (round-13 advisor). Losing the marker also
      // nulls `stamped`, so a non-holder can neither beat nor reap.
      if (done) return
      val holding = readWriterMarker(root) match {
        case Some(`run`) => // already ours; re-arm the reap key in case
          // a foreign interlude nulled it and the content came back
          stamped.set(run); true
        case None => // re-arm a deleted guard under a live writer
          val won = stampIfAbsent(root, "_WRITER", run)
          stamped.set(if (won) run else null)
          won
        case Some(_) => // another run's marker: take iff root is OURS
          if (readOwnerToken(root).contains(owner)) {
            writeMetaFile(root, "_WRITER", run)
            stamped.set(run)
            true
          } else { stamped.set(null); false }
      }
      if (holding) writeHeartbeat(root, run)
    }
    def reap(): Unit = lock.synchronized { // step 4
      if (done) return
      done = true
      Option(stamped.getAndSet(null)).foreach { v =>
        // heartbeat FIRST: the marker's disappearance is the signal
        // pollers watch, so by the time they see it gone the heartbeat
        // must already be gone too (the reverse order dangles an
        // orphan heartbeat for a reader that reacted to the marker
        // instantly; a crash between the two deletions leaves
        // marker-without-heartbeat — fail-closed, the safe direction)
        clearHeartbeatIf(root, v)
        clearWriterIf(root, v)
      }
    }
    // event beats alone go silent inside a LONG micro-batch (progress
    // fires at batch COMPLETION, idle only with no data), so a merge
    // longer than the stale threshold would read as "crashed" mid-run
    // — the timer keeps the heartbeat fresh through it (round-13
    // review finding). The timer also self-heals: a query found no
    // longer active reaps and cancels even if the termination event
    // was never seen.
    val hbPeriodMs = math.max(writerHeartbeatStaleMs / 4, 1000L)
    val hbTimer = new java.util.Timer("graft-writer-hb", true)
    val listener: org.apache.spark.sql.streaming.StreamingQueryListener =
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        override def onQueryStarted(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryProgress(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
          if (e.progress.runId == q.runId) beat()
        override def onQueryIdle(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryIdleEvent): Unit =
          if (e.runId == q.runId) beat()
        override def onQueryTerminated(
            e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
          if (e.runId == q.runId) {
            reap()
            hbTimer.cancel()
            session.streams.removeListener(this)
          }
      }
    session.streams.addListener(listener)
    hbTimer.scheduleAtFixedRate(new java.util.TimerTask {
      override def run(): Unit =
        if (session.streams.active.exists(_.runId == q.runId)) beat()
        else { reap(); hbTimer.cancel() }
    }, hbPeriodMs, hbPeriodMs)
    // the query may have terminated before the listener registered — the
    // event then never fires; reap marker, heartbeat, timer AND listener
    // here (they would otherwise accumulate per short-lived query)
    if (!session.streams.active.exists(_.runId == q.runId)) {
      reap()
      hbTimer.cancel()
      session.streams.removeListener(listener)
    }
    q
  }

  /** Remove the live-writer marker iff it carries `runId`, as a
    * CLAIM-THEN-CHECK: the marker is atomically renamed aside, read,
    * and either deleted (ours) or restored (not ours — unless a newer
    * stamp already took the name, in which case the claimed content
    * named a superseded runId either way and is dropped). A plain
    * read-then-delete would let a lagging listener of a dead
    * incarnation reap a newer incarnation's fresh marker.
    *
    * FAIL-CLOSED posture on errors after a successful claim: an
    * unreadable claimed file restores rather than deletes, and the
    * restore tries the atomic create-if-absent link first and falls
    * back to a no-replace move where hardlinks are unsupported — only
    * if BOTH primitives fail does the marker stay lost (best-effort
    * bound of a markerfile protocol; a real table format's lock
    * service replaces all of this). Residual, documented: during the
    * claim window the marker is briefly absent, so a concurrent
    * [[requireNoLiveWriter]] racing a lagging reaper AND a live newer
    * writer can pass — microseconds wide, and reachable only when a
    * reaper claims a marker that is not its own. */
  private def clearWriterIf(root: java.io.File, runId: String): Unit = {
    val f = new java.io.File(root, "_WRITER")
    if (!f.exists()) return
    val tmp = new java.io.File(root,
      "._writer_reap_" + java.util.UUID.randomUUID().toString)
    val claimed =
      try { java.nio.file.Files.move(f.toPath, tmp.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE); true }
      catch { case _: java.io.IOException => false } // lost the claim race
    if (!claimed) return
    val content =
      try Some(new String(java.nio.file.Files.readAllBytes(
        tmp.toPath), "UTF-8").trim)
      catch { case _: java.io.IOException => None }
    if (content.contains(runId))
      java.nio.file.Files.deleteIfExists(tmp.toPath): Unit
    else {
      // not ours (or unreadable — fail closed): put it back unless a
      // newer stamp already owns the name
      try java.nio.file.Files.createLink(f.toPath, tmp.toPath)
      catch {
        case _: java.nio.file.FileAlreadyExistsException => ()
        case _: java.io.IOException => // no hardlink support: move back
          try java.nio.file.Files.move(tmp.toPath, f.toPath) // no-replace
          catch { case _: java.io.IOException => () }
      }
      java.nio.file.Files.deleteIfExists(tmp.toPath): Unit
    }
  }

  /** How long [[requireNoLiveWriter]] waits for a just-stopped query's
    * termination listener to reap the marker before refusing. Only the
    * REFUSAL path ever waits this long (the happy path exits the poll
    * the moment the marker disappears); specs that assert the refusal
    * shrink it so the suite doesn't pay three full graces. */
  @volatile private[graft] var liveWriterGraceMs: Long = 10000L

  /** Refuse destructive maintenance while a writer query is LIVE on
    * this root — even idle: an idle query's next batch would commit
    * into the old layout a rebucket's generation flip abandons, or
    * merge against versions a vacuum deletes. A clean stop removes the
    * marker through the termination listener, which fires moments
    * after `stop()` returns — so a marker that exists right now gets a
    * short grace poll before this refuses (the just-stopped-query
    * case, e.g. a maintenance cadence running immediately after
    * [[drainAndAwait]]). */
  private def requireNoLiveWriter(top: java.io.File): Unit = {
    val f = new java.io.File(top, "_WRITER")
    if (!f.exists()) return
    val deadline = System.nanoTime() + liveWriterGraceMs * 1000 * 1000
    while (f.exists() && System.nanoTime() < deadline) Thread.sleep(50)
    if (f.exists()) {
      val runId = try new String(java.nio.file.Files.readAllBytes(
        f.toPath), "UTF-8").trim
        catch { case _: java.io.IOException => "<unreadable>" }
      // the heartbeat (advisory, written on every progress/idle beat)
      // splits the refusal guidance the round-12 verdict asked for: a
      // FRESH beat means a writer is RUNNING — possibly in another
      // process, where the marker alone cannot distinguish live from
      // crashed — so deletion guidance would be the data-loss path
      val hbAge: Option[Long] = heartbeatAgeMs(top, runId)
      val guidance = hbAge match {
        case Some(age) if age < writerHeartbeatStaleMs =>
          f"Its heartbeat is FRESH (${age / 1000.0}%.1f s old): the " +
            "query is running RIGHT NOW, possibly in another process " +
            "— do NOT delete the marker; stop that query instead"
        case Some(age) =>
          f"Its heartbeat is STALE (${age / 1000.0}%.1f s old): the " +
            "process has almost certainly crashed — verify it is " +
            s"gone, then delete $top/_WRITER to record that judgment"
        case None =>
          "It left no matching heartbeat (a pre-heartbeat marker, or " +
            "it died before stamping one); if its process is gone, " +
            s"delete $top/_WRITER to record that judgment"
      }
      throw new IllegalArgumentException(
        s"tableRoot $top has a LIVE writer (query run $runId): a " +
          "still-running query — even an idle one — would commit its " +
          "next batch into the layout this maintenance op destroys. " +
          guidance + " — the drained-checkpoint guard still covers " +
          "the crashed batch itself")
    }
  }

  /** Refuse destructive maintenance while the owning checkpoint holds
    * an in-flight batch (offsets logged past commits): that batch WILL
    * re-execute on resume and must find its committed predecessors,
    * which the maintenance op is about to destroy. The `_OWNER` marker
    * stores the checkpoint path (anonymous owners have no resumable
    * checkpoint — nothing can retry against them).
    *
    * FAILS CLOSED: a checkpoint path that doesn't resolve from this
    * host (deleted, moved, relative from another cwd, unmounted) is
    * indistinguishable from one hiding an in-flight batch, and the op
    * behind this guard is destructive — so an unlistable offsets log
    * REFUSES rather than proceeding blind. A checkpoint that is truly
    * gone forever means no retry can ever arrive; the operator records
    * that judgment by deleting the `_OWNER` marker, not by this guard
    * guessing.
    *
    * This guard covers the CRASHED-in-flight case only. It cannot see
    * a STILL-RUNNING idle query (offsets == commits) that starts a new
    * batch mid-rewrite — stopping the stream first is the non-
    * negotiable half of the maintenance-window contract. */
  private def requireDrainedCheckpoint(top: java.io.File): Unit = {
    val marker = new java.io.File(top, "_OWNER")
    if (!marker.exists()) return
    val owner = new String(
      java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8")
    if (owner.startsWith("anon-")) return
    def newest(sub: String): Option[Long] = {
      val d = new java.io.File(owner, sub)
      Option(d.list()).map(_
        .filter(f => f.nonEmpty && f.forall(_.isDigit))
        .map(_.toLong).sorted.lastOption.getOrElse(-1L))
    }
    (newest("offsets"), newest("commits")) match {
      case (Some(off), com) =>
        require(off <= com.getOrElse(-1L),
          s"checkpoint $owner has batch $off in flight (newest commit: " +
            s"${com.getOrElse(-1L)}) — it will re-execute on resume " +
            "against history this maintenance op destroys; resume the " +
            "query once to drain it first")
      case (None, _) =>
        throw new IllegalArgumentException(
          s"cannot list offsets log of checkpoint $owner (recorded in " +
            s"$top/_OWNER) — refusing destructive maintenance blind: an " +
            "unresolvable checkpoint may still hide an in-flight batch. " +
            "Run from a host where the checkpoint resolves, or — if it " +
            "is gone forever — delete the _OWNER marker to record that " +
            "no retry can ever arrive")
    }
  }

  /** Enforce (or establish) the root's single-owner contract. Creation
    * is ATOMIC — [[stampIfAbsent]], the `_WRITER` marker's primitive,
    * CREATE_NEW fallback included — so two fresh queries racing the
    * same empty root cannot both think they stamped it (the round-10
    * advisor's check-then-write finding). The loser falls through to
    * the read-and-compare path and fails the require like any other
    * mismatched writer; an unreadable marker fails it too. */
  private def requireOwner(root: java.io.File, owner: String): Unit = {
    val marker = new java.io.File(root, "_OWNER")
    if (marker.exists() || !stampIfAbsent(root, "_OWNER", owner)) {
      val existing =
        try Some(new String(
          java.nio.file.Files.readAllBytes(marker.toPath), "UTF-8"))
        catch { case _: java.io.IOException => None }
      require(existing.contains(owner),
        s"tableRoot $root belongs to another query run " +
          s"(owner ${existing.getOrElse("unreadable")}); pass that run's " +
          "checkpoint to continue it, or use a fresh root — a new run's " +
          "batchIds restart at 0 and would overwrite its versions")
    }
  }

  /** The commit-visibility rule, in ONE place for the writer's merge
    * source and the consumer's read: a version exists once its parquet
    * commit marker does. Strictly `v<digits>` — a stray non-version
    * file in the root (editor backup, notes) must be ignored, not
    * parsed into a NumberFormatException inside foreachBatch. */
  private def committedVersions(root: java.io.File): Seq[Long] =
    Option(root.list()).getOrElse(Array.empty)
      .filter(_.matches("v\\d+")).map(_.drop(1).toLong)
      .filter(v => new java.io.File(root, s"v$v/_SUCCESS").exists())
      .sorted.toSeq

  /** The per-axis rule on top of it: the newest committed version of
    * one version axis (a bucket dir, or a plain table's root) with id
    * ≤ `asOf` — the newest of all when None. */
  private def newestCommitted(axis: java.io.File,
      asOf: Option[Long]): Option[Long] =
    committedVersions(axis).filter(v => asOf.forall(v <= _)).lastOption

  /** Newest `_SUCCESS`-committed version directory under a
    * [[streamingUpsert]] table root. A crash can leave a newer,
    * UNCOMMITTED partial dir — never read it. CAVEAT: the newest
    * committed version itself may still be rewritten in place if the
    * crash landed between its parquet commit and the checkpoint commit
    * (the retry overwrites byte-identically, but a reader holding the
    * dir mid-rewrite can see missing files); a consumer needing strict
    * read stability reads `committedVersions(root).dropRight(1)` — or,
    * at warehouse scale, this whole layout is the hand-rolled fraction
    * of what a snapshot-isolated table format provides natively. */
  def latestUpsertVersion(tableRoot: String): String =
    plainVersion(tableRoot, None)

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
      nullableSchema(src.select(outCols.map(col): _*).schema)
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
  private def persistSecBounds(src: DataFrame): (Long, Long, Long) = {
    src.persist()
    val b = src.agg(min(col("__sec")), max(col("__sec"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    (lo, hi, math.max(1L, hi - lo + 1))
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
    val hi = src.agg(max(col("ts").cast("long"))).head().getLong(0)
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
    * [[streamingUpsert]]); the replay proves the merge semantics. */
  def replayUpsert(events: DataFrame, chunks: Int = 6): DataFrame = {
    val root = ingestReplay(events, chunks, "graft_upsert_tbl") {
      (stream, tbl, ckpt) => streamingUpsert(stream, tbl, "user_id",
        reduceBatch = lwwReduceByUser, checkpoint = Some(ckpt))
    }
    events.sparkSession.read.parquet(latestUpsertVersion(root))
      .select(col("user_id"), col("event_id"),
        round(col("value"), 6).as("value"))
  }

  /** E19B — the BUCKETED form of [[replayUpsert]]: the same per-batch
    * latest-per-key reduction and LWW semantics, ingested through
    * [[streamingUpsertBucketed]] so every micro-batch merge is
    * partition-pruned to the id-buckets it touches — the 100-TB ingest
    * posture under the same DuckDB oracle as the plain form. The final
    * state (newest committed version of every bucket) must equal the
    * per-user argmax over the whole table, bucket layout invisible. */
  def replayUpsertBucketed(events: DataFrame, chunks: Int = 6,
      nBuckets: Int = 32): DataFrame = {
    val spark = events.sparkSession
    val root = ingestBucketedReplay(events, chunks, nBuckets,
      "graft_upsertb_tbl")
    latestBucketedUpsert(spark, root)
      .select(col("user_id"), col("event_id"),
        round(col("value"), 6).as("value"))
  }

  /** The ONE copy of the single-drain ingest block (chunked time-range
    * replay of the (event_id, ts, user_id, value) feed → the writer
    * `start(stream, tableRoot, checkpoint)` starts, drained clean): e19
    * starts [[streamingUpsert]], the bucketed lanes (e19b/e21/e23/e24,
    * through [[ingestBucketedReplay]]) [[streamingUpsertBucketed]], and
    * beyond that they differ only in HOW they read the table back, so
    * the ingest they read from must be incapable of drifting between
    * them. Returns the table root (temp, reclaimed at JVM exit: version
    * snapshots are O(users) each and the soak runs these lanes at 10x
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

  /** [[ingestReplay]] into a [[streamingUpsertBucketed]] table. */
  private def ingestBucketedReplay(events: DataFrame, chunks: Int,
      nBuckets: Int, prefix: String): String =
    ingestReplay(events, chunks, prefix) { (stream, tbl, ckpt) =>
      streamingUpsertBucketed(stream, tbl, "user_id", nBuckets,
        reduceBatch = lwwReduceByUser, checkpoint = Some(ckpt))
    }

  /** E23 — POINT LOOKUP on the ingested store under the oracle: the
    * bucketed ingest of [[replayUpsertBucketed]], then ONE planted
    * user's latest state read back through [[bucketedPointLookup]]'s
    * O(bucket) path — the read-side half of the reference's get-by-id
    * against the versioned store (S2, src/session_store.rs:127-136),
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
    val hit = bucketedPointLookup(spark, root, "user_id", userId)
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
    * batch boundary read through [[bucketedPointLookupAsOf]]'s
    * single-dir path — the composition of e23 (S2 get-by-id, O(bucket))
    * and e21 (time travel) the round-13 verdict named as the one
    * un-pinned composition of two pinned postures. The oracle is e21's
    * prefix argmax SQL restricted to the planted user.
    *
    * Three contracts ride in the row, asserted on every verify and
    * bench run:
    *  - the SAME single-bucket-version-dir + pushed-filter plan shape
    *    as e23 ([[assertPointLookupPlan]] — one copy);
    *  - the as-of answer actually DIFFERS from the latest answer for
    *    this user (fixture-verified at every sf: the planted user's
    *    latest event lands after the boundary), so the row can never
    *    pass vacuously as a re-run of e23;
    *  - the LOUD-HORIZON refusal: after a keep-1 [[vacuumBucketed]]
    *    destroys the history, the SAME lookup must fail on the raised
    *    horizon — never a silently stale answer. */
  def replayUpsertPointLookupAsOf(events: DataFrame, chunks: Int = 6,
      asOfBatch: Long = 2, nBuckets: Int = 32,
      userId: Long = 1L): DataFrame = {
    val spark = events.sparkSession
    val root = ingestBucketedReplay(events, chunks, nBuckets,
      "graft_upsertpa_tbl")
    val hit = bucketedPointLookupAsOf(spark, root, "user_id", userId,
      asOfBatch)
    assertPointLookupPlan(hit, "user_id")
    // materialize BEFORE the horizon lane destroys the version it
    // reads — the parquet read is lazy
    val snapshot = hit.select(col("user_id"), col("event_id"),
      round(col("value"), 6).as("value")).localCheckpoint(true)
    val latest = bucketedPointLookup(spark, root, "user_id", userId)
      .select(col("event_id")).head().getLong(0)
    val asOfEvent = snapshot.select(col("event_id")).head().getLong(0)
    require(asOfEvent != latest,
      s"the as-of lookup must answer from the PREFIX, not the latest " +
        s"state (both returned event $latest) — the fixture plants a " +
        "later event for this user past the boundary")
    vacuumBucketed(root, keep = 1)
    val loud =
      try { bucketedPointLookupAsOf(spark, root, "user_id", userId,
        asOfBatch); false }
      catch {
        case e: IllegalArgumentException
          if e.getMessage.contains("retention horizon") => true
      }
    require(loud, s"as-of $asOfBatch must fail LOUDLY once vacuum " +
      "raised the retention horizon past it — a quiet answer here " +
      "would be a silently stale point read")
    snapshot
  }

  /** E21 — TIME TRAVEL under the oracle: the bucketed ingest of
    * [[replayUpsertBucketed]], then [[bucketedUpsertAsOf]] read at a
    * MID-FEED batch boundary. Chunk construction is deterministic
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
    * is materialized, a keep-1 [[vacuumBucketed]] destroys the
    * history it stitched, and the SAME as-of read must now fail
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
    val snapshot = bucketedUpsertAsOf(spark, root, asOfBatch)
      .select(col("user_id"), col("event_id"),
        round(col("value"), 6).as("value"))
      .localCheckpoint(true)
    vacuumBucketed(root, keep = 1)
    val loud =
      try { bucketedUpsertAsOf(spark, root, asOfBatch); false }
      catch {
        case e: IllegalArgumentException
          if e.getMessage.contains("retention horizon") => true
      }
    require(loud, s"as-of $asOfBatch must fail LOUDLY once vacuum " +
      "raised the retention horizon past it — a quiet answer here " +
      "would be a silently partial stitch")
    snapshot
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
      val q = streamingUpsertBucketed(
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
    latestBucketedUpsert(spark, tbl)
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
    * [[rebucketUpsert]] the layout to 4× the buckets (the fixed-
    * bucket-size response to a table that grew), then RESUME the same
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
      val q = streamingUpsertBucketed(feed.stream(runner), tbl, "user_id",
        nBuckets,
        reduceBatch = lwwReduceByUser, checkpoint = Some(ckpt))
      drainAndAwait(runner, q)
    }
    try {
      val half = chunks / 2
      (0 until half).foreach(stager.deliver(w, _))
      drain() // incarnation 1 at the seed layout
      rebucketUpsert(spark, tbl, "user_id", newBuckets)
      (half until chunks).foreach(stager.deliver(w, _))
      drain() // incarnation 2: resumed checkpoint, rebucketed generation
    } finally {
      stager.close()
      src.unpersist(): Unit
    }
    latestBucketedUpsert(spark, tbl)
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
