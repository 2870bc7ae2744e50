package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import WriterLease.{readMetaFile, writeMetaFile}

/** The VERSIONED TABLE — the engine's keyed store that an upsert
  * rewrites and a search reads back (the reference's vector store,
  * src/vector_store.rs:215-255), in two layouts: a plain table of
  * whole-table versions `v<batchId>`, and a bucketed table of
  * per-bucket versions `b<k>/v<batchId>` under a generation pointer.
  * Writers, snapshot reads, point lookups and maintenance live here;
  * the single-writer lease they rely on is [[WriterLease]]. */
object VersionedTable {

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
      : org.apache.spark.sql.streaming.StreamingQuery =
    startUpsert(stream, tableRoot, checkpoint) { (batch, batchId) =>
      upsertBatchPlain(tableRoot, reduceBatch(batch), batchId, idCol,
        retainVersions, tolerateSchemaDrift)
    }

  /** The one starter of both streaming writers: `mergeBatch` runs as
    * the foreachBatch body once the root's `_OWNER` guard passes
    * ([[WriterLease.requireOwner]]; the owner token is the checkpoint
    * path, or a per-call token without one), and the query starts under
    * the live-writer marker ([[WriterLease.startTrackedWriter]]). */
  private def startUpsert(stream: DataFrame, tableRoot: String,
      checkpoint: Option[String])(mergeBatch: (DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val owner = checkpoint.getOrElse(
      "anon-" + java.util.UUID.randomUUID().toString)
    val writer = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val root = new File(tableRoot)
        root.mkdirs()
        WriterLease.requireOwner(root, owner)
        mergeBatch(batch.toDF(), batchId)
    }
    WriterLease.startTrackedWriter(stream.sparkSession, new File(tableRoot),
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
    val root = new File(tableRoot)
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
  private def retire(horizonDir: File,
      axes: Seq[(File, Seq[Long])], keep: Int): Unit = {
    val floor = axes.collect { case (_, vs) if vs.size > keep =>
      vs(vs.size - keep) - 1 }.maxOption
    floor.filter(_ > readHorizon(horizonDir)).foreach(f =>
      writeMetaFile(horizonDir, "_RETENTION_HORIZON", f.toString))
    for ((dir, vs) <- axes; v <- vs.dropRight(keep))
      org.apache.commons.io.FileUtils.deleteQuietly(
        new File(dir, s"v$v")): Unit
  }

  // --- bucketed streaming upsert: the partition-pruned 100-TB form --------

  /** BUCKETED streaming upsert — [[streamingUpsert]] with a
    * partition-pruned merge in the micro-batch path. The table lives
    * as `nBuckets` hash buckets of the id key (`b0..b{n-1}`), each
    * versioned INDEPENDENTLY
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
      : org.apache.spark.sql.streaming.StreamingQuery =
    startUpsert(stream, tableRoot, checkpoint) { (batch, batchId) =>
      upsertBatchBucketed(tableRoot, reduceBatch(batch), batchId, idCol,
        nBuckets, retainVersions, tolerateSchemaDrift)
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
    val dir = activeBucketedDir(new File(tableRoot0))
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
    // the prune step: the touched-bucket list is table METADATA (≤ n
    // small ints) — collecting it on the driver IS the partition
    // pruning, not a data-path collect
    val inc = bucketed(inc1)
    val touched = inc.select("__bucket").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
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
      newestCommitted(new File(dir, s"b$k"), Some(batchId - 1))
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
    // leading underscore keeps parquet readers from ever listing the
    // staging dir as data
    stageAndPromote(merged, new File(dir, s"_staging_v$batchId"), dir, batchId)
    if (retainVersions >= 1) // per touched bucket, table-wide horizon
      retire(dir, touched.map { k =>
        val bdir = new File(dir, s"b$k")
        bdir -> committedVersions(bdir).filter(_ < batchId)
      }, math.max(retainVersions - 1, 1))
    } finally {
      inc1.unpersist(): Unit
    }
  }

  /** THE bucket-version commit of both bucketed writes (a micro-batch
    * merge, and [[rebucketUpsert]]'s re-hashed state): ONE job writes
    * every bucket of `df` (which carries `__bucket`) into `staging`,
    * clustered on the bucket → one file per bucket dir; each
    * `__bucket=k` is then moved to `root/b<k>/v<version>` and gets its
    * `_SCHEMA` manifest BEFORE its `_SUCCESS` commit marker. A retry
    * clobbers its own staging and destination dirs. */
  private def stageAndPromote(df: DataFrame, staging: File, root: File,
      version: Long): Unit = {
    org.apache.commons.io.FileUtils.deleteQuietly(staging)
    df.repartition(col("__bucket"))
      .write.partitionBy("__bucket").mode("overwrite").parquet(staging.getPath)
    val dataSchema = StructType(df.schema.fields.filterNot(_.name == "__bucket"))
    Option(staging.list()).getOrElse(Array.empty)
      .filter(_.startsWith("__bucket=")).foreach { part =>
        val dst = new File(root, s"b${part.stripPrefix("__bucket=")}/v$version")
        dst.getParentFile.mkdirs()
        org.apache.commons.io.FileUtils.deleteQuietly(dst)
        java.nio.file.Files.move(new File(staging, part).toPath, dst.toPath)
        writeSchemaManifest(dst, dataSchema) // before the commit marker
        new File(dst, "_SUCCESS").createNewFile(): Unit
      }
    org.apache.commons.io.FileUtils.deleteQuietly(staging): Unit
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
    val paths = resolveSnapshot(activeBucketedDir(new File(tableRoot)),
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
  private def resolveSnapshot(root: File, asOf: Option[Long],
      bucket: Option[Long]): Seq[File] =
    resolveAxes(root, asOf, bucket.fold(numbered(root, "b"))(Seq(_))
      .map(k => new File(root, s"b$k")))

  /** The committed version dir of each version axis (a bucket dir, or
    * a plain table's root — a single axis) as of `asOf`, by the
    * per-axis rule [[newestCommitted]]. An as-of read is checked
    * against the retention horizon in `root` BEFORE resolving and
    * again AFTER: retention raises the horizon before it deletes, so a
    * reader that resolved just ahead of a retirement notices the
    * horizon moved past it — the loud error instead of a silently
    * partial or stale read. */
  private def resolveAxes(root: File, asOf: Option[Long],
      axes: Seq[File]): Seq[File] = {
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
      newestCommitted(ax, asOf).map(v => new File(ax, s"v$v")))
    requireAnswerable(resolved = true)
    dirs
  }

  /** Ids of `dir`'s `<prefix><digits>` entries, in name order — THE
    * listing of the layout's numbered dirs: buckets (`b`), versions
    * (`v`) and generations (`gen`). Strictly digits after the prefix:
    * a stray file in the root (editor backup, notes) is ignored, not
    * parsed into a NumberFormatException inside foreachBatch. */
  private def numbered(dir: File, prefix: String): Seq[Long] =
    Option(dir.list()).getOrElse(Array.empty)
      .filter(_.matches(s"$prefix\\d+")).sorted
      .map(_.drop(prefix.length).toLong).toSeq

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
    val root = activeBucketedDir(new File(tableRoot))
    val n = readNBuckets(root).getOrElse(sys.error(
      s"$root has no _NBUCKETS metadata — not a bucketed upsert table"))
    val refSchema = numbered(root, "b").iterator
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
    * by the live-writer marker ([[WriterLease.requireNoLiveWriter]],
    * same contract as rebucket). Real table formats solve all of this
    * with snapshot retention horizons.
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
    val top = new File(tableRoot)
    WriterLease.requireNoLiveWriter(top)
    WriterLease.requireDrainedCheckpoint(top)
    val root = activeBucketedDir(top)
    retire(root, numbered(root, "b").map { k =>
      val dir = new File(root, s"b$k")
      dir -> committedVersions(dir)
    }, keep)
    // stale generations: every gen dir except the active one is either
    // superseded (committed, older) or a crashed rebucket's leftover
    // staging (uncommitted) — both reclaimable inside the maintenance
    // window this op already requires
    numbered(top, "gen").map(g => new File(top, s"gen$g")).filter(_ != root)
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
  private def retireRootLayout(top: File): Unit =
    Option(top.list()).getOrElse(Array.empty)
      .filter(e => e.matches("b\\d+") || e == "_NBUCKETS" ||
        e == "_RETENTION_HORIZON")
      .foreach(e => org.apache.commons.io.FileUtils.deleteQuietly(
        new File(top, e)): Unit)

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
    * marker: [[WriterLease.requireNoLiveWriter]] refuses while
    * `_WRITER` exists, and the writer's termination listener removes it
    * on any clean or failed stop (see
    * [[WriterLease.startTrackedWriter]]; the heartbeat lets the refusal
    * distinguish a RUNNING cross-process writer from a crash).
    * Anonymous tables need no drain guard —
    * their temp checkpoint dies with the incarnation, so no retry can
    * ever target them. */
  def rebucketUpsert(spark: SparkSession, tableRoot: String, idCol: String,
      newBuckets: Int): Unit = {
    require(newBuckets >= 1, s"newBuckets must be >= 1, got $newBuckets")
    val top = new File(tableRoot)
    WriterLease.requireNoLiveWriter(top)
    WriterLease.requireDrainedCheckpoint(top)
    val cur = activeBucketedDir(top)
    require(numbered(cur, "b").nonEmpty,
      s"$tableRoot is not a bucketed upsert table (no b<k> dirs)")
    val maxV = (resolveSnapshot(cur, None, None)
      .map(_.getName.drop(1).toLong) :+ -1L).max
    require(maxV >= 0, s"no committed bucket version under $tableRoot")
    val state = latestBucketedUpsert(spark, tableRoot)
      .withColumn("__bucket",
        graft.operators.MemoryOps.bucketOf(idCol, newBuckets))
    val gen = new File(top, s"gen${(numbered(top, "gen") :+ 0L).max + 1}")
    org.apache.commons.io.FileUtils.deleteQuietly(gen) // crashed prior run
    stageAndPromote(state, new File(gen, "_staging"), gen, maxV)
    writeMetaFile(gen, "_NBUCKETS", newBuckets.toString)
    writeMetaFile(gen, "_RETENTION_HORIZON",
      math.max(maxV - 1, readHorizon(cur)).toString)
    // THE commit point: one atomic marker creation flips the table to
    // the new generation; everything before this line was invisible
    require(new File(gen, "_GEN_COMMIT").createNewFile(),
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
    val root = new File(tableRoot)
    WriterLease.requireNoLiveWriter(root)
    WriterLease.requireDrainedCheckpoint(root)
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
    val root = new File(tableRoot)
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
  private[graft] def activeBucketedDir(top: File): File = {
    val committed = numbered(top, "gen")
      .filter(g => new File(top, s"gen$g/_GEN_COMMIT").exists())
    if (committed.isEmpty) top else new File(top, s"gen${committed.max}")
  }

  private def readNBuckets(dir: File): Option[Int] =
    readMetaFile(dir, "_NBUCKETS").map(_.trim.toInt)

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
  private[graft] def writeSchemaManifest(dir: File,
      schema: StructType): Unit =
    writeMetaFile(dir, "_SCHEMA", nullableSchema(schema).json)

  /** `schema` with every field nullable — parquet footers report
    * optional fields, so this is exactly what a read that inferred the
    * schema from the files would see: the `_SCHEMA` manifest's form and
    * the form a replay feed's stream reads its staged files with. */
  private[streaming] def nullableSchema(schema: StructType): StructType =
    StructType(schema.map(_.copy(nullable = true)))

  private[graft] def versionSchema(spark: SparkSession, path: String)
      : StructType =
    readMetaFile(new File(path), "_SCHEMA") match {
      case Some(json) => DataType.fromJson(json).asInstanceOf[StructType]
      case None => spark.read.parquet(path).schema // pre-manifest: a footer job
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
      paths: Seq[String]): StructType =
    paths.sortBy(versionOrder).map(versionSchema(spark, _)).reduceLeft { (a, b) =>
      b.fields.foreach { f =>
        a.fields.find(_.name == f.name).foreach { x =>
          require(x.dataType == f.dataType,
            s"version schemas disagree on the TYPE of ${f.name} " +
              s"(${x.dataType} vs ${f.dataType}); drift is add-only")
        }
      }
      StructType(
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
  private def readHorizon(dir: File): Long =
    readMetaFile(dir, "_RETENTION_HORIZON").fold(-1L)(_.trim.toLong)

  /** The commit-visibility rule, in ONE place for the writer's merge
    * source and the consumer's read: a version exists once its parquet
    * commit marker does. */
  private def committedVersions(root: File): Seq[Long] =
    numbered(root, "v")
      .filter(v => new File(root, s"v$v/_SUCCESS").exists()).sorted

  /** The per-axis rule on top of it: the newest committed version of
    * one version axis (a bucket dir, or a plain table's root) with id
    * ≤ `asOf` — the newest of all when None. */
  private def newestCommitted(axis: File,
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
}
