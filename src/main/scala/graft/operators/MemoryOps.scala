package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, Literal, Pmod, XxHash64}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

/** Keyed-table mutation semantics over immutable columnar storage — the
  * reference's store/upsert/delete surface re-expressed as version-producing
  * dataflows (reference: src/memory.rs:72-141, src/vector_store.rs:215-255).
  *
  * A "write" returns the next table version as a DataFrame; persisting it is
  * a parquet overwrite of the keyed table. At 100 TB the table is partitioned
  * by a key-hash bucket, so a merge only rewrites the buckets that received
  * incoming keys (partition-pruned MERGE); the logic below is unchanged.
  */
object MemoryOps {

  /** V8 — plain append (in-memory store insert, src/memory.rs:72-89).
    * Schemas are matched by name so callers can't silently transpose
    * columns.
    */
  def append(table: DataFrame, rows: DataFrame): DataFrame =
    table.unionByName(rows)

  /** A3 — authenticated append: memory writes that carry a `session_id`
    * require the same API-key auth as the session endpoints, writes
    * without one do not (reference src/routes.rs:243-248 — "prevent
    * unauthenticated callers from associating memory entries with
    * arbitrary sessions"). The carries-session probe is a LIMIT 1 scan of
    * the incoming batch only (never the store), so the precondition costs
    * one bounded job before any write happens.
    */
  def appendAuthed(
      auth: graft.GraftAuth,
      suppliedKey: Option[String],
      table: DataFrame,
      rows: DataFrame,
      sessionCol: String = "session_id"): DataFrame = {
    val carriesSession = auth.required &&
      rows.columns.contains(sessionCol) &&
      rows.where(col(sessionCol).isNotNull).limit(1).head(1).nonEmpty
    if (carriesSession) auth.authenticate(suppliedKey)
    append(table, rows)
  }

  /** V9 — last-write-wins upsert by id (Qdrant PUT points,
    * src/vector_store.rs:215-255). Incoming rows replace existing rows with
    * the same id; ids only in one side pass through. The window shuffles
    * once on the id key — at scale the table is already hash-partitioned by
    * id, so only the incoming side moves.
    *
    * `tolerateDrift` = true accepts ADDITIVE schema drift: a column
    * present on only one side null-fills on the other, so a feed that
    * gained a field widens the table instead of killing the query. The
    * LWW row contract is unchanged — an incoming row that doesn't carry
    * a column replaces the whole row with that field null (rows win,
    * not fields). Default false: unexpected drift should fail fast. */
  def upsertById(existing: DataFrame, incoming: DataFrame, idCol: String,
      tolerateDrift: Boolean = false): DataFrame = {
    val v = "__graft_version"
    val rn = "__graft_rn"
    val merged = existing.withColumn(v, lit(0))
      .unionByName(incoming.withColumn(v, lit(1)), tolerateDrift)
    merged
      .withColumn(rn, row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col(v).desc)))
      .where(col(rn) === 1)
      .drop(v, rn)
  }

  /** V10 — batch delete by id as an anti-join (src/memory.rs:139-141).
    * `ids` is a one-column DataFrame of ids to remove.
    */
  def deleteByIds(table: DataFrame, ids: DataFrame, idCol: String): DataFrame =
    table.join(ids.select(col(ids.columns.head).as(idCol)), Seq(idCol), "left_anti")

  /** Rows of `table` whose id appears in `ids` — the "did it exist?" half of
    * delete's bool result (src/routes.rs:460-471), batch form.
    */
  def existingIds(table: DataFrame, ids: DataFrame, idCol: String): DataFrame =
    table.join(ids.select(col(ids.columns.head).as(idCol)), Seq(idCol), "left_semi")

  /** Service form of a single-id delete: the miss is the taxonomy's 404
    * (EmbeddingError::MemoryNotFound → NOT_FOUND, src/error.rs:87-90);
    * returns the table minus the row when it existed. The existence probe
    * is a partition-prunable point semi-join, not a full scan at scale. */
  def deleteByIdOrThrow(table: DataFrame, idCol: String, id: String): DataFrame = {
    val one = table.sparkSession.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(id)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.StringType))))
    if (existingIds(table, one, idCol).isEmpty)
      throw new graft.NotFoundException("Memory entry", id)
    deleteByIds(table, one, idCol)
  }

  /** A5 — table bootstrap (the analog of ensure-collection-exists with
    * create-race tolerance, src/vector_store.rs:112-200): create the keyed
    * parquet table with its vector config sidecar if absent. Idempotent —
    * an existing table (or a concurrent creator winning the race) is
    * success, like the 409-tolerant create. Spark task retries replace the
    * reference's manual exponential backoff.
    */
  def bootstrap(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      dim: Int,
      metric: String = "cosine"): Boolean = {
    import org.apache.spark.sql.types._
    val dir = new java.io.File(path)
    if (dir.exists()) return false // already bootstrapped
    val schema = StructType(Seq(
      StructField("id", StringType, nullable = false),
      StructField("text", StringType),
      StructField("metadata", MapType(StringType, StringType)),
      StructField("session_id", StringType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.mode("ignore").parquet(path)
    val cfg = s"""{"dimensions": $dim, "distance": "$metric"}"""
    val cfgPath = java.nio.file.Paths.get(path, "_graft_schema.json")
    try java.nio.file.Files.writeString(cfgPath, cfg,
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch { case _: java.nio.file.FileAlreadyExistsException => () } // create race
    true
  }

  // --- bucketed layout: partition-pruned merge ---------------------------

  /** THE bucketing rule of every bucketed layout: pmod(xxhash64(id), n).
    * Stated once, as the Catalyst expression both forms below wrap, so
    * the writer and the driver-side pruning can never disagree. */
  private def bucketRule(id: Expression, nBuckets: Int): Expression =
    Pmod(new XxHash64(Seq(id)), Literal(nBuckets.toLong))

  /** The bucket column the writers partition by. */
  private[graft] def bucketOf(idCol: String, nBuckets: Int): Column =
    GraftBridge.column(bucketRule(GraftBridge.expression(col(idCol)), nBuckets))

  /** The same rule as a driver-side function of one id value (no Spark
    * job), built once and applied per value: a value of `valueType` is
    * cast to the STORED id type first, under the session time zone,
    * exactly as `lit(id).cast(idType)` — xxhash64 hashes an Int and a
    * Long differently, so hashing the caller's literal type would pick
    * a bucket the writer never used. */
  private[graft] def idBucketer(valueType: DataType, idType: DataType,
      nBuckets: Int, timeZone: String): Any => Long = {
    val rule = bucketRule(Cast(BoundReference(0, valueType, nullable = true),
      idType, Some(timeZone)), nBuckets)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(valueType)
    id => rule.eval(InternalRow(toCatalyst(id))).asInstanceOf[Long]
  }

  /** [[idBucketer]] for a single id of its literal type. */
  private[graft] def bucketOfId(id: Any, idType: DataType, nBuckets: Int,
      timeZone: String): Long =
    idBucketer(Literal(id).dataType, idType, nBuckets, timeZone)(id)

  /** Write a keyed table hash-bucketed by id (`__bucket=k/` partition
    * dirs). This is the 100 TB read layout: a keyed read prunes to the
    * buckets its keys hash into. It is written whole; the keyed upsert
    * that rewrites only the touched buckets is the versioned layout of
    * [[graft.streaming.VersionedTable.streamingUpsertBucketed]].
    *
    * Clustered on the bucket before the write so each directory holds
    * ONE file, not one per upstream partition: a plain partitionBy from
    * an N-partition frame writes N small files into EVERY bucket, and
    * scan cost becomes per-file overhead × N × buckets instead of data
    * size (the round-8 src5 soak measured exactly this — 31 files per
    * bucket made a 50k-row scan file-bound). At warehouse scale the
    * same rule is "compact buckets to bounded file counts". */
  def writeBucketed(
      df: DataFrame,
      path: String,
      idCol: String,
      nBuckets: Int): Unit =
    df.withColumn("__bucket", bucketOf(idCol, nBuckets))
      .repartition(col("__bucket"))
      .write.partitionBy("__bucket").mode("overwrite").parquet(path)

  /** Read a bucketed table (drops the layout column). */
  def readBucketed(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("__bucket")

  /** Open the memory store or fail with the taxonomy's 503 — the analog
    * of "vector store not configured" (SessionError::NotConfigured /
    * VectorStoreError::NotConfigured → SERVICE_UNAVAILABLE,
    * src/error.rs:41,139): a store path that was never bootstrapped is an
    * unavailable backing service, not a bad request. */
  def openStore(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    if (!new java.io.File(path).exists())
      throw new graft.UnavailableException(s"Vector store not configured: $path")
    spark.read.parquet(path)
  }

  /** A1 — non-empty-text validation split (src/routes.rs:141-145 et al.).
    * Returns (accepted, rejected-with-reason).
    */
  def validateText(df: DataFrame, textCol: String = "text"): (DataFrame, DataFrame) = {
    val bad = col(textCol).isNull || length(trim(col(textCol))) === 0
    (df.where(!bad),
      df.where(bad).withColumn("reason", lit(s"Field '$textCol' must not be empty")))
  }

  /** Canonical hyphenated UUID shape (8-4-4-4-12 hex), case-insensitive —
    * what the reference's route layer accepts for caller-supplied ids. */
  private val UuidPattern =
    "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"

  /** Caller-supplied-id validation split (the reference rejects malformed
    * UUIDs at request deserialization — src/routes.rs:193-195 `id:
    * Option<Uuid>`, serde-validated before any handler runs; the batch
    * analog is a reject split BEFORE all content checks). NULL ids pass:
    * the id is optional and absent means server-generated.
    * Returns (accepted, rejected-with-reason). */
  def validateUuid(df: DataFrame, idCol: String = "id"): (DataFrame, DataFrame) = {
    val bad = col(idCol).isNotNull && !col(idCol).rlike(UuidPattern)
    (df.where(!bad),
      df.where(bad).withColumn("reason",
        concat(lit("Invalid id: '"), col(idCol),
          lit("' is not a valid UUID"))))
  }

  /** A2 — reserved-payload-key validation (src/vector_store.rs:32-37,
    * src/routes.rs:231-240): metadata maps may not contain "text" or
    * "session_id". Returns (accepted, rejected-with-reason).
    */
  def validateReservedKeys(df: DataFrame, metadataCol: String = "metadata"): (DataFrame, DataFrame) = {
    def has(k: String): Column =
      coalesce(array_contains(map_keys(col(metadataCol)), k), lit(false))
    val reason = when(has("text"), lit("metadata key 'text' is reserved"))
      .when(has("session_id"), lit("metadata key 'session_id' is reserved"))
    (df.where(reason.isNull), df.where(reason.isNotNull).withColumn("reason", reason))
  }

  /** S5 — referential-integrity split: memories carrying a session id must
    * reference an existing session (src/routes.rs:252-263). Broadcast
    * semi/anti join — the session catalog is tiny relative to the data.
    */
  def validateSessionLink(
      memories: DataFrame,
      sessions: DataFrame,
      memSessionCol: String = "session_id",
      sessIdCol: String = "id"): (DataFrame, DataFrame) = {
    val s = broadcast(sessions.select(col(sessIdCol).as(memSessionCol)))
    val withSession = memories.where(col(memSessionCol).isNotNull)
    val accepted = memories.where(col(memSessionCol).isNull)
      .unionByName(withSession.join(s, Seq(memSessionCol), "left_semi"))
    val rejected = withSession.join(s, Seq(memSessionCol), "left_anti")
      .withColumn("reason",
        concat(lit("Session '"), col(memSessionCol).cast("string"), lit("' not found")))
    (accepted, rejected)
  }
}
