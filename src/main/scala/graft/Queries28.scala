package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.MemoryOps
import graft.sources.MemoryBucketSource

/** Round 6 — the DSv2 bucketed source under the DuckDB oracle regime.
  *
  * The connector (sources/MemoryBucketSource.scala) has had plan-level
  * specs since round 3; these two rows put its READ RESULTS under the
  * same correctness gate as every table-path query: the driver runs the
  * Spark query through the source and the oracle SQL over the original
  * parquet tables, and the store is a faithful bucketed copy, so the
  * hashes must agree.
  *
  *  - src1: point lookup (id IN → bucket pruning) + stored-column top-N
  *    through the source (reference read path src/routes.rs:319-343, the
  *    by-id fetch; pruning arithmetic = the writer's bucket rule).
  *  - src2: the full Qdrant-style scored delegation — cosine + threshold
  *    + per-bucket top-k evaluated store-side
  *    (src/vector_store.rs:265-310), Spark merging nBuckets·k rows.
  */
object Queries28 {

  private val NBuckets = 16

  /** Bucketed copy of the memories table for `sfDir`, written once per
    * JVM (overwrite-on-first-touch keeps a long-lived /tmp from serving
    * a previous round's fixtures) and reused by every query in the run.
    * The layout is derived data CACHED OUTSIDE the repo — the store
    * plays the role of the reference's Qdrant collection. */
  private val built = scala.collection.concurrent.TrieMap.empty[String, String]
  private[graft] def ensureStore(spark: SparkSession, sfDir: String): String =
    built.getOrElseUpdate(sfDir, {
      val dir = new java.io.File(
        System.getProperty("java.io.tmpdir"),
        "graft_store_" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")).getAbsolutePath
      MemoryOps.writeBucketed(Tables.memories(spark, sfDir), dir, "id", NBuckets)
      dir
    })

  private def source(spark: SparkSession, sfDir: String): DataFrame =
    MemoryBucketSource.load(spark, ensureStore(spark, sfDir), NBuckets)

  // ---------------------------------------------------------------------
  // SRC1: point lookup + top-N through the source. The IN-set prunes to
  // at most 5 of 16 bucket directories driver-side; the ORDER BY id DESC
  // LIMIT 4 is answered by per-file bounded heaps inside the reader.
  // ---------------------------------------------------------------------
  private val Src1Ids = Seq(7L, 42L, 99L, 123L, 321L)

  def src1BucketPushdown(spark: SparkSession, sfDir: String): DataFrame =
    source(spark, sfDir)
      .where(col("id").isin(Src1Ids: _*))
      .select(col("id"), col("lang"), col("label"))
      .orderBy(col("id").desc)
      .limit(4)

  val src1BucketPushdownSql: String =
    s"""SELECT d.doc_id AS id, d.lang AS lang, e.label AS label
       |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
       |WHERE d.doc_id IN (${Src1Ids.mkString(", ")})
       |ORDER BY id DESC LIMIT 4""".stripMargin

  // ---------------------------------------------------------------------
  // SRC2: scored top-k fully delegated to the store. Threshold and sort
  // run on the UNROUNDED score on both engines (stricter than the v2/v5
  // pattern, which rounds first), so the only rounding is presentational.
  // ---------------------------------------------------------------------
  private val Src2K = 15
  private val Src2Threshold = 0.05

  def src2ScoredTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.queryVector(spark, sfDir, 0L)
    MemoryBucketSource.search(
        spark, ensureStore(spark, sfDir), NBuckets, q,
        k = Src2K, threshold = Some(Src2Threshold))
      .select(col("id"), round(col("score"), 6).as("score"))
  }

  val src2ScoredTopkSql: String = {
    val c = Queries.sqlCosine("m.embedding", "qv.q")
    s"""WITH mem AS (
       |  SELECT d.doc_id AS id, e.embedding
       |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
       |s AS (
       |  SELECT m.id, $c AS raw
       |  FROM mem m, (SELECT embedding AS q FROM embeddings
       |               WHERE vec_id = 0) qv)
       |SELECT id, round(raw, 6) AS score FROM s
       |WHERE raw IS NOT NULL AND raw >= $Src2Threshold
       |ORDER BY raw DESC, id ASC LIMIT $Src2K""".stripMargin
  }

  // ---------------------------------------------------------------------
  // SRC3: global COUNT/MIN/MAX pushed into the store (the reference's
  // collection-introspection path — point counts answered by the store,
  // src/vector_store.rs:300-310). The lang filter runs in parquet, each
  // bucket file folds to ONE partial row inside the reader, and Spark's
  // final aggregate merges 16 rows — the scan never materializes a
  // single data row.
  // ---------------------------------------------------------------------
  def src3AggPushdown(spark: SparkSession, sfDir: String): DataFrame =
    source(spark, sfDir)
      .where(col("lang") === "en")
      .agg(expr("count(*)").as("n_docs"),
        min(col("id")).as("min_id"),
        max(col("id")).as("max_id"),
        max(col("label")).as("max_label"))

  val src3AggPushdownSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  MIN(d.doc_id) AS min_id, MAX(d.doc_id) AS max_id,
      |  MAX(e.label) AS max_label
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |WHERE d.lang = 'en'""".stripMargin

  // ---------------------------------------------------------------------
  // SRC4: a fact-side join against a store slice with NO broadcast hint —
  // the join strategy is decided entirely by the statistics the scan
  // REPORTS after pushdown (SupportsReportStatistics: exact footer row
  // counts over the pruned file set, sized by the pruned read schema).
  // Without reported stats a DSv2 relation costs defaultSizeInBytes and
  // the planner must shuffle the fact side; with them the filtered slice
  // broadcasts (PlanSpec pins the BroadcastHashJoin). The reference's
  // store exposes exactly this introspection — collection point counts,
  // src/vector_store.rs:300-310 — src4 is that number driving PLANNING.
  // ---------------------------------------------------------------------
  def src4StatsBroadcast(spark: SparkSession, sfDir: String): DataFrame = {
    val slice = source(spark, sfDir)
      .where(col("label") === 2)
      .select(col("id"), col("label"))
    Tables.documents(spark, sfDir)
      .join(slice, col("doc_id") === col("id")) // no broadcast() hint
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars").cast("long")).as("sum_chars"))
      .orderBy(col("lang"))
  }

  val src4StatsBroadcastSql: String =
    """SELECT d.lang AS lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CAST(d.n_chars AS BIGINT)) AS BIGINT) AS sum_chars
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |WHERE e.label = 2
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // SRC5: runtime bucket pruning — the store on the probe side of a
  // broadcast join against a SELECTIVELY FILTERED id set. Spark injects
  // a dynamic-pruning runtime filter into the DSv2 scan
  // (SupportsRuntimeFiltering); at execution time the broadcast ids run
  // the writer's bucket rule and whole bucket directories drop
  // out before any file opens — "fetch the memories this batch
  // references" touches the buckets those ids live in, not all of them.
  // DppSpec pins the injected filter; this row pins the RESULTS.
  // ---------------------------------------------------------------------
  def src5RuntimePrune(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = Tables.documents(spark, sfDir)
      .where(col("lang") === "de" && col("n_chars") > 400)
      .select(col("doc_id").as("id"))
    source(spark, sfDir).join(dim, "id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_id"))
      .orderBy(col("label"))
  }

  val src5RuntimePruneSql: String =
    """SELECT e.label AS label, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  MAX(d.doc_id) AS max_id
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
      |WHERE d.lang = 'de' AND d.n_chars > 400
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val all: Seq[Query] = Seq(
    Query("src1_bucket_pushdown", src1BucketPushdown, src1BucketPushdownSql),
    Query("src2_scored_topk", src2ScoredTopk, src2ScoredTopkSql),
    Query("src3_agg_pushdown", src3AggPushdown, src3AggPushdownSql),
    Query("src4_stats_broadcast", src4StatsBroadcast, src4StatsBroadcastSql),
    Query("src5_runtime_prune", src5RuntimePrune, src5RuntimePruneSql))
}
