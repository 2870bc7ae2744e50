package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Curation, CurationSql, Sampling, SamplingSql, TextAnalysis, TextAnalysisSql}

/** Round-2 query inventory, third batch: corpus-curation operators —
  * stratified down-sampling, equal-share domain mixing, token-budget
  * shard packing — plus per-user event deltas (lag). Same contract as
  * [[Queries]]: each Spark dataflow paired with DuckDB SQL computing the
  * identical result.
  */
object Queries4 {

  // ---------------------------------------------------------------------
  // SMP1: stratified sampling — the corpus is en-heavy (FIXTURES.md), so
  // downsample 'en' to 20% and keep the other languages whole. Hash-based
  // (not RNG): a doc's fate is a pure function of its id, reproducible
  // across engines and cluster layouts. Pure map-side filter, no shuffle.
  // ---------------------------------------------------------------------
  private val Smp1Rates = Map("en" -> 0.2)

  def smp1StratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .where(Curation.stratifiedKeep(col("doc_id"), col("lang"), Smp1Rates))
      .select(col("doc_id"), col("lang"))
  val smp1StratifiedSampleSql: String =
    s"""SELECT doc_id, lang FROM documents
       |WHERE ${CurationSql.stratifiedKeep("doc_id", "lang", Smp1Rates)}""".stripMargin

  // ---------------------------------------------------------------------
  // MIX1: domain mixture rebalancing — compute per-source keep-thresholds
  // that move the corpus toward equal share per source (big sources
  // down-sampled, small ones kept), then report before/after counts per
  // source. Counts aggregate once; thresholds are a tiny broadcast.
  // ---------------------------------------------------------------------
  def mix1DomainMixture(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val thr = Curation.equalShareThresholds(docs, "source")
    val after = docs
      .join(broadcast(thr.select(col("source"), col("thresh"))), Seq("source"))
      .where(Sampling.hashBucket(col("doc_id"), 10000) < col("thresh"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_after"))
    thr.join(after, Seq("source"), "left")
      .select(col("source"), col("n_before"),
        coalesce(col("n_after"), lit(0L)).as("n_after"), col("thresh"))
  }
  val mix1DomainMixtureSql: String =
    s"""WITH counts AS (
       |  SELECT source, COUNT(*) AS n_before FROM documents GROUP BY 1),
       |stats AS (
       |  SELECT SUM(n_before) AS total, COUNT(*) AS ndom FROM counts),
       |thr AS (
       |  SELECT source, n_before,
       |    least(CAST(10000 AS BIGINT),
       |      CAST(floor(10000.0 * total / (ndom * n_before)) AS BIGINT))
       |      AS thresh
       |  FROM counts, stats),
       |kept AS (
       |  SELECT d.source FROM documents d JOIN thr t USING (source)
       |  WHERE ${SamplingSql.hashBucket("d.doc_id", 10000)} < t.thresh)
       |SELECT t.source, t.n_before,
       |  COALESCE(k.n_after, 0) AS n_after, t.thresh
       |FROM thr t LEFT JOIN (
       |  SELECT source, COUNT(*) AS n_after FROM kept GROUP BY 1) k
       |  USING (source)""".stripMargin

  // ---------------------------------------------------------------------
  // PK1: token-budget shard packing — walk each source's docs in id order
  // accumulating whitespace-token counts; a doc's shard is
  // floor(tokens_before_it / 2000). Report per-shard doc and token
  // totals. The running sum is windowed PER SOURCE, so packing
  // parallelizes across domains — no global sort at any corpus size.
  // ---------------------------------------------------------------------
  def pk1ShardPacking(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir).select(
      col("doc_id"), col("source"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    Curation.packShards(tok, col("doc_id"), col("n_tokens"),
        col("source"), budget = 2000L)
      .groupBy(col("source"), col("shard_ix"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("shard_tokens"))
  }
  val pk1ShardPackingSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, source,
       |    ${TextAnalysisSql.tokenCount("text")} AS n_tokens
       |  FROM documents),
       |packed AS (
       |  SELECT source, n_tokens,
       |    CAST(floor(CAST(SUM(n_tokens) OVER w - n_tokens AS DOUBLE)
       |      / 2000.0) AS BIGINT) AS shard_ix
       |  FROM tok
       |  WINDOW w AS (PARTITION BY source ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT source, shard_ix, COUNT(*) AS n_docs,
       |  CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
       |FROM packed GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // W4: per-user event value deltas — lag() over (user, time). First
  // event per user has no predecessor -> NULL delta. Event timestamps are
  // µs-identical on both sides (Tables.normalizeEventTs), so the
  // (ts, event_id) tie-break orders identically.
  // ---------------------------------------------------------------------
  def w4LagDelta(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir).select(
      col("event_id"), col("user_id"),
      round(col("value") - lag(col("value"), 1).over(w), 6).as("delta"))
  }
  val w4LagDeltaSql: String =
    """SELECT event_id, user_id,
      |  round(value - LAG(value, 1) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta
      |FROM events""".stripMargin

  val all: Seq[Query] = Seq(
    Query("smp1_stratified_sample", smp1StratifiedSample, smp1StratifiedSampleSql),
    Query("mix1_domain_mixture", mix1DomainMixture, mix1DomainMixtureSql),
    Query("pk1_shard_packing", pk1ShardPacking, pk1ShardPackingSql),
    Query("w4_lag_delta", w4LagDelta, w4LagDeltaSql))
}
