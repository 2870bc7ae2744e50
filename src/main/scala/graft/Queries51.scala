package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round 10 — restart-recovery: the streaming posture every production
  * feed runs on (checkpointed incremental jobs) put under the DuckDB
  * hash compare. The replay machinery and the contract live in
  * [[graft.streaming.EventStream.replayRestart]]; the oracle is the
  * batch windowed aggregation over the clean base table — redelivered
  * events across the restart boundary must vanish, boundary-straddling
  * windows must emit once with full counts.
  */
object Queries51 {

  // ---------------------------------------------------------------------
  // E18: checkpoint RESTART recovery. Two separate streaming queries,
  // one checkpoint, one exactly-once parquet sink; a byte-identical
  // redelivery of the first chunk arrives after the restart and must be
  // dropped by RECOVERED dedup state. Result == e3's batch mirror.
  // ---------------------------------------------------------------------
  def e18StreamRestart(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayRestart(Tables.events(spark, sfDir))
      .select(
        date_format(col("window_start"), Queries.tsFmtSpark).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  val e18StreamRestartSql: String = Queries.e3EventWindowSql

  // ---------------------------------------------------------------------
  // E19: continuous ingest into the versioned memory table — micro-batch
  // LWW upsert with the per-batch latest-per-key reduction. The final
  // version directory must equal the per-user argmax by (ts, event_id)
  // over the whole events table.
  // ---------------------------------------------------------------------
  def e19StreamUpsert(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayUpsert(Tables.events(spark, sfDir))

  // ---------------------------------------------------------------------
  // E19B: the same continuous ingest through the BUCKETED table layout —
  // every micro-batch merge partition-pruned to the id-buckets it
  // touches (per-batch cost tracks the batch, not the table: the 100-TB
  // posture). Same oracle; the layout must be invisible in the answer.
  // ---------------------------------------------------------------------
  def e19bStreamUpsertBucketed(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayUpsertBucketed(
      Tables.events(spark, sfDir))

  // value joins the total order so a redelivered (ts, event_id) pair
  // with a different value ties deterministically on both engines —
  // mirroring the Spark side's max(struct(ts, event_id, value))
  val e19StreamUpsertSql: String =
    """SELECT user_id, event_id, round(value, 6) AS value
      |FROM (SELECT user_id, event_id, value,
      |        ROW_NUMBER() OVER (PARTITION BY user_id
      |                           ORDER BY ts DESC, event_id DESC,
      |                                    value DESC) AS rn
      |      FROM events)
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // E19C: the bucketed ingest interrupted mid-feed by the table-growth
  // maintenance op — stop clean, rebucketUpsert to 4x the buckets (the
  // generation-pointer rewrite), resume the SAME checkpoint with the
  // stale seed count. The new generation's _NBUCKETS must govern the
  // resumed merges and the final state must satisfy the same oracle:
  // the maintenance window is invisible in the data.
  // ---------------------------------------------------------------------
  def e19cStreamRebucket(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayUpsertRebucket(
      Tables.events(spark, sfDir))

  // ---------------------------------------------------------------------
  // E20: the transformWithState sessionizer (the declared big-state
  // migration API, RocksDB-backed typed state) through the e8 replay
  // harness — the migration target must satisfy the same batch-mirror
  // oracle as the flatMapGroupsWithState form it replaces.
  // ---------------------------------------------------------------------
  def e20TwsSessionize(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayTwsSessionize(
      Tables.events(spark, sfDir))

  val e20TwsSessionizeSql: String = Queries.e4SessionizeSql

  val all: Seq[Query] = Seq(
    Query("e18_stream_restart", e18StreamRestart, e18StreamRestartSql, lane = true),
    Query("e19_stream_upsert", e19StreamUpsert, e19StreamUpsertSql, lane = true),
    Query("e19b_stream_upsert_bucketed", e19bStreamUpsertBucketed, e19StreamUpsertSql, lane = true),
    Query("e19c_stream_rebucket", e19cStreamRebucket, e19StreamUpsertSql, lane = true),
    Query("e20_tws_sessionize", e20TwsSessionize, e20TwsSessionizeSql, lane = true))
}
