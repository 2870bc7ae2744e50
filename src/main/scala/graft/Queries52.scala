package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round 12 — the versioned-table maintenance surface put under the
  * DuckDB hash compare (it was the one production posture pinned only
  * by specs, against the house standard since e18):
  *
  *  - e21: TIME TRAVEL — `bucketedUpsertAsOf` at a mid-feed batch
  *    boundary vs the per-user argmax over the event PREFIX of the
  *    replay's first chunks (the chunk construction is deterministic,
  *    so the prefix is exactly expressible in SQL), with the
  *    loud-retention-horizon lane asserted in the same row.
  *  - e22: SCHEMA-DRIFT-TOLERANT ingest — a feed that gains a column
  *    mid-stream (two query incarnations, one checkpoint, one table)
  *    vs the DuckDB mirror with explicit null-fill: rows-win LWW,
  *    additive widening, cross-era mergeSchema stitch.
  *
  * Reference: the versioned store IS the reference's memory table
  * (src/vector_store.rs:215-255, src/memory.rs:72-141); point-in-time
  * reads and feed evolution are the warehouse-scale extensions of it.
  */
object Queries52 {

  // ---------------------------------------------------------------------
  // E21: state as of micro-batch 2 of a 6-chunk time-range replay ==
  // the argmax over events in the first 3 chunks. The cutoff mirrors
  // chunkedReplayDir's integer arithmetic exactly: chunk i covers
  // [lo + span*i/6, lo + span*(i+1)/6) on floor-second timestamps.
  // ---------------------------------------------------------------------
  def e21UpsertAsOf(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayUpsertAsOf(Tables.events(spark, sfDir))

  val e21UpsertAsOfSql: String =
    """WITH b AS (SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS lo,
      |                  CAST(floor(epoch(max(ts))) AS BIGINT) AS hi
      |           FROM events)
      |SELECT user_id, event_id, round(value, 6) AS value
      |FROM (SELECT user_id, event_id, value,
      |        ROW_NUMBER() OVER (PARTITION BY user_id
      |                           ORDER BY ts DESC, event_id DESC,
      |                                    value DESC) AS rn
      |      FROM events, b
      |      WHERE CAST(floor(epoch(ts)) AS BIGINT)
      |              < b.lo + ((b.hi - b.lo + 1) * 3) // 6)
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // E22: after the feed gains `etype` at the half-way boundary — with
  // the user_id % 5 = 0 cohort churning before the boundary, so the
  // era-1 NULL branch actually fires on the fixture — the final table
  // is the per-user argmax over (era-1 events) ∪ (era-2 events minus
  // the churned cohort), with etype = the latest event's event_type
  // when that event is era-2, NULL otherwise (rows win: an update
  // that predates the column nulls it).
  // ---------------------------------------------------------------------
  def e22UpsertDrift(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayUpsertDrift(Tables.events(spark, sfDir))

  val e22UpsertDriftSql: String =
    """WITH b AS (SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS lo,
      |                  CAST(floor(epoch(max(ts))) AS BIGINT) AS hi
      |           FROM events),
      |src AS (SELECT user_id, event_id, ts, value,
      |          CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
      |                      >= b.lo + ((b.hi - b.lo + 1) * 3) // 6
      |               THEN event_type ELSE NULL END AS etype
      |        FROM events, b
      |        WHERE CAST(floor(epoch(ts)) AS BIGINT)
      |                < b.lo + ((b.hi - b.lo + 1) * 3) // 6
      |           OR user_id % 5 <> 0)
      |SELECT user_id, event_id, round(value, 6) AS value, etype
      |FROM (SELECT user_id, event_id, value, etype,
      |        ROW_NUMBER() OVER (PARTITION BY user_id
      |                           ORDER BY ts DESC, event_id DESC,
      |                                    value DESC) AS rn
      |      FROM src)
      |WHERE rn = 1""".stripMargin

  val all: Seq[Query] = Seq(
    Query("e21_upsert_asof", e21UpsertAsOf, e21UpsertAsOfSql, lane = true),
    Query("e22_upsert_drift", e22UpsertDrift, e22UpsertDriftSql, lane = true))
}
