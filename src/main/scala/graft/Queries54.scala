package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round 14 — the one composition of two pinned postures that was not
  * itself pinned joins the DuckDB hash compare: e24 reads ONE planted
  * user's state at a MID-FEED batch through
  * [[graft.streaming.VersionedTable.bucketedPointLookupAsOf]] — e23's
  * O(bucket) get-by-id (reference S2, src/session_store.rs:127-136,
  * served from the versioned store, src/memory.rs) at e21's
  * point-in-time semantics. The oracle is e21's prefix argmax SQL
  * restricted to the planted user.
  *
  * The row carries e23's in-row SCALE assertion (single `b<k>/v<n>`
  * dir scanned, id equality pushed to parquet — one shared copy), an
  * as-of-differs-from-latest assertion so the row can never pass
  * vacuously as a re-run of e23 (fixture-verified: user 1's latest
  * event lands past the chunk-3 boundary at every sf), and e21's
  * loud-horizon refusal after a keep-1 vacuum.
  */
object Queries54 {

  // ---------------------------------------------------------------------
  // E24: state of user 1 as of micro-batch 2 of the 6-chunk time-range
  // replay == the argmax over that user's events in the first 3
  // chunks. The cutoff mirrors chunkedReplayDir's integer arithmetic
  // exactly: chunk i covers [lo + span*i/6, lo + span*(i+1)/6) on
  // floor-second timestamps. user_id = 1 exists at every fixture
  // scale with a non-empty prefix (27/39/33 events at sf
  // 0.001/0.01/0.1) whose argmax differs from the full-feed argmax
  // (events 491 vs 988 / 4660 vs 9945 / 49623 vs 99457).
  // ---------------------------------------------------------------------
  def e24UpsertPointAsOf(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayUpsertPointLookupAsOf(
      Tables.events(spark, sfDir))

  val e24UpsertPointAsOfSql: String =
    """WITH b AS (SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS lo,
      |                  CAST(floor(epoch(max(ts))) AS BIGINT) AS hi
      |           FROM events)
      |SELECT user_id, event_id, round(value, 6) AS value
      |FROM (SELECT user_id, event_id, value,
      |        ROW_NUMBER() OVER (PARTITION BY user_id
      |                           ORDER BY ts DESC, event_id DESC,
      |                                    value DESC) AS rn
      |      FROM events, b
      |      WHERE user_id = 1
      |        AND CAST(floor(epoch(ts)) AS BIGINT)
      |              < b.lo + ((b.hi - b.lo + 1) * 3) // 6)
      |WHERE rn = 1""".stripMargin

  val all: Seq[Query] = Seq(
    Query("e24_upsert_point_asof", e24UpsertPointAsOf, e24UpsertPointAsOfSql, lane = true))
}
