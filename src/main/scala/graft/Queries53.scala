package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Round 13 — the last spec-only maintenance read joins the DuckDB
  * hash compare: e23 pins `bucketedPointLookup` (the reference's S2
  * get-by-id, src/session_store.rs:127-136, served straight from the
  * ingested versioned store, src/memory.rs point reads) against the
  * e19 argmax oracle restricted to one planted user.
  *
  * The row carries its own SCALE assertion (see
  * [[graft.streaming.EventStream.replayUpsertPointLookup]]): the
  * lookup plan must scan exactly ONE `b<k>/v<n>` bucket-version dir
  * with the id equality pushed to parquet — O(bucket), never
  * O(table) — on every verify and bench run.
  */
object Queries53 {

  // ---------------------------------------------------------------------
  // E23: after the full 6-chunk bucketed ingest, the point lookup of
  // user 1 must equal that user's per-user argmax over the whole
  // events table — the same (ts, event_id, value) total order as
  // e19/e19b, restricted to the planted id. user_id = 1 exists at
  // every fixture scale (51/74/57 events at sf 0.001/0.01/0.1).
  // ---------------------------------------------------------------------
  def e23UpsertPoint(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayUpsertPointLookup(
      Tables.events(spark, sfDir))

  val e23UpsertPointSql: String =
    """SELECT user_id, event_id, round(value, 6) AS value
      |FROM (SELECT user_id, event_id, value,
      |        ROW_NUMBER() OVER (PARTITION BY user_id
      |                           ORDER BY ts DESC, event_id DESC,
      |                                    value DESC) AS rn
      |      FROM events WHERE user_id = 1)
      |WHERE rn = 1""".stripMargin

  val all: Seq[Query] = Seq(
    Query("e23_upsert_point", e23UpsertPoint, e23UpsertPointSql, lane = true))
}
