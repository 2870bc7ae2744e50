package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 continuation: session-shape mining and robust dispersion.
  * Same contract as [[Queries]].
  */
object Queries21 {

  // ---------------------------------------------------------------------
  // SIG1: session shapes — each 30-minute-gap session rendered as its
  // ordered event-type string ("view>click>purchase"), top-20 shapes by
  // frequency. The session-level signature behind UX funnel archetypes;
  // session assignment is e4's gap rule, the ordered render is a
  // sort_array over (time, id)-keyed structs so ties collapse
  // identically in both engines.
  // ---------------------------------------------------------------------
  def sig1SessionShapes(spark: SparkSession, sfDir: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("__sec").asc, col("event_id").asc)
    val ev = Tables.events(spark, sfDir)
      .withColumn("__sec", col("ts").cast("long"))
      .withColumn("__gap",
        when(col("__sec") - lag(col("__sec"), 1).over(seq) > 1800L, 1L)
          .otherwise(lit(0L)))
      .withColumn("__sess", sum(col("__gap")).over(
        seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ev.groupBy(col("user_id"), col("__sess"))
      .agg(array_join(expr(
        "transform(sort_array(collect_list(struct(__sec, event_id, event_type))), " +
          "x -> x.event_type)"), ">").as("shape"))
      .groupBy(col("shape")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("shape").asc)
      .limit(20)
  }

  val sig1SessionShapesSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |g AS (
      |  SELECT *, CASE WHEN sec - LAG(sec, 1) OVER w > 1800
      |                 THEN 1 ELSE 0 END AS gap
      |  FROM ev
      |  WINDOW w AS (PARTITION BY user_id ORDER BY sec ASC, event_id ASC)),
      |s AS (
      |  SELECT *, SUM(gap) OVER (PARTITION BY user_id
      |    ORDER BY sec ASC, event_id ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
      |  FROM g),
      |shapes AS (
      |  SELECT user_id, sess,
      |    string_agg(event_type, '>' ORDER BY sec ASC, event_id ASC) AS shape
      |  FROM s GROUP BY user_id, sess)
      |SELECT shape, COUNT(*) AS n_sessions FROM shapes
      |GROUP BY shape ORDER BY n_sessions DESC, shape ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // MAD1: median absolute deviation — the robust dispersion estimate
  // (outlier-insensitive, unlike stddev): per event type, exact median,
  // then the exact median of |x − median|. Two grouped exact-percentile
  // passes; the deviation recomputes against the broadcast median.
  // ---------------------------------------------------------------------
  def mad1RobustDispersion(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("__med"))
    ev.join(broadcast(med), "event_type")
      .select(col("event_type"), col("__med"),
        abs(col("value") - col("__med")).as("__dev"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(first(col("__med")), 6).as("median"),
        round(percentile(col("__dev"), lit(0.5)), 6).as("mad"))
  }

  val mad1RobustDispersionSql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type)
      |SELECT e.event_type AS event_type, COUNT(*) AS n,
      |  round(MAX(med), 6) AS median,
      |  round(quantile_cont(abs(value - med), 0.5), 6) AS mad
      |FROM events e JOIN med ON e.event_type = med.event_type
      |GROUP BY e.event_type""".stripMargin

  val all: Seq[Query] = Seq(
    Query("sig1_session_shapes", sig1SessionShapes, sig1SessionShapesSql),
    Query("mad1_robust_dispersion", mad1RobustDispersion, mad1RobustDispersionSql))
}
