package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round 6 (cont. 14) — residual autocorrelation diagnostics: the
  * Durbin–Watson statistic of the trend-removed daily revenue series.
  * acf1 MEASURES serial correlation; DW is the classic TEST statistic
  * a regression report quotes (≈2 none, →0 positive, →4 negative).
  * Same contract as [[Queries]].
  */
object Queries43 {

  // ---------------------------------------------------------------------
  // DW1: residuals = the dec1 detrended values (7·y − Σ₇y over full
  // centered weeks, EXACT DECIMAL); DW = Σ(eₜ−eₜ₋₁)² / Σeₜ². The
  // numerator's lag runs over the calendar-bounded daily table (the
  // acf1/dec1 single-partition-window adjudication); numerator and
  // denominator accumulate in DECIMAL so both engines emit the same
  // double.
  // ---------------------------------------------------------------------
  def dw1DurbinWatson(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("t"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("__rev"))
    val w7 = Window.orderBy(col("t")).rowsBetween(-3, 3)
    val resid = daily
      .withColumn("__cnt", count(lit(1)).over(w7))
      .withColumn("__tsum", sum(col("__rev")).over(w7))
      .where(col("__cnt") === 7)
      .select(col("t"),
        (col("__rev") * 7 - col("__tsum")).cast("decimal(28,2)")
          .cast("double").as("__e"))
    val wl = Window.orderBy(col("t"))
    resid.withColumn("__ep", lag(col("__e"), 1).over(wl))
      .agg(count(lit(1)).as("n_days"),
        (sum(when(col("__ep").isNotNull,
            (col("__e") - col("__ep")) * (col("__e") - col("__ep")))
          .cast("decimal(38,6)")).cast("double") /
         sum((col("__e") * col("__e")).cast("decimal(38,6)")).cast("double"))
          .as("__dw"))
      .select(col("n_days"), round(col("__dw"), 6).as("durbin_watson"))
  }

  val dw1DurbinWatsonSql: String =
    """WITH d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS t,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      |  FROM orders GROUP BY 1),
      |f AS (
      |  SELECT t, CAST(CAST(rev * 7 - tsum AS DECIMAL(28,2)) AS DOUBLE)
      |    AS e
      |  FROM (SELECT t, rev, COUNT(*) OVER w AS cnt, SUM(rev) OVER w
      |          AS tsum
      |        FROM d WINDOW w AS (ORDER BY t ROWS BETWEEN 3 PRECEDING
      |          AND 3 FOLLOWING))
      |  WHERE cnt = 7),
      |l AS (SELECT e, LAG(e) OVER (ORDER BY t) AS ep FROM f)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
      |  round(CAST(SUM(CAST(CASE WHEN ep IS NOT NULL
      |      THEN (e - ep) * (e - ep) END AS DECIMAL(38,6))) AS DOUBLE)
      |    / CAST(SUM(CAST(e * e AS DECIMAL(38,6))) AS DOUBLE), 6)
      |    AS durbin_watson
      |FROM l""".stripMargin

  val all: Seq[Query] = Seq(
    Query("dw1_durbin_watson", dw1DurbinWatson, dw1DurbinWatsonSql))
}
