package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ranks

/** Round 6 (cont. 13) — weighted-median order statistics: the revenue
  * half-life date ("by which day was half of all revenue booked"), the
  * weighted-median companion to mci1's unweighted one. Same contract
  * as [[Queries]].
  */
object Queries42 {

  // ---------------------------------------------------------------------
  // WMED1: daily revenue in EXACT integer cents, cumulative through the
  // distributed prefix sum (no single-partition global sort), then the
  // first date whose running total reaches half the grand total — plus
  // the quartile dates the same way. All thresholds are integer
  // arithmetic on the decimal-exact totals, so both engines pick the
  // identical dates.
  // ---------------------------------------------------------------------
  def wmed1RevenueHalfdate(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("t"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("__c"))
    val cum = Ranks.withRunningSums(daily, Seq(("__c", "__cum")),
      Seq(col("t").asc))
    val tot = cum.agg(max(col("__cum")).as("__tot"),
      count(lit(1)).as("n_days"))
    def firstAt(q: Int): org.apache.spark.sql.Column =
      min(when(col("__cum") * 4 >= col("__tot") * q, col("t")))
    cum.crossJoin(broadcast(tot))
      .agg(max(col("n_days")).as("n_days"),
        max(col("__tot")).as("total_cents"),
        firstAt(1).as("q1_date"),
        firstAt(2).as("half_date"),
        firstAt(3).as("q3_date"))
  }

  val wmed1RevenueHalfdateSql: String =
    """WITH d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS t,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS c
      |  FROM orders GROUP BY 1),
      |cum AS (SELECT t, SUM(c) OVER (ORDER BY t ASC
      |          ROWS UNBOUNDED PRECEDING) AS cum FROM d),
      |tot AS (SELECT CAST(MAX(cum) AS BIGINT) AS tot,
      |          CAST(COUNT(*) AS BIGINT) AS n_days FROM cum)
      |SELECT tot.n_days AS n_days, tot.tot AS total_cents,
      |  MIN(CASE WHEN cum * 4 >= tot.tot * 1 THEN t END) AS q1_date,
      |  MIN(CASE WHEN cum * 4 >= tot.tot * 2 THEN t END) AS half_date,
      |  MIN(CASE WHEN cum * 4 >= tot.tot * 3 THEN t END) AS q3_date
      |FROM cum, tot GROUP BY tot.n_days, tot.tot""".stripMargin

  val all: Seq[Query] = Seq(
    Query("wmed1_revenue_halfdate", wmed1RevenueHalfdate, wmed1RevenueHalfdateSql))
}
