package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round 6 (cont. 15) — proportion monitoring with uncertainty: the
  * monthly urgent-order share with Wilson score intervals (the band a
  * rate chart should draw instead of ±normal error, correct near 0/1
  * and for small months). Same contract as [[Queries]].
  */
object Queries44 {

  private[graft] val WilZ = 1.96

  // ---------------------------------------------------------------------
  // WIL1: per month, k urgent of n orders; Wilson bounds
  // (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n). One scan into
  // a calendar-bounded month table; every bound is a fixed double
  // expression over exact integer (n, k) — identical on both engines.
  // ---------------------------------------------------------------------
  def wil1UrgentShareWilson(spark: SparkSession, sfDir: String): DataFrame = {
    val m = Tables.orders(spark, sfDir)
      .groupBy(date_format(to_date(col("o_orderdate")), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"),
        count(when(col("o_orderpriority") === "1-URGENT", 1)).as("k"))
    val n = col("n").cast("double")
    val p = col("k").cast("double") / n
    val z2 = lit(WilZ * WilZ)
    val center = p + z2 / (n * 2)
    val margin = lit(WilZ) * sqrt(p * (lit(1.0) - p) / n +
      z2 / (n * n * 4))
    val denom = lit(1.0) + z2 / n
    m.select(col("month"), col("n"), col("k"),
      round(p, 6).as("share"),
      round((center - margin) / denom, 6).as("wilson_lo"),
      round((center + margin) / denom, 6).as("wilson_hi"))
  }

  val wil1UrgentShareWilsonSql: String = {
    val z = WilZ
    val z2 = WilZ * WilZ
    val n = "CAST(n AS DOUBLE)"
    val p = s"(CAST(k AS DOUBLE) / $n)"
    val center = s"($p + $z2 / ($n * 2))"
    val margin =
      s"($z * sqrt($p * (1.0 - $p) / $n + $z2 / ($n * $n * 4)))"
    val denom = s"(1.0 + $z2 / $n)"
    s"""WITH m AS (
       |  SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m') AS month,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
       |      AS BIGINT) AS k
       |  FROM orders GROUP BY 1)
       |SELECT month, n, k, round($p, 6) AS share,
       |  round(($center - $margin) / $denom, 6) AS wilson_lo,
       |  round(($center + $margin) / $denom, 6) AS wilson_hi
       |FROM m""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("wil1_urgent_share_wilson", wil1UrgentShareWilson, wil1UrgentShareWilsonSql))
}
