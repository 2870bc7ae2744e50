package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round 6 (cont. 17) — Box–Jenkins model identification: partial
  * autocorrelation of the daily revenue series at lags 1..3 by
  * Durbin–Levinson recursion over acf1's autocorrelations. ACF says
  * "how much lag-k memory"; PACF says "how much SURVIVES controlling
  * for the shorter lags" — the pair an AR-order picker reads together.
  * Same contract as [[Queries]].
  */
object Queries46 {

  // ---------------------------------------------------------------------
  // PACF1: inputs are acf1's 12-dp autocorrelations (both engines round
  // them identically, so starting from the rounded values keeps every
  // downstream double bit-equal); the recursion is a fixed scalar tree
  // written token-for-token on both sides:
  //   φ11 = r1
  //   φ22 = (r2 − r1·r1) / (1 − r1·r1)
  //   φ21 = r1 − φ22·r1
  //   φ33 = (r3 − φ21·r2 − φ22·r1) / (1 − φ21·r1 − φ22·r2)
  // ---------------------------------------------------------------------
  def pacf1PartialAutocorr(spark: SparkSession, sfDir: String): DataFrame = {
    val acf = Queries30.acf1DailyRevenue(spark, sfDir)
    val m = acf.agg(
      max(when(col("lag") === 1, col("r"))).as("__r1"),
      max(when(col("lag") === 2, col("r"))).as("__r2"),
      max(when(col("lag") === 3, col("r"))).as("__r3"))
    val r1 = col("__r1"); val r2 = col("__r2"); val r3 = col("__r3")
    val phi22 = (r2 - r1 * r1) / (lit(1.0) - r1 * r1)
    val phi21 = r1 - phi22 * r1
    val phi33 = (r3 - phi21 * r2 - phi22 * r1) /
      (lit(1.0) - phi21 * r1 - phi22 * r2)
    m.select(explode(array(
        struct(lit(1).as("lag"), round(r1, 6).as("pacf")),
        struct(lit(2).as("lag"), round(phi22, 6).as("pacf")),
        struct(lit(3).as("lag"), round(phi33, 6).as("pacf")))).as("__p"))
      .select(col("__p.lag").as("lag"), col("__p.pacf").as("pacf"))
  }

  val pacf1PartialAutocorrSql: String = {
    val phi22 = "((r2 - r1 * r1) / (1.0 - r1 * r1))"
    val phi21 = s"(r1 - $phi22 * r1)"
    val phi33 = s"((r3 - $phi21 * r2 - $phi22 * r1)" +
      s" / (1.0 - $phi21 * r1 - $phi22 * r2))"
    s"""WITH acf AS (${Queries30.acf1DailyRevenueSql}),
       |m AS (SELECT MAX(CASE WHEN lag = 1 THEN r END) AS r1,
       |        MAX(CASE WHEN lag = 2 THEN r END) AS r2,
       |        MAX(CASE WHEN lag = 3 THEN r END) AS r3
       |      FROM acf)
       |SELECT 1 AS lag, round(r1, 6) AS pacf FROM m
       |UNION ALL SELECT 2, round($phi22, 6) FROM m
       |UNION ALL SELECT 3, round($phi33, 6) FROM m""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("pacf1_partial_autocorr", pacf1PartialAutocorr, pacf1PartialAutocorrSql))
}
