package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round 6 (cont. 20) — point-process burstiness: the Fano factor
  * (index of dispersion, variance-to-mean of daily counts) per event
  * type. A Poisson stream sits at 1; bursty traffic rises above it —
  * the one-number complement to lat1's interarrival profile that a
  * capacity planner reads first. Same contract as [[Queries]].
  */
object Queries49 {

  // ---------------------------------------------------------------------
  // FAN1: two keyed aggregations (events -> daily counts -> per-type
  // moments) with the day grid per type taken from the OBSERVED days of
  // that type (zero-days excluded by construction — declared: this is
  // the conditional Fano over active days, identical on both engines).
  // Sums in DECIMAL; population variance; fano = var/mean double.
  // ---------------------------------------------------------------------
  def fan1FanoFactor(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("__d"))
      .agg(count(lit(1)).as("__c"))
    daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        sum(col("__c")).as("__s"),
        sum((col("__c") * col("__c")).cast("decimal(38,0)")).as("__q"))
      .select(col("event_type"), col("n_days"),
        round(col("__s").cast("double") / col("n_days").cast("double"), 6)
          .as("mean_daily"),
        round((col("__q").cast("double") / col("n_days").cast("double") -
          (col("__s").cast("double") / col("n_days").cast("double")) *
          (col("__s").cast("double") / col("n_days").cast("double"))) /
          (col("__s").cast("double") / col("n_days").cast("double")), 6)
          .as("fano"))
  }

  val fan1FanoFactorSql: String =
    """WITH d AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
      |    CAST(SUM(c) AS BIGINT) AS s,
      |    SUM(CAST(c * c AS DECIMAL(38,0))) AS q
      |  FROM d GROUP BY 1)
      |SELECT event_type, n_days,
      |  round(CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS mean_daily,
      |  round((CAST(q AS DOUBLE) / CAST(n_days AS DOUBLE)
      |    - (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))
      |      * (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)))
      |    / (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)), 6) AS fano
      |FROM m""".stripMargin

  val all: Seq[Query] = Seq(
    Query("fan1_fano_factor", fan1FanoFactor, fan1FanoFactorSql))
}
