package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ranks, Sampling, SamplingSql}

/** Round 6 (cont. 9) — weighted selection and tail behaviour: the
  * Efraimidis–Spirakis weighted sample without replacement (the
  * one-pass mergeable form of weighted reservoir sampling) and the
  * Hill estimator of the order-value tail index. Same contract as
  * [[Queries]].
  */
object Queries38 {

  // ---------------------------------------------------------------------
  // WRS1: weighted sample WITHOUT replacement (Efraimidis & Spirakis
  // 2006): key each row with u^(1/w) for a seeded uniform u and keep
  // the k largest keys — inclusion probability tracks weight, and the
  // selection is mergeable exactly like ps1's bottom-k (top-k of a
  // union = top-k of concatenated top-k's: what 1000 executors ship).
  // Keys are scale-invariant in the weights (w -> c·w maps every key
  // through the same monotone x^(1/c)), which the spec pins. Revenue-
  // weighted over orders; k = 20.
  // ---------------------------------------------------------------------
  private[graft] val WrsK = 20

  def wrs1WeightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("double").as("__w"))
      .where(col("__w") > 0)
      .withColumn("__key",
        pow(Sampling.bootUniform(col("k"), lit(7)), lit(1.0) / col("__w")))
    scored.orderBy(col("__key").desc, col("k").asc).limit(WrsK)
      .select(col("k").as("orderkey"),
        round(col("__w"), 2).as("weight"),
        round(col("__key"), 6).as("es_key"))
  }

  val wrs1WeightedSampleSql: String = {
    val u = SamplingSql.bootUniform("o_orderkey", "7")
    s"""WITH s AS (
       |  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS w,
       |    power($u, 1.0 / CAST(o_totalprice AS DOUBLE)) AS key
       |  FROM orders WHERE CAST(o_totalprice AS DOUBLE) > 0)
       |SELECT k AS orderkey, round(w, 2) AS weight,
       |  round(key, 6) AS es_key
       |FROM s ORDER BY key DESC, k ASC LIMIT $WrsK""".stripMargin
  }

  // ---------------------------------------------------------------------
  // TAIL1: Hill estimator of the right-tail index of order value —
  // α̂ = k / Σᵢ ln(x₍ᵢ₎/x₍ₖ₎) over the k largest order statistics
  // (Hill 1975), the standard "how heavy is this tail" number behind
  // every power-law claim (zipf1 fits rank-frequency; this measures a
  // continuous variable's tail). The top-k come from the distributed
  // rank (no global per-row sort); each log ratio is DECIMAL-quantized
  // before the exact sum, and x₍ₖ₎ rides as a broadcast scalar.
  // ---------------------------------------------------------------------
  private[graft] val TailK = 200

  def tail1HillEstimator(spark: SparkSession, sfDir: String): DataFrame = {
    val x = Tables.orders(spark, sfDir).select(
      col("o_orderkey").as("__k"),
      col("o_totalprice").cast("double").as("__x"))
    val ranked = Ranks.withGlobalRank(x, "__r",
      Seq(col("__x").desc, col("__k").asc))
    val top = ranked.where(col("__r") <= TailK).localCheckpoint(true)
    val xk = top.where(col("__r") === TailK)
      .select(col("__x").as("__xk"))
    top.where(col("__r") < TailK).crossJoin(broadcast(xk))
      .select((log(col("__x") / col("__xk")))
        .cast("decimal(28,14)").as("__t"), col("__xk"))
      .groupBy(col("__xk"))
      .agg(count(lit(1)).as("__n"),
        sum(col("__t")).cast("double").as("__s"))
      .select(lit(TailK).as("k"),
        round(col("__xk"), 2).as("x_k"),
        round(col("__n").cast("double") / col("__s"), 6).as("alpha_hill"))
  }

  val tail1HillEstimatorSql: String =
    s"""WITH x AS (
       |  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS x
       |  FROM orders),
       |r AS (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x DESC, k ASC)
       |        AS BIGINT) AS r FROM x),
       |xk AS (SELECT x AS xk FROM r WHERE r = $TailK)
       |SELECT $TailK AS k, round(xk.xk, 2) AS x_k,
       |  round(CAST(COUNT(*) AS DOUBLE)
       |    / CAST(SUM(CAST(ln(r.x / xk.xk) AS DECIMAL(28,14))) AS DOUBLE),
       |    6) AS alpha_hill
       |FROM r, xk WHERE r.r < $TailK
       |GROUP BY xk.xk""".stripMargin

  val all: Seq[Query] = Seq(
    Query("wrs1_weighted_sample", wrs1WeightedSample, wrs1WeightedSampleSql),
    Query("tail1_hill_estimator", tail1HillEstimator, tail1HillEstimatorSql))
}
