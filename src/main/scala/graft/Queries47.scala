package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ranks

/** Round 6 (cont. 18) — sequential testing: Wald's SPRT over the
  * date-ordered order stream, asking "is the urgent share p₁ = 0.22
  * rather than p₀ = 0.18, and how early could we have stopped?". The
  * fixed-horizon members of the family are ab1/ab2/pt1/wel1; SPRT is
  * the streaming-decision member — the log-likelihood ratio is a
  * RUNNING SUM, so the whole test rides the distributed prefix
  * machinery. Same contract as [[Queries]].
  */
object Queries47 {

  private[graft] val SprtP0 = 0.18
  private[graft] val SprtP1 = 0.22
  private[graft] val SprtAlpha = 0.05
  private[graft] val SprtBeta = 0.05

  // ---------------------------------------------------------------------
  // SPRT1: observations ordered by (o_orderdate, o_orderkey); after t of
  // them with k urgent, LLR = k·ln(p₁/p₀) + (t−k)·ln((1−p₁)/(1−p₀)).
  // Both k and t come from ONE distributed prefix pass (k as a running
  // sum, t as the exact rank); the boundaries ln((1−β)/α), ln(β/(1−α))
  // and the two per-observation increments are Scala-computed doubles
  // interpolated VERBATIM into the oracle. LLR is kept n-SCALED as
  // exact integers? No — the increments are irrational, so LLR is the
  // fixed double tree k·a + (t−k)·b, identical on both engines given
  // identical (k, t). Output: the earliest accept-H1 and accept-H0
  // crossing positions (NULL if never) and the decision the sequential
  // test returns on this stream.
  // ---------------------------------------------------------------------
  def sprt1SequentialTest(spark: SparkSession, sfDir: String): DataFrame = {
    val a = math.log(SprtP1 / SprtP0)
    val b = math.log((1.0 - SprtP1) / (1.0 - SprtP0))
    val upper = math.log((1.0 - SprtBeta) / SprtAlpha)
    val lower = math.log(SprtBeta / (1.0 - SprtAlpha))
    val obs = Tables.orders(spark, sfDir).select(
      col("o_orderdate").as("__d"), col("o_orderkey").as("__k"),
      when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("__x"))
    // ONE prefix pass: t is the running count of a constant-1 column,
    // k the running sum of the urgent flag — same total order, no
    // second range shuffle
    val run = Ranks.withRunningSums(obs.withColumn("__one", lit(1L)),
      Seq(("__x", "__kk"), ("__one", "__t")),
      Seq(col("__d").asc, col("__k").asc))
    val llr = run.select(col("__t"),
      (col("__kk").cast("double") * a +
        (col("__t") - col("__kk")).cast("double") * b).as("__llr"))
    val crossings = llr.agg(
      count(lit(1)).as("n_obs"),
      min(when(col("__llr") >= upper, col("__t"))).as("first_accept_h1"),
      min(when(col("__llr") <= lower, col("__t"))).as("first_accept_h0"))
    crossings.select(col("n_obs"), col("first_accept_h1"),
      col("first_accept_h0"),
      when(col("first_accept_h1").isNotNull &&
          (col("first_accept_h0").isNull ||
            col("first_accept_h1") < col("first_accept_h0")), "accept_h1")
        .when(col("first_accept_h0").isNotNull, "accept_h0")
        .otherwise("continue").as("decision"))
  }

  val sprt1SequentialTestSql: String = {
    val a = math.log(SprtP1 / SprtP0)
    val b = math.log((1.0 - SprtP1) / (1.0 - SprtP0))
    val upper = math.log((1.0 - SprtBeta) / SprtAlpha)
    val lower = math.log(SprtBeta / (1.0 - SprtAlpha))
    s"""WITH o AS (
       |  SELECT o_orderdate AS d, o_orderkey AS k,
       |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS x
       |  FROM orders),
       |r AS (SELECT
       |    CAST(ROW_NUMBER() OVER (ORDER BY d ASC, k ASC) AS BIGINT) AS t,
       |    CAST(SUM(x) OVER (ORDER BY d ASC, k ASC
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS kk
       |  FROM o),
       |l AS (SELECT t,
       |    CAST(kk AS DOUBLE) * CAST($a AS DOUBLE)
       |      + CAST(t - kk AS DOUBLE) * CAST($b AS DOUBLE) AS llr
       |  FROM r),
       |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_obs,
       |    MIN(CASE WHEN llr >= CAST($upper AS DOUBLE) THEN t END)
       |      AS first_accept_h1,
       |    MIN(CASE WHEN llr <= CAST($lower AS DOUBLE) THEN t END)
       |      AS first_accept_h0
       |  FROM l)
       |SELECT n_obs, first_accept_h1, first_accept_h0,
       |  CASE WHEN first_accept_h1 IS NOT NULL
       |      AND (first_accept_h0 IS NULL
       |        OR first_accept_h1 < first_accept_h0) THEN 'accept_h1'
       |    WHEN first_accept_h0 IS NOT NULL THEN 'accept_h0'
       |    ELSE 'continue' END AS decision
       |FROM c""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("sprt1_sequential_test", sprt1SequentialTest, sprt1SequentialTestSql))
}
