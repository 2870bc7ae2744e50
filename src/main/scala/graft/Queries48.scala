package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Ranks

/** Round 6 (cont. 19) — the integrated-square two-sample statistic:
  * Cramér–von Mises for urgent vs non-urgent order value. mw1 tests
  * location, ks1 watches the sup-norm gap, wel1 assumes normality;
  * CvM integrates the SQUARED ECDF gap, the sensitive-everywhere
  * member of the family. Same contract as [[Queries]].
  */
object Queries48 {

  // ---------------------------------------------------------------------
  // CVM1: computational form over ranks (Anderson 1962):
  //   U = n·Σᵢ(rᵢ − i)² + m·Σⱼ(sⱼ − j)²
  //   T = U / (n·m·N) − (4nm − 1) / (6N)
  // with rᵢ/sⱼ the POOLED ranks of each sample and i/j the WITHIN-
  // sample indices — three distributed-rank passes over the same
  // (value, key) total order, all squares summed as exact integers in
  // DECIMAL(38,0), T one fixed double tree. The orderkey tie-break
  // pins determinism on repeated prices (documented: the tie-adjusted
  // textbook variant differs only in ties' internal order, which the
  // shared total order fixes identically on both engines).
  // ---------------------------------------------------------------------
  def cvm1CramerVonMises(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select(
      col("o_orderkey").as("__k"),
      col("o_totalprice").cast("decimal(18,2)").as("__x"),
      (col("o_orderpriority") === "1-URGENT").as("__a"))
    val pooled = Ranks.withGlobalRank(o, "__r",
      Seq(col("__x").asc, col("__k").asc))
    def withinSum(flag: Boolean): DataFrame =
      Ranks.withGlobalRank(pooled.where(col("__a") === flag), "__i",
          Seq(col("__x").asc, col("__k").asc))
        .agg(count(lit(1)).as("n"),
          sum(((col("__r") - col("__i")) * (col("__r") - col("__i")))
            .cast("decimal(38,0)")).as("ssq"))
    val a = withinSum(true)
      .select(col("n").as("__na"), col("ssq").as("__sa"))
    val b = withinSum(false)
      .select(col("n").as("__nb"), col("ssq").as("__sb"))
    a.crossJoin(broadcast(b))
      .select(col("__na").as("n_urgent"), col("__nb").as("n_other"),
        round((
          (col("__na").cast("double") * col("__sa").cast("double") +
            col("__nb").cast("double") * col("__sb").cast("double")) /
          (col("__na").cast("double") * col("__nb").cast("double") *
            (col("__na") + col("__nb")).cast("double")) -
          ((col("__na") * col("__nb") * 4 - 1).cast("double") /
            ((col("__na") + col("__nb")) * 6).cast("double"))
        ), 6).as("cvm_t"))
  }

  val cvm1CramerVonMisesSql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS x,
      |    o_orderpriority = '1-URGENT' AS a
      |  FROM orders),
      |p AS (SELECT k, x, a,
      |    CAST(ROW_NUMBER() OVER (ORDER BY x ASC, k ASC) AS BIGINT) AS r
      |  FROM o),
      |w AS (SELECT a, r,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY a ORDER BY x ASC, k ASC)
      |      AS BIGINT) AS i
      |  FROM p),
      |s AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST((r - i) * (r - i) AS DECIMAL(38,0))) AS ssq
      |  FROM w GROUP BY 1),
      |m AS (SELECT
      |    MAX(CASE WHEN a THEN n END) AS na,
      |    MAX(CASE WHEN a THEN ssq END) AS sa,
      |    MAX(CASE WHEN NOT a THEN n END) AS nb,
      |    MAX(CASE WHEN NOT a THEN ssq END) AS sb
      |  FROM s)
      |SELECT na AS n_urgent, nb AS n_other,
      |  round((
      |    (CAST(na AS DOUBLE) * CAST(sa AS DOUBLE)
      |      + CAST(nb AS DOUBLE) * CAST(sb AS DOUBLE))
      |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
      |      * CAST(na + nb AS DOUBLE))
      |    - (CAST(na * nb * 4 - 1 AS DOUBLE)
      |      / CAST((na + nb) * 6 AS DOUBLE))
      |  ), 6) AS cvm_t
      |FROM m""".stripMargin

  val all: Seq[Query] = Seq(
    Query("cvm1_cramer_von_mises", cvm1CramerVonMises, cvm1CramerVonMisesSql))
}
