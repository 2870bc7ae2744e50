package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round 6 (cont. 11) — iterative ML on moment scans: EM for a
  * two-component 1-D Gaussian mixture over order value. The canonical
  * "iterate scalar parameters against a huge table" shape: every
  * E-step is a full scan whose M-step reduces to SIX DECIMAL-quantized
  * moments; the parameter state is one broadcast row. Same contract as
  * [[Queries]].
  */
object Queries40 {

  private[graft] val GmmIters = 5
  // 1/sqrt(2π), precomputed once and shared VERBATIM with the oracle so
  // both engines scale densities by the same double
  private[graft] val InvSqrt2Pi = 0.3989422804014327

  // ---------------------------------------------------------------------
  // GMM1: init from one moment scan (μ = mean ∓ sd, σ = sd, w = 1/2),
  // then GmmIters EM rounds. Responsibilities are plain double
  // arithmetic (identical on both engines); every cross-row sum is
  // DECIMAL-quantized; an underflow guard pins r = 1/2 where both
  // densities vanish. The oracle unrolls the same rounds as chained
  // MATERIALIZED CTEs (each references its predecessor several times —
  // the pw1 inlining lesson). Component 1 starts at the lower mean.
  // TPC-H-ish order value is near-uniform, so the honest expected fit
  // is two half-weight components splitting the range — the SEMANTICS
  // are under test (the dbs1/mod1 stance).
  // ---------------------------------------------------------------------
  def gmm1EmMixture(spark: SparkSession, sfDir: String): DataFrame =
    emFit(Tables.orders(spark, sfDir)
      .select(col("o_totalprice").cast("double").as("__x")), GmmIters)

  /** The EM core over a single `__x` double column — exposed so the
    * spec can plant a known mixture through the same dataflow. */
  private[graft] def emFit(x0: DataFrame, iters: Int): DataFrame = {
    // the sample column is iteration-INVARIANT: pin it once so the init
    // moments and every EM round read the cached column instead of
    // re-scanning the source parquet per iteration (round 14, guide §5 —
    // reuse across `iters`+1 consumers; released before return)
    val x = x0.persist()
    val init = x.agg(
        count(lit(1)).as("__n"),
        sum(col("__x").cast("decimal(28,6)")).cast("double").as("__s"),
        sum((col("__x") * col("__x")).cast("decimal(38,6)")).cast("double")
          .as("__q"))
      .select(col("__n"),
        (col("__s") / col("__n")).as("__m"),
        sqrt(col("__q") / col("__n") -
          (col("__s") / col("__n")) * (col("__s") / col("__n"))).as("__sd"))
      .select(col("__n"),
        lit(0.5).as("__w1"), (col("__m") - col("__sd")).as("__mu1"),
        col("__sd").as("__s1"),
        lit(0.5).as("__w2"), (col("__m") + col("__sd")).as("__mu2"),
        col("__sd").as("__s2"))
      .localCheckpoint(true)

    def dens(w: Column, mu: Column, s: Column): Column =
      w * lit(InvSqrt2Pi) / s *
        exp((col("__x") - mu) * (col("__x") - mu) / (s * s * -2.0))

    var params = init
    for (_ <- 1 to iters) {
      val scored = x.crossJoin(broadcast(params))
        .withColumn("__p1", dens(col("__w1"), col("__mu1"), col("__s1")))
        .withColumn("__p2", dens(col("__w2"), col("__mu2"), col("__s2")))
        .withColumn("__r", when(col("__p1") + col("__p2") > 0,
          col("__p1") / (col("__p1") + col("__p2"))).otherwise(lit(0.5)))
      params = scored.agg(
          max(col("__n")).as("__n"),
          sum(col("__r").cast("decimal(28,14)")).cast("double").as("__r1"),
          sum((col("__r") * col("__x")).cast("decimal(28,8)")).cast("double")
            .as("__rx1"),
          sum((col("__r") * col("__x") * col("__x")).cast("decimal(38,6)"))
            .cast("double").as("__rq1"),
          sum(((lit(1.0) - col("__r")) * col("__x")).cast("decimal(28,8)"))
            .cast("double").as("__rx2"),
          sum(((lit(1.0) - col("__r")) * col("__x") * col("__x"))
            .cast("decimal(38,6)")).cast("double").as("__rq2"))
        .select(col("__n"),
          (col("__r1") / col("__n")).as("__w1"),
          (col("__rx1") / col("__r1")).as("__mu1"),
          sqrt(col("__rq1") / col("__r1") -
            (col("__rx1") / col("__r1")) * (col("__rx1") / col("__r1")))
            .as("__s1"),
          (lit(1.0) - col("__r1") / col("__n")).as("__w2"),
          (col("__rx2") / (col("__n") - col("__r1"))).as("__mu2"),
          sqrt(col("__rq2") / (col("__n") - col("__r1")) -
            (col("__rx2") / (col("__n") - col("__r1"))) *
            (col("__rx2") / (col("__n") - col("__r1")))).as("__s2"))
        .localCheckpoint(true)
    }
    x.unpersist(): Unit
    params.select(col("__n").as("n"),
      round(col("__w1"), 6).as("w1"), round(col("__mu1"), 4).as("mu1"),
      round(col("__s1"), 4).as("sd1"),
      round(col("__w2"), 6).as("w2"), round(col("__mu2"), 4).as("mu2"),
      round(col("__s2"), 4).as("sd2"))
  }

  val gmm1EmMixtureSql: String = {
    def dens(w: String, mu: String, s: String): String =
      s"($w * CAST($InvSqrt2Pi AS DOUBLE) / $s * " +
        s"exp((x - $mu) * (x - $mu) / ($s * $s * -2.0)))"
    def iter(t: Int): String = {
      val p = s"m${t - 1}"
      val p1 = dens(s"$p.w1", s"$p.mu1", s"$p.s1")
      val p2 = dens(s"$p.w2", s"$p.mu2", s"$p.s2")
      s"""sc$t AS MATERIALIZED (
         |  SELECT x.x AS x, $p.n AS n,
         |    CASE WHEN $p1 + $p2 > 0 THEN $p1 / ($p1 + $p2)
         |      ELSE 0.5 END AS r
         |  FROM x, $p),
         |a$t AS MATERIALIZED (
         |  SELECT MAX(n) AS n,
         |    CAST(SUM(CAST(r AS DECIMAL(28,14))) AS DOUBLE) AS r1,
         |    CAST(SUM(CAST(r * x AS DECIMAL(28,8))) AS DOUBLE) AS rx1,
         |    CAST(SUM(CAST(r * x * x AS DECIMAL(38,6))) AS DOUBLE) AS rq1,
         |    CAST(SUM(CAST((1.0 - r) * x AS DECIMAL(28,8))) AS DOUBLE)
         |      AS rx2,
         |    CAST(SUM(CAST((1.0 - r) * x * x AS DECIMAL(38,6))) AS DOUBLE)
         |      AS rq2
         |  FROM sc$t),
         |m$t AS MATERIALIZED (
         |  SELECT n, r1 / n AS w1, rx1 / r1 AS mu1,
         |    sqrt(rq1 / r1 - (rx1 / r1) * (rx1 / r1)) AS s1,
         |    1.0 - r1 / n AS w2, rx2 / (n - r1) AS mu2,
         |    sqrt(rq2 / (n - r1) - (rx2 / (n - r1)) * (rx2 / (n - r1)))
         |      AS s2
         |  FROM a$t)""".stripMargin
    }
    val iters = (1 to GmmIters).map(iter).mkString(",\n")
    s"""WITH x AS MATERIALIZED (
       |  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders),
       |i AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS s,
       |    CAST(SUM(CAST(x * x AS DECIMAL(38,6))) AS DOUBLE) AS q
       |  FROM x),
       |m0 AS MATERIALIZED (
       |  SELECT n, 0.5 AS w1, s / n - sqrt(q / n - (s / n) * (s / n))
       |      AS mu1,
       |    sqrt(q / n - (s / n) * (s / n)) AS s1,
       |    0.5 AS w2, s / n + sqrt(q / n - (s / n) * (s / n)) AS mu2,
       |    sqrt(q / n - (s / n) * (s / n)) AS s2
       |  FROM i),
       |$iters
       |SELECT n, round(w1, 6) AS w1, round(mu1, 4) AS mu1,
       |  round(s1, 4) AS sd1, round(w2, 6) AS w2, round(mu2, 4) AS mu2,
       |  round(s2, 4) AS sd2
       |FROM m$GmmIters""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("gmm1_em_mixture", gmm1EmMixture, gmm1EmMixtureSql))
}
