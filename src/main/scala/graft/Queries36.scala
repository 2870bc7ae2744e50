package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Ranks, Sampling, SamplingSql}

/** Round 6 (cont. 7) — interval estimation and infrastructure audit:
  * a distribution-free median confidence interval from exact order
  * statistics, and a chi-square goodness-of-fit audit of the engine's
  * own seeded uniform (the primitive every sampler/sketch/permutation
  * operator leans on). Same contract as [[Queries]].
  */
object Queries36 {

  // ---------------------------------------------------------------------
  // MCI1: distribution-free median CI for order value — the binomial
  // order-statistic interval (no normality assumption, no resampling):
  // ranks l = floor((n − z√n)/2) and u = n + 1 − l bracket the median
  // with ~95% coverage (z = 1.96). All four order statistics (l, the
  // two middle ranks, u) come from ONE distributed-rank pass; boot1
  // covers the mean by resampling, this covers the median exactly.
  // ---------------------------------------------------------------------
  private[graft] val MciZ = 1.96

  def mci1MedianCi(spark: SparkSession, sfDir: String): DataFrame = {
    val x = Tables.orders(spark, sfDir).select(
      col("o_orderkey").as("__k"),
      col("o_totalprice").cast("decimal(18,2)").as("__x"))
    val ranked = Ranks.withGlobalRank(x, "__r",
      Seq(col("__x").asc, col("__k").asc))
    val n = ranked.agg(max(col("__r")).as("__n"))
    // rank bounds derived from n with floor on the SAME double formula
    // both engines evaluate; u is the symmetric reflection n + 1 - l.
    // l is clamped to >= 1 (round-6 ADVICE): for n <= ~8 the raw floor
    // reaches 0, which matches no rank and silently NULLs ci_lo — the
    // clamp degrades to the min/max order statistics instead.
    val withN = ranked.crossJoin(broadcast(n))
      .withColumn("__l", greatest(floor((col("__n").cast("double") -
        lit(MciZ) * sqrt(col("__n").cast("double"))) / 2).cast("long"),
        lit(1L)))
      .withColumn("__u", col("__n") + 1 - col("__l"))
      // explicit floor on BOTH engines: Spark's double->long cast
      // truncates but DuckDB's ROUNDS, so a bare cast of n/2 + .5 would
      // disagree on even n
      .withColumn("__m1", floor((col("__n") + 1) / 2).cast("long"))
      .withColumn("__m2", floor(col("__n") / 2 + 1).cast("long"))
    withN.where(col("__r") === col("__l") || col("__r") === col("__u") ||
        col("__r") === col("__m1") || col("__r") === col("__m2"))
      .agg(max(col("__n")).as("n"),
        round((sum(when(col("__r") === col("__m1"), col("__x"))
            .cast("decimal(28,6)")).cast("double") +
          sum(when(col("__r") === col("__m2"), col("__x"))
            .cast("decimal(28,6)")).cast("double")) / 2, 6).as("median"),
        round(max(when(col("__r") === col("__l"), col("__x")))
          .cast("double"), 6).as("ci_lo"),
        round(max(when(col("__r") === col("__u"), col("__x")))
          .cast("double"), 6).as("ci_hi"))
  }

  val mci1MedianCiSql: String =
    s"""WITH x AS (
       |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS x
       |  FROM orders),
       |r AS (SELECT x, CAST(ROW_NUMBER() OVER (ORDER BY x ASC, k ASC)
       |        AS BIGINT) AS r FROM x),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM x),
       |b AS (SELECT n,
       |    greatest(CAST(floor((CAST(n AS DOUBLE)
       |      - $MciZ * sqrt(CAST(n AS DOUBLE))) / 2) AS BIGINT), 1) AS l,
       |    CAST(floor((n + 1) / 2) AS BIGINT) AS m1,
       |    CAST(floor(n / 2 + 1) AS BIGINT) AS m2
       |  FROM n)
       |SELECT b.n AS n,
       |  round((CAST(SUM(CAST(CASE WHEN r.r = b.m1 THEN r.x END
       |      AS DECIMAL(28,6))) AS DOUBLE)
       |    + CAST(SUM(CAST(CASE WHEN r.r = b.m2 THEN r.x END
       |      AS DECIMAL(28,6))) AS DOUBLE)) / 2, 6) AS median,
       |  round(CAST(MAX(CASE WHEN r.r = b.l THEN r.x END) AS DOUBLE), 6)
       |    AS ci_lo,
       |  round(CAST(MAX(CASE WHEN r.r = b.n + 1 - b.l THEN r.x END)
       |    AS DOUBLE), 6) AS ci_hi
       |FROM r, b
       |WHERE r.r IN (b.l, b.n + 1 - b.l, b.m1, b.m2)
       |GROUP BY b.n""".stripMargin

  // ---------------------------------------------------------------------
  // GOF1: chi-square goodness-of-fit of the engine's seeded uniform
  // against the uniform law, over 64 buckets of bootUniform(o_orderkey)
  // — the infrastructure audit for the primitive every sampler (smp*),
  // sketch (hll1/cms1), permutation test (pt1/bh1), and bootstrap
  // (boot1) trusts. One bucket aggregation; expected counts are exact
  // n/64 scalars; the statistic should hover near its df = 63 under
  // the null. An engine whose hash drifted would fail THIS row before
  // the downstream operators' oracles moved. The observed counts are
  // left-joined onto the FULL 0..63 grid with coalesce(o, 0), so an
  // empty bucket contributes its full (0 − e)²/e = e term and df = 63
  // is honest even when n_buckets_hit < 64 (round-6 ADVICE).
  // ---------------------------------------------------------------------
  private[graft] val GofBuckets = 64

  def gof1HashUniformity(spark: SparkSession, sfDir: String): DataFrame = {
    val hit = Tables.orders(spark, sfDir).select(
      floor(Sampling.bootUniform(col("o_orderkey"), lit(5)) * GofBuckets)
        .cast("int").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("__oh"))
    val grid = spark.range(GofBuckets)
      .select(col("id").cast("int").as("bucket"))
    val b = grid.join(hit, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("__oh"), lit(0L)).as("__o"))
    val n = b.agg(sum(col("__o")).as("__n"),
      count(when(col("__o") > 0, lit(1))).as("n_buckets_hit"))
    b.crossJoin(broadcast(n))
      .select(col("n_buckets_hit"), col("__n"),
        ((col("__o").cast("double") -
          col("__n").cast("double") / GofBuckets) *
         (col("__o").cast("double") -
          col("__n").cast("double") / GofBuckets) /
         (col("__n").cast("double") / GofBuckets))
          .cast("decimal(28,14)").as("__t"))
      .groupBy(col("n_buckets_hit"), col("__n"))
      .agg(round(sum(col("__t")).cast("double"), 6).as("chi2"))
      .select(col("__n").as("n"), col("n_buckets_hit"),
        lit(GofBuckets - 1).as("df"), col("chi2"))
  }

  val gof1HashUniformitySql: String = {
    val u = SamplingSql.bootUniform("o_orderkey", "5")
    val e = s"(CAST(n.n AS DOUBLE) / $GofBuckets)"
    s"""WITH hit AS (
       |  SELECT CAST(floor($u * $GofBuckets) AS INTEGER) AS bucket,
       |    CAST(COUNT(*) AS BIGINT) AS o
       |  FROM orders GROUP BY 1),
       |b AS (
       |  SELECT g.bucket, COALESCE(hit.o, 0) AS o
       |  FROM (SELECT CAST(range AS INTEGER) AS bucket
       |        FROM range($GofBuckets)) g
       |  LEFT JOIN hit ON hit.bucket = g.bucket),
       |n AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
       |        CAST(COUNT(CASE WHEN o > 0 THEN 1 END) AS BIGINT) AS hit
       |      FROM b)
       |SELECT n.n AS n, n.hit AS n_buckets_hit,
       |  ${GofBuckets - 1} AS df,
       |  round(CAST(SUM(CAST((CAST(o AS DOUBLE) - $e) * (CAST(o AS DOUBLE)
       |    - $e) / $e AS DECIMAL(28,14))) AS DOUBLE), 6) AS chi2
       |FROM b, n GROUP BY n.n, n.hit""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("mci1_median_ci", mci1MedianCi, mci1MedianCiSql),
    Query("gof1_hash_uniformity", gof1HashUniformity, gof1HashUniformitySql))
}
