package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DedupSql, Sampling, SamplingSql}

/** Round-3 continuation: asymmetric containment dedup and deterministic
  * A/B experiment analysis. Same contract as [[Queries]]: each Spark
  * dataflow paired with DuckDB SQL computing the identical result.
  */
object Queries10 {

  // ---------------------------------------------------------------------
  // CNT1: shingle-containment pairs — the subset-duplicate detector
  // (quotation/inclusion dups that symmetric Jaccard misses). Directed
  // pairs at C(src→dst) ≥ 0.6 from one posting-list co-occurrence join;
  // the oracle recomputes every containment brute-force on the full sets.
  // ---------------------------------------------------------------------
  def cnt1Containment(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.containmentPairs(
        Tables.documents(spark, sfDir).where(col("doc_id") < 1000),
        "doc_id", "text", threshold = 0.6, shingleN = 2)
      .select(col("src"), col("dst"), round(col("containment"), 6).as("containment"))

  val cnt1ContainmentSql: String = {
    val sh = DedupSql.shingleSet("text", 2)
    s"""WITH sets AS (
       |  SELECT * FROM (SELECT doc_id, $sh AS sh FROM documents WHERE doc_id < 1000)
       |  WHERE len(sh) > 0)
       |SELECT src, dst, round(containment, 6) AS containment FROM (
       |  SELECT a.doc_id AS src, b.doc_id AS dst,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
       |      AS containment
       |  FROM sets a JOIN sets b ON a.doc_id <> b.doc_id)
       |WHERE containment >= 0.6""".stripMargin
  }

  // ---------------------------------------------------------------------
  // AB1: deterministic A/B experiment readout — users assigned to arms by
  // the engine-portable content hash (no seed, no partitioning
  // dependence), then per-arm conversion and DECIMAL revenue folded into
  // one row with the relative lift. Two keyed aggregations; the per-user
  // table is the only shuffle.
  // ---------------------------------------------------------------------
  def ab1ExperimentLift(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("__conv"),
        sum(when(col("event_type") === "purchase",
          col("value").cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)"))).as("__rev"))
      .withColumn("__arm", Sampling.hashBucket(col("user_id"), 2))
    val rateA = col("conv_a").cast("double") / col("users_a")
    val rateB = col("conv_b").cast("double") / col("users_b")
    perUser.agg(
        sum(when(col("__arm") === 0, 1L).otherwise(0L)).as("users_a"),
        sum(when(col("__arm") === 1, 1L).otherwise(0L)).as("users_b"),
        sum(when(col("__arm") === 0, col("__conv")).otherwise(0L)).as("conv_a"),
        sum(when(col("__arm") === 1, col("__conv")).otherwise(0L)).as("conv_b"),
        sum(when(col("__arm") === 0, col("__rev"))
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("rev_a"),
        sum(when(col("__arm") === 1, col("__rev"))
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("rev_b"))
      .select(col("users_a"), col("users_b"), col("conv_a"), col("conv_b"),
        round(rateA, 6).as("rate_a"), round(rateB, 6).as("rate_b"),
        round(rateB / rateA - 1.0, 6).as("lift"),
        col("rev_a"), col("rev_b"))
  }

  val ab1ExperimentLiftSql: String = {
    val arm = SamplingSql.hashBucket("user_id", 2)
    s"""WITH pu AS (
       |  SELECT user_id,
       |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
       |    SUM(CASE WHEN event_type = 'purchase'
       |        THEN CAST(value AS DECIMAL(18,2))
       |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS rev
       |  FROM events GROUP BY user_id),
       |armed AS (SELECT *, $arm AS arm FROM pu),
       |agg AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS users_b,
       |    CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b,
       |    CAST(SUM(CASE WHEN arm = 0 THEN rev
       |             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_a,
       |    CAST(SUM(CASE WHEN arm = 1 THEN rev
       |             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS rev_b
       |  FROM armed)
       |SELECT users_a, users_b, conv_a, conv_b,
       |  round(CAST(conv_a AS DOUBLE) / users_a, 6) AS rate_a,
       |  round(CAST(conv_b AS DOUBLE) / users_b, 6) AS rate_b,
       |  round(CAST(conv_b AS DOUBLE) / users_b
       |      / (CAST(conv_a AS DOUBLE) / users_a) - 1.0, 6) AS lift,
       |  rev_a, rev_b
       |FROM agg""".stripMargin
  }

  // ---------------------------------------------------------------------
  // AB2: CUPED variance-reduced experiment readout — each user's
  // pre-period activity (days 1-15) is the covariate for their post-
  // period metric (days 16+): adjusted = mean(y) − θ·(mean(x)−mean_all(x))
  // with θ = cov(x,y)/var(x) pooled over all users. Every moment is a
  // DECIMAL-exact sum (q17's pattern), so θ and the adjusted means are
  // identical doubles in any engine. Two keyed aggregations + a 1-row
  // broadcast; the standard trick for tightening experiment CIs without
  // more traffic.
  // ---------------------------------------------------------------------
  def ab2Cuped(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        sum(when(dayofmonth(col("ts")) <= 15,
          col("value").cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("__x"),
        sum(when(dayofmonth(col("ts")) > 15,
          col("value").cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("__y"))
      .withColumn("__arm", Sampling.hashBucket(col("user_id"), 2))
    val pooled = perUser.agg(
      count(lit(1)).as("__n"),
      sum(col("__x").cast("decimal(28,10)")).cast("double").as("__sx"),
      sum(col("__y").cast("decimal(28,10)")).cast("double").as("__sy"),
      sum((col("__x") * col("__x")).cast("decimal(28,8)")).cast("double").as("__sxx"),
      sum((col("__x") * col("__y")).cast("decimal(28,8)")).cast("double").as("__sxy"))
    val theta = (col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
      (col("__n") * col("__sxx") - col("__sx") * col("__sx"))
    val perArm = perUser.groupBy(col("__arm").as("arm"))
      .agg(count(lit(1)).as("users"),
        sum(col("__x").cast("decimal(28,10)")).cast("double").as("__ax"),
        sum(col("__y").cast("decimal(28,10)")).cast("double").as("__ay"))
    perArm.crossJoin(broadcast(pooled))
      .select(col("arm"), col("users"),
        round(col("__ay") / col("users"), 6).as("mean_post"),
        round(col("__ay") / col("users") -
          theta * (col("__ax") / col("users") - col("__sx") / col("__n")), 6)
          .as("mean_adjusted"),
        round(theta, 6).as("theta"))
  }

  val ab2CupedSql: String = {
    val arm = SamplingSql.hashBucket("user_id", 2)
    s"""WITH pu AS (
       |  SELECT user_id,
       |    CAST(SUM(CASE WHEN day(ts) <= 15 THEN CAST(value AS DECIMAL(18,2))
       |             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS x,
       |    CAST(SUM(CASE WHEN day(ts) > 15 THEN CAST(value AS DECIMAL(18,2))
       |             ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS y
       |  FROM events GROUP BY user_id),
       |armed AS (SELECT *, $arm AS arm FROM pu),
       |pooled AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS sx,
       |    CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x * x AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
       |    CAST(SUM(CAST(x * y AS DECIMAL(28,8))) AS DOUBLE) AS sxy
       |  FROM armed),
       |pa AS (
       |  SELECT arm, CAST(COUNT(*) AS BIGINT) AS users,
       |    CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS ax,
       |    CAST(SUM(CAST(y AS DECIMAL(28,10))) AS DOUBLE) AS ay
       |  FROM armed GROUP BY arm)
       |SELECT arm, users,
       |  round(ay / users, 6) AS mean_post,
       |  round(ay / users - ((n * sxy - sx * sy) / (n * sxx - sx * sx))
       |    * (ax / users - sx / n), 6) AS mean_adjusted,
       |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS theta
       |FROM pa, pooled""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("cnt1_containment", cnt1Containment, cnt1ContainmentSql),
    Query("ab1_experiment_lift", ab1ExperimentLift, ab1ExperimentLiftSql),
    Query("ab2_cuped", ab2Cuped, ab2CupedSql))
}
