package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{Sampling, SamplingSql}

/** Round-3 continuation: share-of-total reporting and contrastive
  * negative sampling. Same contract as [[Queries]].
  */
object Queries23 {

  // ---------------------------------------------------------------------
  // SHR1: two-level revenue shares — each nation's DECIMAL-exact revenue
  // as a share of its region and of the total (ratio-to-report at two
  // grouping levels from one aggregate + two windows over the tiny
  // nation table).
  // ---------------------------------------------------------------------
  def shr1RevenueShare(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(spark, sfDir)),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(spark, sfDir)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, sfDir)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(28,8)")).cast("double").as("__rev"))
    val byRegion = Window.partitionBy(col("r_name"))
    val overall = Window.partitionBy()
    rev
      .withColumn("region_share",
        round(col("__rev") / sum(col("__rev")).over(byRegion), 6))
      .withColumn("total_share",
        round(col("__rev") / sum(col("__rev")).over(overall), 6))
      .select(col("r_name"), col("n_name"), round(col("__rev"), 2).as("revenue"),
        col("region_share"), col("total_share"))
  }

  val shr1RevenueShareSql: String =
    """WITH rev AS (
      |  SELECT r_name, n_name,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
      |      AS DECIMAL(28,8))) AS DOUBLE) AS rev
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY r_name, n_name)
      |SELECT r_name, n_name, round(rev, 2) AS revenue,
      |  round(rev / SUM(rev) OVER (PARTITION BY r_name), 6) AS region_share,
      |  round(rev / SUM(rev) OVER (), 6) AS total_share
      |FROM rev""".stripMargin

  // ---------------------------------------------------------------------
  // NEG1: deterministic negative sampling — for each anchor vector, the
  // 3 hash-ranked candidates with a DIFFERENT label: the contrastive
  // training-pair generator, reproducible across runs/engines because
  // ranking is by the content hash of the (anchor, candidate) pair, not
  // a seed. Anchor set is bounded (vec_id < 20); candidates rank inside
  // a per-anchor window.
  // ---------------------------------------------------------------------
  def neg1NegativeSampling(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val anchors = emb.where(col("vec_id") < 20)
      .select(col("vec_id").as("anchor_id"), col("label").as("__al"))
    val cands = emb.select(col("vec_id").as("neg_id"), col("label").as("__cl"))
    val rank = Window.partitionBy(col("anchor_id"))
      .orderBy(col("__h").asc, col("neg_id").asc)
    anchors.join(cands, col("__al") =!= col("__cl"))
      .withColumn("__h", Sampling.hashBucket(
        concat_ws("_", col("anchor_id"), col("neg_id")), 1000000))
      .withColumn("__rn", row_number().over(rank))
      .where(col("__rn") <= 3)
      .select(col("anchor_id"), col("neg_id"),
        col("__rn").cast("long").as("rank"))
  }

  val neg1NegativeSamplingSql: String = {
    val h = SamplingSql.hashBucket("concat_ws('_', a.vec_id, c.vec_id)", 1000000)
    s"""SELECT anchor_id, neg_id, rank FROM (
       |  SELECT a.vec_id AS anchor_id, c.vec_id AS neg_id,
       |    ROW_NUMBER() OVER (PARTITION BY a.vec_id
       |      ORDER BY $h ASC, c.vec_id ASC) AS rank
       |  FROM embeddings a JOIN embeddings c ON a.label <> c.label
       |  WHERE a.vec_id < 20)
       |WHERE rank <= 3""".stripMargin
  }

  // ---------------------------------------------------------------------
  // LAT1: inter-arrival percentiles — per event type, exact p50/p95/p99
  // of the gap (seconds) between consecutive events of that type: the
  // SLO/heartbeat metric that flags a stalling producer. One lag window
  // keyed on the type, one exact-percentile aggregate.
  // ---------------------------------------------------------------------
  def lat1Interarrival(spark: SparkSession, sfDir: String): DataFrame = {
    val seq = Window.partitionBy(col("event_type"))
      .orderBy(col("__sec").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .withColumn("__sec", col("ts").cast("long"))
      .withColumn("__gap", col("__sec") - lag(col("__sec"), 1).over(seq))
      .where(col("__gap").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_gaps"),
        percentile(col("__gap"), array(lit(0.5), lit(0.95), lit(0.99)))
          .as("__p"))
      .select(col("event_type"), col("n_gaps"),
        round(element_at(col("__p"), 1), 6).as("p50"),
        round(element_at(col("__p"), 2), 6).as("p95"),
        round(element_at(col("__p"), 3), 6).as("p99"))
  }

  val lat1InterarrivalSql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    sec - LAG(sec, 1) OVER (PARTITION BY event_type
      |      ORDER BY sec ASC, event_id ASC) AS gap
      |  FROM (SELECT event_type, event_id,
      |          CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events))
      |SELECT event_type, COUNT(*) AS n_gaps,
      |  round(quantile_cont(gap, 0.50), 6) AS p50,
      |  round(quantile_cont(gap, 0.95), 6) AS p95,
      |  round(quantile_cont(gap, 0.99), 6) AS p99
      |FROM g WHERE gap IS NOT NULL GROUP BY event_type""".stripMargin

  val all: Seq[Query] = Seq(
    Query("shr1_revenue_share", shr1RevenueShare, shr1RevenueShareSql),
    Query("neg1_negative_sampling", neg1NegativeSampling, neg1NegativeSamplingSql),
    Query("lat1_interarrival", lat1Interarrival, lat1InterarrivalSql))
}
