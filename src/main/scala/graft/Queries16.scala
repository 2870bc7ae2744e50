package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, TextHashSql}

/** Round-3 continuation: customer analytics and LM artifact export. Same
  * contract as [[Queries]].
  */
object Queries16 {

  // ---------------------------------------------------------------------
  // RFM1: RFM segmentation — per-user Recency (days since last event),
  // Frequency (event count), Monetary (DECIMAL value sum) quartiled into
  // a 3-digit segment code. The classic base-personalization table: three
  // exact per-user aggregates, three exact NTILE passes over the user
  // table — each through operators/Ranks (range partition + per-partition
  // window + offset metadata), so the user table never funnels through a
  // single-partition global sort. Quartile ties break on user_id,
  // identically in both engines.
  // ---------------------------------------------------------------------
  def rfm1Segmentation(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(max(col("ts").cast("long")).as("__last"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("monetary"))
    val maxTs = perUser.agg(max(col("__last")).as("__maxts"))
    val base = perUser.crossJoin(broadcast(maxTs))
      .withColumn("recency_days", expr("(__maxts - __last) div 86400"))
    // R: recent = best (asc recency); F/M: high = best (desc)
    val tiled = Seq(
      ("r", col("recency_days").asc), ("f", col("frequency").desc),
      ("m", col("monetary").desc)).foldLeft(base) { case (acc, (out, key)) =>
      graft.operators.Ranks.withNtile(acc, out, 4, Seq(key, col("user_id").asc))
    }
    tiled.select(col("user_id"), col("recency_days"), col("frequency"),
      round(col("monetary"), 2).as("monetary"),
      concat(col("r"), col("f"), col("m")).as("segment"))
  }

  val rfm1SegmentationSql: String =
    """WITH pu AS (
      |  SELECT user_id, MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS last_ts,
      |    COUNT(*) AS frequency,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      |  FROM events GROUP BY user_id),
      |t AS (SELECT MAX(last_ts) AS maxts FROM pu),
      |r AS (
      |  SELECT user_id, (maxts - last_ts) // 86400 AS recency_days,
      |    frequency, monetary,
      |    NTILE(4) OVER (ORDER BY (maxts - last_ts) // 86400 ASC,
      |                   user_id ASC) AS rq,
      |    NTILE(4) OVER (ORDER BY frequency DESC, user_id ASC) AS fq,
      |    NTILE(4) OVER (ORDER BY monetary DESC, user_id ASC) AS mq
      |  FROM pu, t)
      |SELECT user_id, recency_days, frequency, round(monetary, 2) AS monetary,
      |  CAST(rq AS VARCHAR) || CAST(fq AS VARCHAR) || CAST(mq AS VARCHAR)
      |    AS segment
      |FROM r""".stripMargin

  // ---------------------------------------------------------------------
  // TOK2: next-token autocomplete index — for each prefix token, the
  // top-3 following tokens by bigram count (total tie-break), the
  // artifact a suggest service or bigram LM samples from. Map-side pair
  // explode + grouped top-k; only prefixes with ≥ 20 occurrences ship.
  // ---------------------------------------------------------------------
  def tok2NextTokenTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.documents(spark, sfDir)
      .withColumn("__toks", TextHash.tokens(col("text")))
      .where(size(col("__toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(__toks) - 1), " +
          "i -> struct(element_at(__toks, i) AS prev, " +
          "element_at(__toks, i + 1) AS next))")).as("__p"))
      .select(col("__p.prev").as("prev"), col("__p.next").as("next"))
      .groupBy(col("prev"), col("next")).agg(count(lit(1)).as("n"))
    val prefTotal = Window.partitionBy(col("prev"))
    val rank = Window.partitionBy(col("prev"))
      .orderBy(col("n").desc, col("next").asc)
    pairs
      .withColumn("__tot", sum(col("n")).over(prefTotal))
      .where(col("__tot") >= 20)
      .withColumn("__rn", row_number().over(rank))
      .where(col("__rn") <= 3)
      .select(col("prev"), col("next"), col("n"),
        col("__rn").cast("long").as("rank"),
        round(col("n") / col("__tot"), 6).as("p"))
  }

  val tok2NextTokenTopkSql: String = {
    val tk = TextHashSql.tokens("text")
    s"""WITH pairs AS (
       |  SELECT toks[i] AS prev, toks[i + 1] AS next FROM (
       |    SELECT toks, unnest(range(1, len(toks))) AS i
       |    FROM (SELECT $tk AS toks FROM documents)
       |    WHERE len(toks) >= 2)),
       |g AS (SELECT prev, next, COUNT(*) AS n FROM pairs GROUP BY prev, next),
       |w AS (
       |  SELECT prev, next, n,
       |    SUM(n) OVER (PARTITION BY prev) AS tot,
       |    ROW_NUMBER() OVER (PARTITION BY prev
       |                       ORDER BY n DESC, next ASC) AS rn
       |  FROM g)
       |SELECT prev, next, CAST(n AS BIGINT) AS n, CAST(rn AS BIGINT) AS rank,
       |  round(n / CAST(tot AS DOUBLE), 6) AS p
       |FROM w WHERE tot >= 20 AND rn <= 3""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("rfm1_segmentation", rfm1Segmentation, rfm1SegmentationSql),
    Query("tok2_next_token_topk", tok2NextTokenTopk, tok2NextTokenTopkSql))
}
