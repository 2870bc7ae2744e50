package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, TextHashSql}

/** Round-3 continuation: engagement streaks and replication-integrity
  * checksums. Same contract as [[Queries]].
  */
object Queries18 {

  // ---------------------------------------------------------------------
  // STK1: gaps-and-islands — each user's longest streak of consecutive
  // active days. The classic pattern: distinct active days, row_number
  // per user, day − rn is constant within an island; group by it and
  // take the longest. Two windows over the per-(user, day) table, which
  // is the raw scan collapsed map-side.
  // ---------------------------------------------------------------------
  def stk1Streaks(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables.events(spark, sfDir)
      .select(col("user_id"),
        expr("CAST(ts AS LONG) div 86400").as("__day"))
      .distinct()
    val seq = Window.partitionBy(col("user_id")).orderBy(col("__day"))
    days
      .withColumn("__island", col("__day") - row_number().over(seq))
      .groupBy(col("user_id"), col("__island"))
      .agg(count(lit(1)).as("__len"))
      .groupBy(col("user_id"))
      .agg(max(col("__len")).as("longest_streak"),
        count(lit(1)).as("n_streaks"))
  }

  val stk1StreaksSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
      |  FROM events),
      |isl AS (
      |  SELECT user_id,
      |    day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
      |      AS island
      |  FROM days),
      |g AS (SELECT user_id, island, COUNT(*) AS len FROM isl
      |      GROUP BY user_id, island)
      |SELECT user_id, CAST(MAX(len) AS BIGINT) AS longest_streak,
      |  CAST(COUNT(*) AS BIGINT) AS n_streaks
      |FROM g GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // CHK1: order-proof table checksums — per table: row count plus a
  // commutative DECIMAL sum of each row's md5-derived rolling hash.
  // The replication/migration integrity audit: any engine (or a copy on
  // another cluster) recomputes the same number from the same rows in
  // any order. Only integer/string columns feed the digest, so no
  // float-formatting asymmetry can leak in.
  // ---------------------------------------------------------------------
  def chk1TableChecksum(spark: SparkSession, sfDir: String): DataFrame = {
    def sums(df: DataFrame, table: String, rowKey: org.apache.spark.sql.Column) =
      df.select(TextHash.rollingHash(md5(rowKey)).as("__h"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("__h").cast("decimal(28,0)")).cast("double").as("checksum"))
        .select(lit(table).as("tbl"), col("n_rows"), col("checksum"))
    val docs = sums(Tables.documents(spark, sfDir), "documents",
      concat_ws("|", col("doc_id"), col("lang"), col("source"),
        col("n_chars"), col("text")))
    val evs = sums(Tables.events(spark, sfDir), "events",
      concat_ws("|", col("event_id"), col("user_id"), col("event_type")))
    docs.unionByName(evs)
  }

  val chk1TableChecksumSql: String = {
    def arm(table: String, key: String) = {
      val h = TextHashSql.rollingHash(s"md5($key)")
      s"""SELECT '$table' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CAST($h AS DECIMAL(28,0))) AS DOUBLE) AS checksum
         |FROM $table""".stripMargin
    }
    Seq(
      arm("documents",
        "concat_ws('|', doc_id, lang, source, n_chars, text)"),
      arm("events",
        "concat_ws('|', event_id, user_id, event_type)"))
      .mkString("\nUNION ALL\n")
  }

  val all: Seq[Query] = Seq(
    Query("stk1_streaks", stk1Streaks, stk1StreaksSql),
    Query("chk1_table_checksum", chk1TableChecksum, chk1TableChecksumSql))
}
