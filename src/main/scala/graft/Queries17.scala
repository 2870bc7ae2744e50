package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-3 continuation: source/sink round-trips under oracle — the
  * write-side of the engine proven by reading its own output back and
  * matching DuckDB on the original table. Same contract as [[Queries]].
  */
object Queries17 {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ---------------------------------------------------------------------
  // WRT1: partitioned parquet sink + partition-pruned read-back — events
  // written partitionBy(day), then one day read through the partition
  // directory (the scan touches 1/30th of the files; the pruning plan is
  // proven in AnnSpec for the IVF layout, here the written layout itself
  // is under oracle). Aggregates are DECIMAL-exact.
  // ---------------------------------------------------------------------
  def wrt1PartitionedRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tmpDir("graft_wrt1")
    Tables.events(spark, sfDir)
      .withColumn("day", date_format(to_date(col("ts")), "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(dir)
    spark.read.parquet(dir)
      .where(col("day") === "2024-01-15")
      // partition-column type inference reads the dir name back as DATE;
      // pin the oracle-facing type
      .withColumn("day", date_format(col("day"), "yyyy-MM-dd"))
      .groupBy(col("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  val wrt1PartitionedRoundtripSql: String =
    """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE strftime(CAST(ts AS DATE), '%Y-%m-%d') = '2024-01-15'
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // JS1: JSON-lines round-trip — documents written as JSONL (the raw
  // format crawl dumps arrive in), read back with an explicit schema,
  // and profiled per language. Exercises JSON string escaping both ways;
  // the oracle reads the ORIGINAL parquet, so any asymmetry in the
  // engine's JSON writer/reader shows up as a count or sum drift.
  // ---------------------------------------------------------------------
  def js1JsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tmpDir("graft_js1")
    Tables.documents(spark, sfDir)
      .write.mode("overwrite").json(dir)
    spark.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .json(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(length(col("text")).cast("long")).as("total_text_len"))
  }

  val js1JsonlRoundtripSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(length(text)) AS BIGINT) AS total_text_len
      |FROM documents GROUP BY lang""".stripMargin

  val all: Seq[Query] = Seq(
    Query("wrt1_partitioned_roundtrip", wrt1PartitionedRoundtrip, wrt1PartitionedRoundtripSql),
    Query("js1_jsonl_roundtrip", js1JsonlRoundtrip, js1JsonlRoundtripSql))
}
