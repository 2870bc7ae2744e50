package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Top-10 semantic search over the memory table (documents ⋈ embeddings)
    * — the reference's GET /memory/search path (src/routes.rs:429-453).
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val q = Tables.queryVector(spark, sfDir, 0L)
    operators.VectorSearch.topK(
        Tables.memories(spark, sfDir), q, k = 10, idCol = "id")
      .select(col("id"), col("text"), col("label"), round(col("score"), 6).as("score"))
  }

  /** Every registered query, one entry each, in module order: the one
    * table [[queries]], [[oracleSql]] and Bench's streaming-lane set are
    * derived from. RegistrySpec fails on a name stated twice. */
  private[graft] val all: Seq[Query] = Seq(
    Queries.all, Queries2.all, Queries3.all, Queries4.all, Queries5.all,
    Queries6.all, Queries7.all, Queries8.all, Queries9.all, Queries10.all,
    Queries11.all, Queries12.all, Queries13.all, Queries14.all,
    Queries15.all, Queries16.all, Queries17.all, Queries18.all,
    Queries19.all, Queries20.all, Queries21.all, Queries22.all,
    Queries23.all, Queries24.all, Queries25.all, Queries26.all,
    Queries27.all, Queries28.all, Queries29.all, Queries30.all,
    Queries31.all, Queries32.all, Queries33.all, Queries34.all,
    Queries35.all, Queries36.all, Queries37.all, Queries38.all,
    Queries39.all, Queries40.all, Queries41.all, Queries42.all,
    Queries43.all, Queries44.all, Queries45.all, Queries46.all,
    Queries47.all, Queries48.all, Queries49.all, Queries50.all,
    Queries51.all, Queries52.all, Queries53.all, Queries54.all).flatten

  /** One entry per implemented operator from SURVEY.md §2. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] = all.map(q => q.name -> q.oracle).toMap
}
