package graft

/** Local stand-in for the driver's t1 smoke: SparkEntry.entry must return
  * rows > 0 on sf0.001. Run: `sbt "runMain graft.Smoke"`. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = 60)
    println(s"ENTRY_ROWS=$n")
    require(n > 0, "entry returned no rows")
    // SQL surface: registered native kernels answer the same flagship
    // search through spark.sql
    GraftFunctions.register(spark)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .createOrReplaceTempView("embeddings_smoke")
    val sqlN = spark.sql(
      """SELECT e.vec_id,
        |       cosine_sim(e.embedding, q.embedding) AS score
        |FROM embeddings_smoke e
        |JOIN embeddings_smoke q ON q.vec_id = 0
        |WHERE cosine_sim(e.embedding, q.embedding) IS NOT NULL
        |ORDER BY score DESC, e.vec_id ASC LIMIT 5""".stripMargin).count()
    println(s"SQL_SURFACE_ROWS=$sqlN")
    require(sqlN > 0, "SQL surface returned no rows")
    spark.stop()
  }
}
