package graft

/** Dev utility: time one registered query N times in a fresh
  * [[GraftSession]] (the bench posture).
  * Usage: runMain graft.TimeOne <queryName> [sfDir] [n]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession()
    spark.read.parquet(s"$sfDir/region.parquet")
      .write.format("noop").mode("overwrite").save()
    (1 to n).foreach { i =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      println(f"[timeone] $name run $i: construct ${(t1 - t0) / 1e9}%.2f s, execute ${(t2 - t1) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
