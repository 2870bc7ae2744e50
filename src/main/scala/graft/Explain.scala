package graft

/** Dev utility: dump the formatted physical plan of registered queries
  * under [[GraftSession]], the posture `graft.Bench` times, so the
  * dumped plan is the plan the driver actually times.
  *
  * Usage: runMain graft.Explain <name1,name2,...> [sfDir] [outDir [suffix]]
  *  - with outDir: writes <outDir>/<name><suffix>.txt per query (the
  *    plans/r15 before/after artifacts); otherwise prints to stdout.
  *  - NOTE a streaming-replay query RUNS its replay at construction; its
  *    dumped plan is the final read-back frame, not the drain.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) Some(args(2)) else None
    val suffix = if (args.length > 3) args(3) else ""
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      outDir match {
        case Some(d) =>
          new java.io.File(d).mkdirs()
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(d, s"$name$suffix.txt"),
            s"=== $name (sf=$sfDir cpus=${GraftSession.cpus}) ===\n$plan"): Unit
        case None =>
          println(s"=== $name ===")
          println(plan)
      }
    }
    spark.stop()
  }
}
