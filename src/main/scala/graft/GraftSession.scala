package graft

import org.apache.spark.sql.SparkSession

/** The one session posture every main runs under (Bench, Verify, Smoke,
  * Explain, TimeOne, Soak): the oracle checks the dump of exactly the
  * posture the bench times, so a result cannot depend on which main
  * produced it. The only input is `SPARK_GRAFT_CPUS` (default 4), read
  * once; every other conf is a constant. Soak overrides two runtime
  * confs on the built session and says why at the override. */
object GraftSession {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  def apply(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // local fixture files are single small parquets: split scans at 4 MB
      // so local[N] gets real scan parallelism (cluster deployments keep
      // the 128 MB default). Round 14 A/B'd a finer floor (openCost
      // 256 KB + minPartitionNum = cpus, splitting orders/events ~10
      // ways): the batch subset came out neutral-to-SLOWER (lnk1 +25%)
      // — the per-task overhead beats the extra parallelism at fixture
      // scale — so these stay (OPTIMIZATION_r14.md).
      .config("spark.sql.files.maxPartitionBytes", String.valueOf(4 * 1024 * 1024))
      .config("spark.sql.files.openCostInBytes", String.valueOf(4 * 1024 * 1024))
      .config("spark.sql.files.minPartitionNum", "1")
      // Round 14 (guide §2 "make partitioning scale-adaptive — AQE
      // coalescing"): cached plans keep their shuffle's RAW partition
      // count by default (AQE may not change a cached plan's output
      // partitioning), so every pinned frame — the graph family's edge
      // pins, DBSCAN's pair pin — materializes at
      // spark.sql.shuffle.partitions and each ITERATION then schedules
      // that many near-empty tasks. This flag lets AQE size cached-plan
      // partitions from the data like any other stage, at fixture scale
      // AND at warehouse scale (it is a size-derived rule, not a local
      // constant). A/B at sf0.1/32cpus, min-of-3, quiet box:
      // kc1 4.55→2.08 s, gc1 4.28→2.31 s, lnk1 5.13→4.36 s
      // (OPTIMIZATION_r14.md; re-measured in OPTIMIZATION_r15.md).
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
