package graft

import org.apache.spark.sql.functions._

/** End-to-end dynamic pruning against the DSv2 store: Spark must inject
  * a `dynamicpruning` runtime filter into the scan when the store sits
  * on the probe side of a broadcast join over its id column — the
  * execution-time half of the bucket-pruning story (plan-time pruning is
  * pinned in MemoryBucketSourceSpec; the filter()-mechanics too). */
class DppSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  private def rmTree(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(dir))
  }

  private val nBuckets = 8
  private var builtStore: Option[String] = None
  private lazy val storeDir: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp_").toString
    operators.MemoryOps.writeBucketed(
      Tables.memories(spark, sf0001), dir, "id", nBuckets)
    builtStore = Some(dir)
    dir
  }

  override def afterAll(): Unit = {
    builtStore.foreach(rmTree)
    super.afterAll()
  }
  private def source = spark.read.format("graft.sources.MemoryBucketSource")
    .option("path", storeDir).option("nBuckets", nBuckets.toString)
    .option("idCol", "id").load()

  test("broadcast join over id injects a dynamic-pruning runtime filter" +
      " into the store scan, and the pruned result is exact") {
    val dim = Tables.documents(spark, sf0001)
      .where($"lang" === "de" && $"n_chars" > 400)
      .select($"doc_id".as("id"))
    val j = source.join(dim, "id").groupBy($"lang")
      .agg(count(lit(1)).as("n"))
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("RuntimeFilters: [dynamicpruning"),
      s"no runtime filter reached the store scan:\n$p")
    val got = j.orderBy($"lang").as[(String, Long)].collect().toSeq
    val exp = operators.MemoryOps.readBucketed(spark, storeDir)
      .join(dim, "id").groupBy($"lang").agg(count(lit(1)).as("n"))
      .orderBy($"lang").as[(String, Long)].collect().toSeq
    assert(got == exp && got.nonEmpty, s"got $got, expected $exp")
  }

  test("src5_runtime_prune carries the runtime filter in its plan") {
    val p = SparkEntry.queries("src5_runtime_prune")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(p.contains("RuntimeFilters: [dynamicpruning"),
      s"src5 lost its runtime filter:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dim side not broadcast:\n$p")
  }

  test("runtime filtering needs a LIKELY-SELECTIVE build-side predicate:" +
      " a bare dim scan gets none, the same dim filtered gets one") {
    // the round-9 src6 soak lesson, pinned: Spark's PartitionPruning
    // rule only injects a dynamic filter when the build side carries a
    // selective predicate. A probe built from a raw key list (no
    // filter) silently scans the whole store — production probes need
    // a real filter or a no-op one (id >= 0).
    val keysDir =
      java.nio.file.Files.createTempDirectory("graft_dpp_keys_").toString
    try {
    Tables.documents(spark, sf0001).limit(20).select($"doc_id".as("id"))
      .coalesce(1).write.mode("overwrite").parquet(keysDir)
    val bare = spark.read.parquet(keysDir)
    val bareP = source.join(bare, "id").groupBy($"lang")
      .agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    assert(!bareP.contains("RuntimeFilters: [dynamicpruning"),
      "Spark version change: a bare dim scan now gets a runtime" +
        " filter — the src6 soak's no-op-filter workaround (and this" +
        s" pin) can be retired:\n$bareP")
    val filteredP = source.join(bare.where($"id" >= 0L), "id")
      .groupBy($"lang").agg(count(lit(1)).as("n"))
      .queryExecution.executedPlan.toString
    assert(filteredP.contains("RuntimeFilters: [dynamicpruning"),
      s"the no-op id >= 0 filter no longer arms pruning:\n$filteredP")
    } finally rmTree(keysDir)
  }
}
