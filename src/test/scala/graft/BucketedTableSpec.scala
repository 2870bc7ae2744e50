package graft

import org.apache.spark.sql.functions._
import graft.operators.MemoryOps

/** The 100 TB read layout: hash-bucketed by id, with keyed reads that
  * prune to the buckets their keys hash into.
  */
class BucketedTableSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed point-lookup plan prunes partitions") {
    val root = java.nio.file.Files.createTempDirectory("graft_bucketed2").toFile.getPath
    val table = s"$root/memories"
    val base = (0L until 100L).map(i => (i, s"t$i")).toDF("id", "text")
    MemoryOps.writeBucketed(base, table, "id", nBuckets = 8)
    // a keyed read filters on the bucket derived from the key
    val lookup = spark.read.parquet(table)
      .where($"__bucket" === pmod(xxhash64(lit(42L)), lit(8L)) && $"id" === 42L)
    val plan = lookup.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(__bucket"))
    assert(lookup.select("text").as[String].head() == "t42")
  }
}
