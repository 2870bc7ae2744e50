package agentbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Row, SparkSession}

/** The lane workloads: back-to-back passes over registered queries of the
  * engine, each run through `SparkEntry.queries` as the engine's own bench
  * runs it. Their inputs are a fixed fixture, so each lane's result digest
  * can be pinned; `--seed` does not change them. */
object Lanes {
  final case class LaneSet(lanes: Seq[String], tables: Seq[String])

  val Workloads: Map[String, LaneSet] = Map(
    // the stream-stream outer join with watermark eviction, and the
    // versioned bucketed upsert with its read-back
    "stream-lanes" -> LaneSet(
      Seq("e17_stream_outer_join", "e19b_stream_upsert_bucketed"), Seq("events")),
    // multi-stage, shuffle-heavy batch pipelines
    "pipeline-batch" -> LaneSet(
      Seq("d12_dedup_yield", "sem1_semantic_dedup", "sp2_sparse_prefix",
        "er1_entity_resolution", "pr1_pagerank"),
      Seq("documents", "embeddings", "orders")))
  val All: Seq[String] = Workloads.values.toSeq.flatMap(_.lanes).sorted
  val FixtureSeed = 42L

  /** Order-independent digests of each lane's result on the fixture,
    * recorded from the engine at the commit that introduced this
    * benchmark. A lane whose result changes fails its check. */
  val Pinned: Map[String, String] = Map(
    "e17_stream_outer_join" -> "805:1eb831d1501ccae0:6ed3afc7bc85222a",
    "e19b_stream_upsert_bucketed" -> "150:bb64abb170dc170d:1051b217275158e3",
    "d12_dedup_yield" -> "4:06566c58d683b539:ddaff5e4119fb6f3",
    "sem1_semantic_dedup" -> "304:436f6f5a8cfce87c:704b9ae35c9fd7ca",
    "sp2_sparse_prefix" -> "74:b0873de49a77464f:024a88eb9f86bc4b",
    "er1_entity_resolution" -> "174:0ac9e1f58322e29b:3b0c11b655e4a253",
    "pr1_pagerank" -> "160:7addce6ed9bab384:724ef8dcd4c9e03c")

  def setup(spark: SparkSession, dir: String, set: LaneSet): Unit =
    Gen.writeLaneFixture(spark, dir, FixtureSeed, set.tables)

  def render(r: Row): String = r.toSeq.map {
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case x => String.valueOf(x)
  }.mkString("|")

  /** One pass: every lane of the set once, in order. `after` runs after
    * each lane, outside its timing. */
  def pass(spark: SparkSession, dir: String, set: LaneSet, ids: AtomicLong,
           traced: Boolean, after: OpResult => Unit = _ => ()): Seq[OpResult] = {
    val queries = graft.SparkEntry.queries
    set.lanes.map { lane =>
      val r = Ops.run(spark, ids.incrementAndGet(), lane, traced) {
        queries(lane)(spark, dir)
      } { rows =>
        Check.lane(lane, Pinned.get(lane).filter(_.nonEmpty), Check.digest(rows.map(render)))
      }
      after(r)
      r
    }
  }
}
