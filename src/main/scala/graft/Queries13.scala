package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, GraphOps, Sampling, SamplingSql}

/** Round-3 continuation: dataset-hygiene audits — split leakage, financial
  * reconciliation, and local graph density. Same contract as [[Queries]]:
  * each Spark dataflow paired with DuckDB SQL computing the identical
  * result.
  */
object Queries13 {

  // ---------------------------------------------------------------------
  // LK1: train/val/test split-leakage audit — near-dup pairs counted by
  // the (canonically ordered) split pair they span. Cross-split rows are
  // evaluation contamination: a test doc whose near-duplicate sits in
  // train. Composes the deterministic hash split with the banded MinHash
  // pair miner; the oracle recomputes both.
  // ---------------------------------------------------------------------
  def lk1SplitLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val split = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Sampling.splitAssign(col("doc_id")).as("split"))
    val pairs = Dedup.minhashNearDups(Tables.documents(spark, sfDir),
      "doc_id", "text", threshold = 0.5, nPerm = 16, bands = 8, shingleN = 2)
    pairs
      .join(split.select(col("doc_id").as("id1"), col("split").as("__s1")), "id1")
      .join(split.select(col("doc_id").as("id2"), col("split").as("__s2")), "id2")
      .select(least(col("__s1"), col("__s2")).as("split_a"),
        greatest(col("__s1"), col("__s2")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  val lk1SplitLeakageSql: String = {
    val b = SamplingSql.hashBucket("doc_id", 100)
    val splitCase =
      s"CASE WHEN $b < 80 THEN 'train' WHEN $b < 90 THEN 'val' ELSE 'test' END"
    s"""WITH pairs AS (${Queries.d2MinhashPairsSql}),
       |sp AS (SELECT doc_id, $splitCase AS split FROM documents)
       |SELECT LEAST(a.split, c.split) AS split_a,
       |  GREATEST(a.split, c.split) AS split_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_pairs
       |FROM pairs JOIN sp a ON a.doc_id = pairs.id1
       |           JOIN sp c ON c.doc_id = pairs.id2
       |GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------------
  // REC1: order-revenue reconciliation — per-order lineitem revenue
  // (price × (1−discount) × (1+tax), DECIMAL-exact sums of identical
  // double products) against the order header's o_totalprice, with a
  // 1-cent tolerance. The cross-table consistency audit every warehouse
  // runs; one keyed aggregation + one equi-join, all counts exact.
  // ---------------------------------------------------------------------
  def rec1OrderReconciliation(spark: SparkSession, sfDir: String): DataFrame = {
    val rev = Tables.lineitem(spark, sfDir)
      .groupBy(col("l_orderkey"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
        (lit(1.0) + col("l_tax"))).cast("decimal(28,8)")).as("__rev"))
    val joined = Tables.orders(spark, sfDir)
      .join(rev, col("o_orderkey") === col("l_orderkey"), "left")
      .select(col("o_orderkey"), col("o_totalprice"),
        col("__rev").cast("double").as("__rev"))
    joined.agg(
      count(lit(1)).as("n_orders"),
      sum(when(col("__rev").isNotNull, 1L).otherwise(0L)).as("n_with_items"),
      sum(when(col("__rev").isNotNull &&
        abs(col("__rev") - col("o_totalprice")) > 0.01, 1L).otherwise(0L))
        .as("n_mismatched"),
      round(max(when(col("__rev").isNotNull,
        abs(col("__rev") - col("o_totalprice")))), 2).as("max_abs_diff"))
  }

  val rec1OrderReconciliationSql: String =
    """WITH rev AS (
      |  SELECT l_orderkey,
      |    CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
      |      AS DECIMAL(28,8))) AS DOUBLE) AS rev
      |  FROM lineitem GROUP BY l_orderkey),
      |j AS (
      |  SELECT o_orderkey, o_totalprice, rev
      |  FROM orders LEFT JOIN rev ON o_orderkey = l_orderkey)
      |SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
      |  CAST(SUM(CASE WHEN rev IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_with_items,
      |  CAST(SUM(CASE WHEN rev IS NOT NULL
      |           AND abs(rev - o_totalprice) > 0.01
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatched,
      |  round(MAX(CASE WHEN rev IS NOT NULL
      |            THEN abs(rev - o_totalprice) END), 2) AS max_abs_diff
      |FROM j""".stripMargin

  // ---------------------------------------------------------------------
  // GC1: local clustering coefficient over the near-dup graph —
  // 2·tri(v) / (deg(v)·(deg(v)−1)): how clique-like each document's
  // neighborhood is (1.0 = every pair of its near-dups are also near-dups
  // of each other). Degrees from one union-both-directions count;
  // triangle incidences from the node-iterator join; everything exact
  // integers until the final ratio.
  // ---------------------------------------------------------------------
  def gc1ClusteringCoeff(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Dedup.simhashPairs(
      Tables.documents(spark, sfDir), "doc_id", "text", maxDist = 3)
    val deg = edges.select(col("id1").as("doc_id"))
      .unionAll(edges.select(col("id2").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    val tris = GraphOps.triangles(edges)
    val triPerNode = tris.select(col("a").as("doc_id"))
      .unionAll(tris.select(col("b").as("doc_id")))
      .unionAll(tris.select(col("c").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
    deg.join(triPerNode, Seq("doc_id"), "left")
      .withColumn("n_tri", coalesce(col("n_tri"), lit(0L)))
      .withColumn("coeff", when(col("degree") >= 2,
        round(lit(2.0) * col("n_tri") /
          (col("degree") * (col("degree") - 1)), 6)).otherwise(lit(0.0)))
  }

  val gc1ClusteringCoeffSql: String =
    s"""WITH e AS (${Queries.d3SimhashPairsSql}),
       |deg AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
       |    SELECT id1 AS doc_id FROM e UNION ALL SELECT id2 FROM e)
       |  GROUP BY doc_id),
       |tri AS (
       |  SELECT x.id1 AS a, x.id2 AS b, y.id2 AS c
       |  FROM e x JOIN e y ON x.id2 = y.id1
       |           JOIN e z ON z.id1 = x.id1 AND z.id2 = y.id2),
       |tpn AS (
       |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
       |    SELECT a AS doc_id FROM tri UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY doc_id)
       |SELECT deg.doc_id AS doc_id, degree,
       |  COALESCE(n_tri, 0) AS n_tri,
       |  CASE WHEN degree >= 2
       |       THEN round(2.0 * COALESCE(n_tri, 0)
       |                  / (degree * (degree - 1)), 6)
       |       ELSE 0.0 END AS coeff
       |FROM deg LEFT JOIN tpn ON deg.doc_id = tpn.doc_id""".stripMargin

  val all: Seq[Query] = Seq(
    Query("lk1_split_leakage", lk1SplitLeakage, lk1SplitLeakageSql),
    Query("rec1_reconciliation", rec1OrderReconciliation, rec1OrderReconciliationSql),
    Query("gc1_clustering_coeff", gc1ClusteringCoeff, gc1ClusteringCoeffSql))
}
