package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bfs, Sketches, SamplingSql}

/** Round 6 (cont. 5) — mergeable sketches and a graph-extent probe:
  * an oracle-EXACT HyperLogLog distinct sketch, a Count-Min frequency
  * sketch with its one-sided error visible, and the double-sweep BFS
  * diameter lower bound. The sketches are the 1000-executor story made
  * concrete: registers/cells are what crosses the wire at 100 TB, and
  * both are built here so the REGISTER VALUES hash-match DuckDB — a
  * stronger check than q12_sketch's error-bound booleans over Spark's
  * built-ins. Same contract as [[Queries]].
  */
object Queries34 {

  // ---------------------------------------------------------------------
  // HLL1: HyperLogLog distinct-customer estimate over orders, m = 256
  // registers from the engine's seeded portable hash — both engines
  // derive bit-identical registers, so the ESTIMATE itself is under the
  // hash compare, not just a tolerance flag. The register table is one
  // map-side-combined groupBy(reg) max(rho): m longs regardless of
  // input size, merged associatively by max — exactly what executors
  // ship at 100 TB. Expected |rel_err| ~ 1.04/sqrt(256) = 6.5%.
  // ---------------------------------------------------------------------
  private[graft] val HllM = 256

  def hll1DistinctSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val keys = Tables.orders(spark, sfDir).select(col("o_custkey"))
    val est = Sketches.hllEstimate(
      Sketches.hllRegisters(keys, col("o_custkey"), HllM), HllM)
    val exact = keys.agg(countDistinct(col("o_custkey")).as("n_exact"))
    est.crossJoin(broadcast(exact))
      .select(col("m"), col("n_registers"),
        round(col("raw_est"), 6).as("raw_est"),
        round(col("est"), 6).as("est"), col("n_exact"),
        round(col("est") / col("n_exact").cast("double") - 1, 6)
          .as("rel_err"))
  }

  val hll1DistinctSketchSql: String =
    s"""WITH k AS (SELECT o_custkey FROM orders),
       |r AS (${Sketches.hllRegistersSql("k", "o_custkey", HllM)}),
       |e AS (${Sketches.hllEstimateSql("r", HllM)}),
       |x AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact
       |      FROM orders)
       |SELECT e.m AS m, e.n_registers AS n_registers,
       |  round(e.raw_est, 6) AS raw_est, round(e.est, 6) AS est,
       |  x.n_exact AS n_exact,
       |  round(e.est / CAST(x.n_exact AS DOUBLE) - 1, 6) AS rel_err
       |FROM e, x""".stripMargin

  // ---------------------------------------------------------------------
  // CMS1: Count-Min frequency sketch (d = 4 rows x w = 512 buckets)
  // over per-customer order counts, evaluated on the 10 true heaviest
  // customers — the estimate is ALWAYS >= truth (min over d
  // overcounting cells), and the `overestimate` column makes the
  // one-sided error auditable. Cells are a (row, bucket) keyed sum:
  // d·w longs total, merged by +, the same wire shape as hll1.
  // ---------------------------------------------------------------------
  private[graft] val CmD = 4
  private[graft] val CmW = 512
  private[graft] val CmTopK = 10

  def cms1CountMin(spark: SparkSession, sfDir: String): DataFrame = {
    val kc = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true) // cells + top-k consumers
    val cells = Sketches.cmCells(kc, col("k"), col("cnt"), CmD, CmW)
    val top = kc.orderBy(col("cnt").desc, col("k").asc).limit(CmTopK)
    val est = Sketches.cmQuery(cells, top.select(col("k")), col("k"),
      CmD, CmW)
    top.join(est, top("k") === est("__k"))
      .select(top("k").as("custkey"), col("cnt").as("n_true"),
        col("est").as("n_est"), (col("est") - col("cnt")).as("overestimate"))
  }

  val cms1CountMinSql: String = {
    val probeU = SamplingSql.bootUniform("k", "(100 + r.row)")
    s"""WITH kc AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
       |            FROM orders GROUP BY 1),
       |cells AS (${Sketches.cmCellsSql("kc", "k", "cnt", CmD, CmW)}),
       |top AS (SELECT k, cnt FROM kc ORDER BY cnt DESC, k ASC
       |        LIMIT $CmTopK),
       |probes AS (
       |  SELECT top.k, CAST(r.row AS INTEGER) AS row,
       |    CAST(floor($probeU * $CmW) AS INTEGER) AS bucket
       |  FROM top, range(1, ${CmD + 1}) r(row)),
       |e AS (SELECT p.k, MIN(COALESCE(c.c, 0)) AS est
       |      FROM probes p LEFT JOIN cells c USING (row, bucket)
       |      GROUP BY 1)
       |SELECT t.k AS custkey, t.cnt AS n_true, e.est AS n_est,
       |  e.est - t.cnt AS overestimate
       |FROM top t JOIN e ON e.k = t.k""".stripMargin
  }

  // ---------------------------------------------------------------------
  // DIA1: double-sweep BFS diameter lower bound on the trade graph —
  // sweep once from the smallest node, again from the farthest node
  // found; the second eccentricity is the classic tight diameter lower
  // bound (Magnien-Latapy-Habib 2009). Reuses the frontier BFS (each
  // round one edge⋈frontier equi-join); the two inter-sweep scalars
  // (seed, farthest) are 1-row planning statistics. The oracle unrolls
  // both walks as chained recursive CTEs whose UNION-distinct frontier
  // is node x depth bounded.
  // ---------------------------------------------------------------------
  private[graft] val DiaMaxHops = 12

  def dia1DoubleSweep(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val e = Queries29.tradeEdges(spark, sfDir).localCheckpoint(true)
    val seedA = e.agg(min(col("src"))).head().getLong(0)
    val d1 = Bfs.hopDistance(e, Seq(seedA).toDF("node"), DiaMaxHops)
    val far = d1.orderBy(col("dist").desc, col("node").asc).limit(1).head()
    val (seedB, eccA) = (far.getLong(0), far.getInt(1))
    val d2 = Bfs.hopDistance(e, Seq(seedB).toDF("node"), DiaMaxHops)
    d2.agg(max(col("dist")).as("ecc_b"), count(lit(1)).as("n_reached"))
      .select(lit(seedA).as("seed_a"), lit(eccA).as("ecc_a"),
        lit(seedB).as("seed_b"), col("ecc_b"), col("n_reached"))
  }

  val dia1DoubleSweepSql: String =
    s"""WITH RECURSIVE ${Queries29.TradeEdgesSql},
       |s1 AS (SELECT MIN(src) AS n FROM e),
       |w1(node, d) AS (
       |  SELECT n, 0 FROM s1
       |  UNION
       |  SELECT e.dst, w1.d + 1 FROM e JOIN w1 ON e.src = w1.node
       |  WHERE w1.d < $DiaMaxHops),
       |d1 AS (SELECT node, MIN(d) AS dist FROM w1 GROUP BY 1),
       |f AS (SELECT node, dist FROM d1 ORDER BY dist DESC, node ASC
       |      LIMIT 1),
       |w2(node, d) AS (
       |  SELECT node, 0 FROM f
       |  UNION
       |  SELECT e.dst, w2.d + 1 FROM e JOIN w2 ON e.src = w2.node
       |  WHERE w2.d < $DiaMaxHops),
       |d2 AS (SELECT node, MIN(d) AS dist FROM w2 GROUP BY 1)
       |SELECT (SELECT n FROM s1) AS seed_a,
       |  (SELECT dist FROM f) AS ecc_a,
       |  (SELECT node FROM f) AS seed_b,
       |  MAX(dist) AS ecc_b,
       |  CAST(COUNT(*) AS BIGINT) AS n_reached
       |FROM d2""".stripMargin

  val all: Seq[Query] = Seq(
    Query("hll1_distinct_sketch", hll1DistinctSketch, hll1DistinctSketchSql),
    Query("cms1_countmin", cms1CountMin, cms1CountMinSql),
    Query("dia1_double_sweep", dia1DoubleSweep, dia1DoubleSweepSql))
}
