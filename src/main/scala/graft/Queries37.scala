package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.{KTruss, Ranks}

/** Round 6 (cont. 8) — edge-cohesion and operational load: the k-truss
  * of the near-duplicate graph (the edge companion to kc1's node
  * k-core) and the peak-concurrency sweep line over sessionized events.
  * Same contract as [[Queries]].
  */
object Queries37 {

  // ---------------------------------------------------------------------
  // TRI2: 3-truss of the SimHash near-dup graph — every surviving edge
  // sits in >= 1 triangle among surviving edges, the "dense duplicate
  // community" certificate that tri1's raw triangle count motivates
  // (chains of borderline pairs peel away, triangle-supported cores
  // stay). k = 3 because the fixture's dup graph is triangle-sparse
  // (2 triangles / 47 edges at sf0.01) — the 4-truss peels to the
  // empty set there, and an empty oracle row verifies nothing.
  // Peel rounds follow kc1's oracle-unroll contract: the engine runs
  // STRICT with maxIters = unroll + 1 and fails loudly if the fixpoint
  // needs more rounds than the oracle unrolls; the oracle's extra
  // rounds are no-ops at fixpoint. The trade/co-purchase graphs are
  // bipartite (triangle-free by construction) — the dup graph is the
  // triangle-bearing substrate, exactly as in tri1.
  // ---------------------------------------------------------------------
  private[graft] val TrussK = 3
  private[graft] val TrussUnroll = 5

  def tri2Ktruss(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = operators.Dedup.simhashPairs(
        Tables.documents(spark, sfDir), "doc_id", "text", maxDist = 3)
      .select(col("id1").as("src"), col("id2").as("dst"))
    val r = KTruss.truss(pairs, TrussK,
      maxIters = TrussUnroll + 1, strict = true)
    r.edges.select(col("a").as("id1"), col("b").as("id2"), col("support"))
  }

  val tri2KtrussSql: String = {
    val k = TrussK
    def round(t: Int): String =
      s"""tri$t AS MATERIALIZED (
         |  SELECT x.a AS x, x.b AS y, y.b AS z
         |  FROM e$t x JOIN e$t y ON y.a = x.b
         |  WHERE EXISTS (SELECT 1 FROM e$t z
         |                WHERE z.a = x.a AND z.b = y.b)),
         |s$t AS MATERIALIZED (
         |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM (
         |    SELECT x AS a, y AS b FROM tri$t
         |    UNION ALL SELECT x, z FROM tri$t
         |    UNION ALL SELECT y, z FROM tri$t) GROUP BY 1, 2),
         |e${t + 1} AS MATERIALIZED (
         |  SELECT e.a, e.b FROM e$t e JOIN s$t s USING (a, b)
         |  WHERE s.c >= ${k - 2})""".stripMargin
    val rounds = (0 until TrussUnroll).map(round).mkString(",\n")
    val f = TrussUnroll
    s"""WITH dup AS (${Queries.d3SimhashPairsSql}),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT LEAST(id1, id2) AS a, GREATEST(id1, id2) AS b
       |  FROM dup WHERE id1 <> id2),
       |$rounds,
       |trif AS MATERIALIZED (
       |  SELECT x.a AS x, x.b AS y, y.b AS z
       |  FROM e$f x JOIN e$f y ON y.a = x.b
       |  WHERE EXISTS (SELECT 1 FROM e$f z
       |                WHERE z.a = x.a AND z.b = y.b)),
       |sf AS MATERIALIZED (
       |  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c FROM (
       |    SELECT x AS a, y AS b FROM trif
       |    UNION ALL SELECT x, z FROM trif
       |    UNION ALL SELECT y, z FROM trif) GROUP BY 1, 2)
       |SELECT e.a AS id1, e.b AS id2, COALESCE(sf.c, 0) AS support
       |FROM e$f e LEFT JOIN sf ON sf.a = e.a AND sf.b = e.b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // CON1: peak concurrency — sessionize events (e4's 1800 s gap rule),
  // then sweep the session intervals as +1/−1 deltas through the
  // distributed prefix sum: the capacity-planning number ("how many
  // sessions were open at the worst moment, and when"). Ends sort
  // before starts at the same second (−1 < +1), so touching intervals
  // don't inflate the peak. No global per-row sort: the running count
  // rides Ranks.withRunningSums.
  // ---------------------------------------------------------------------
  private[graft] val ConGapSec = 1800L

  def con1PeakConcurrency(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("user_id"),
      unix_timestamp(col("ts")).as("t"), col("event_id"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    val sess = ev
      .withColumn("__prev", lag(col("t"), 1).over(w))
      .withColumn("__new", when(col("__prev").isNull ||
        col("t") - col("__prev") > ConGapSec, 1L).otherwise(0L))
      .withColumn("__sid", sum(col("__new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("__sid"))
      .agg(min(col("t")).as("__start"),
        (max(col("t")) + ConGapSec).as("__end"))
      .localCheckpoint(true) // deltas (x2) + session-count consumers
    val deltas = sess.select(col("__start").as("t"), lit(1L).as("d"),
        col("user_id"))
      .unionByName(sess.select(col("__end").as("t"), lit(-1L).as("d"),
        col("user_id")))
    val run = Ranks.withRunningSums(deltas, Seq(("d", "__conc")),
      Seq(col("t").asc, col("d").asc, col("user_id").asc))
    val peak = run.agg(max(col("__conc")).as("peak_concurrent"))
    val at = run.crossJoin(broadcast(peak))
      .where(col("__conc") === col("peak_concurrent"))
      .agg(min(col("t")).as("at_epoch"))
    sess.agg(count(lit(1)).as("n_sessions"))
      .crossJoin(broadcast(peak)).crossJoin(broadcast(at))
  }

  val con1PeakConcurrencySql: String =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t, event_id
       |  FROM events),
       |lg AS (SELECT user_id, t, event_id,
       |    LAG(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
       |  FROM ev),
       |s2 AS (SELECT user_id, t,
       |    SUM(CASE WHEN prev IS NULL OR t - prev > $ConGapSec
       |      THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY user_id ORDER BY t, event_id
       |            ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM lg),
       |sess AS (SELECT user_id, sid, MIN(t) AS st,
       |    MAX(t) + $ConGapSec AS en
       |  FROM s2 GROUP BY 1, 2),
       |d AS (SELECT st AS t, 1 AS d, user_id FROM sess
       |      UNION ALL SELECT en, -1, user_id FROM sess),
       |r AS (SELECT t, CAST(SUM(d) OVER (ORDER BY t, d, user_id
       |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS conc
       |      FROM d),
       |p AS (SELECT MAX(conc) AS peak_concurrent FROM r),
       |a AS (SELECT MIN(t) AS at_epoch FROM r, p
       |      WHERE r.conc = p.peak_concurrent),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions FROM sess)
       |SELECT n.n_sessions, p.peak_concurrent, a.at_epoch FROM n, p, a""".stripMargin

  val all: Seq[Query] = Seq(
    Query("tri2_ktruss", tri2Ktruss, tri2KtrussSql),
    Query("con1_peak_concurrency", con1PeakConcurrency, con1PeakConcurrencySql))
}
