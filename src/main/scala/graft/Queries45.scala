package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round 6 (cont. 16) — the long-run behaviour of the event process:
  * the stationary distribution of mk1's first-order Markov chain by
  * power iteration on the (bounded, k×k) transition matrix. mk1 gives
  * P(next | cur); this gives where the chain SPENDS ITS TIME — the
  * number a capacity planner multiplies against per-state cost. Same
  * contract as [[Queries]].
  */
object Queries45 {

  private[graft] val StaIters = 10

  // ---------------------------------------------------------------------
  // STA1: transition probabilities from exact counts (one window pass +
  // keyed agg — mk1's dataflow), then StaIters rounds of π ← πP on the
  // k-row state vector with DECIMAL-quantized sums and per-round
  // renormalization (the pw1 shape; the matrix is event-type² cells,
  // bounded metadata at any corpus size). The oracle unrolls the same
  // rounds as MATERIALIZED CTEs.
  // ---------------------------------------------------------------------
  def sta1StationaryDist(spark: SparkSession, sfDir: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val t = Tables.events(spark, sfDir)
      .withColumn("__next", lead(col("event_type"), 1).over(seq))
      .where(col("__next").isNotNull)
      .groupBy(col("event_type").as("i"), col("__next").as("j"))
      .agg(count(lit(1)).as("__n"))
    val rs = t.groupBy(col("i")).agg(sum(col("__n")).as("__rs"))
    val trans = t.join(rs, Seq("i"))
      .select(col("i"), col("j"),
        (col("__n") / col("__rs").cast("double")).as("__p"))
      .localCheckpoint(true)
    val states = trans.select(col("i").as("s"))
      .unionByName(trans.select(col("j").as("s"))).distinct()
      .localCheckpoint(true)
    val k = states.count()
    var pi = states.select(col("s"), lit(1.0 / k).as("x"))
    for (_ <- 1 to StaIters) {
      val w = trans
        .join(pi.select(col("s").as("i"), col("x").as("__xi")), Seq("i"))
        .groupBy(col("j").as("s"))
        .agg(sum((col("__p") * col("__xi")).cast("decimal(28,14)"))
          .as("__w"))
      val z = w.agg(sum(col("__w")).as("__z"))
      pi = w.crossJoin(broadcast(z))
        .select(col("s"),
          (col("__w").cast("double") / col("__z").cast("double")).as("x"))
        .localCheckpoint(true)
    }
    pi.select(col("s").as("state"), round(col("x"), 6).as("pi"))
  }

  val sta1StationaryDistSql: String = {
    val rounds = (1 to StaIters).map { t =>
      s"""w$t AS MATERIALIZED (
         |  SELECT tr.j AS s,
         |    SUM(CAST(tr.p * p${t - 1}.x AS DECIMAL(28,14))) AS w
         |  FROM tr JOIN p${t - 1} ON p${t - 1}.s = tr.i GROUP BY 1),
         |z$t AS MATERIALIZED (SELECT SUM(w) AS z FROM w$t),
         |p$t AS MATERIALIZED (
         |  SELECT s, CAST(w AS DOUBLE) / CAST(z AS DOUBLE) AS x
         |  FROM w$t, z$t)""".stripMargin
    }.mkString(",\n")
    s"""WITH seq AS (
       |  SELECT event_type AS cur,
       |    LEAD(event_type, 1) OVER (PARTITION BY user_id
       |                              ORDER BY ts ASC, event_id ASC) AS next
       |  FROM events),
       |t AS (SELECT cur AS i, next AS j, CAST(COUNT(*) AS BIGINT) AS n
       |      FROM seq WHERE next IS NOT NULL GROUP BY 1, 2),
       |r AS (SELECT i, CAST(SUM(n) AS BIGINT) AS rs FROM t GROUP BY 1),
       |tr AS MATERIALIZED (
       |  SELECT t.i, t.j, t.n / CAST(r.rs AS DOUBLE) AS p
       |  FROM t JOIN r USING (i)),
       |st AS MATERIALIZED (
       |  SELECT DISTINCT s FROM (
       |    SELECT i AS s FROM tr UNION SELECT j FROM tr)),
       |kk AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM st),
       |p0 AS MATERIALIZED (
       |  SELECT s, 1.0 / CAST(kk.k AS DOUBLE) AS x FROM st, kk),
       |$rounds
       |SELECT s AS state, round(x, 6) AS pi FROM p$StaIters""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("sta1_stationary_dist", sta1StationaryDist, sta1StationaryDistSql))
}
