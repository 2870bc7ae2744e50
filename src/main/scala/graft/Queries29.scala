package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bfs, LabelProp, Perceptron, Skyline}

/** Round 6 — graph reachability + communities, in-engine model training,
  * multi-criteria curation, and two more sink/source formats, all under
  * the DuckDB oracle. Same contract as [[Queries]].
  */
object Queries29 {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ---------------------------------------------------------------------
  // Shared fixture graph: the purchase graph THRESHOLDED to repeat
  // trading relationships (pairs with >= 3 lineitems). Unlike pr1/kc1's
  // dense graph (avg degree ~60 at sf0.01, diameter ~2 — BFS would
  // saturate in one hop), the thresholded graph is sparse enough to have
  // real multi-hop structure (distances 0..6 from a single supplier at
  // sf0.01) and real community structure for LPA.
  // ---------------------------------------------------------------------
  private[graft] val TradeMinLines = 3

  private[graft] def tradeEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("o_custkey").cast("long") * 2).as("c"),
        (col("l_suppkey").cast("long") * 2 + 1).as("s"))
      .agg(count(lit(1)).as("__n"))
      .where(col("__n") >= TradeMinLines)
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
  }

  private[graft] val TradeEdgesSql: String =
    s"""p AS (
       |  SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $TradeMinLines),
       |e AS (SELECT c AS src, s AS dst FROM p
       |      UNION ALL SELECT s AS src, c AS dst FROM p)""".stripMargin

  // ---------------------------------------------------------------------
  // BFS1: multi-source hop distance from suppliers 1..5 (nodes 2s+1),
  // capped at 6 hops — "how far is each trading partner from the trusted
  // seed suppliers". The oracle is a recursive CTE whose UNION-distinct
  // frontier carries (node, depth) pairs, so it is node x depth bounded,
  // never path-enumerating.
  // ---------------------------------------------------------------------
  private[graft] val BfsSeedSuppliers = Seq(1L, 2L, 3L, 4L, 5L)
  private[graft] val BfsMaxHops = 6

  def bfs1HopDistance(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val seeds = BfsSeedSuppliers.map(_ * 2 + 1).toDF("node")
    Bfs.hopDistance(tradeEdges(spark, sfDir), seeds, BfsMaxHops)
  }

  val bfs1HopDistanceSql: String = {
    val seedRows = BfsSeedSuppliers.map(s => s"(${s * 2 + 1}, 0)").mkString(", ")
    s"""WITH RECURSIVE
       |$TradeEdgesSql,
       |walk(node, d) AS (
       |  SELECT CAST(node AS BIGINT), d
       |  FROM (VALUES $seedRows) v(node, d)
       |  UNION
       |  SELECT e.dst, w.d + 1 FROM e JOIN walk w ON e.src = w.node
       |  WHERE w.d < $BfsMaxHops)
       |SELECT node, CAST(MIN(d) AS INTEGER) AS dist
       |FROM walk GROUP BY node""".stripMargin
  }

  // ---------------------------------------------------------------------
  // LP1: synchronous label propagation, 3 rounds, most-frequent-
  // neighbour label with min-label tie-break — deterministic community
  // assignment over the same thresholded trade graph. Oracle unrolls the
  // three rounds; each round is one join + count + window argmax, the
  // exact dataflow the engine runs.
  // ---------------------------------------------------------------------
  private[graft] val LpaRounds = 3

  def lp1LabelProp(spark: SparkSession, sfDir: String): DataFrame =
    LabelProp.propagate(tradeEdges(spark, sfDir), LpaRounds)

  val lp1LabelPropSql: String = {
    def round(k: Int): String =
      s"""c$k AS (
         |  SELECT e.src AS node, l.label, COUNT(*) AS votes
         |  FROM e JOIN l${k - 1} l ON e.dst = l.node GROUP BY 1, 2),
         |l$k AS (
         |  SELECT node, label FROM (
         |    SELECT node, label, ROW_NUMBER() OVER (
         |      PARTITION BY node ORDER BY votes DESC, label ASC) AS rn
         |    FROM c$k) WHERE rn = 1)""".stripMargin
    s"""WITH $TradeEdgesSql,
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
       |${(1 to LpaRounds).map(round).mkString(",\n")}
       |SELECT node, label FROM l$LpaRounds""".stripMargin
  }

  // ---------------------------------------------------------------------
  // PN1: batch perceptron trained in-engine — predict lang = 'en' from
  // three integer text features (char count, space count, 'e' count).
  // All-integer arithmetic makes every epoch exactly reproducible by the
  // unrolled SQL oracle (no float enters the loop; see Perceptron.scala).
  // ---------------------------------------------------------------------
  private[graft] val PerceptronEpochs = 4

  private def perceptronFeatures(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
      col("n_chars"),
      (length(col("text")) - length(regexp_replace(col("text"), " ", "")))
        .cast("long").as("spaces"),
      (length(col("text")) - length(regexp_replace(col("text"), "e", "")))
        .cast("long").as("evs"))

  def pn1Perceptron(spark: SparkSession, sfDir: String): DataFrame =
    Perceptron.train(spark, perceptronFeatures(spark, sfDir), "y",
      Seq("n_chars", "spaces", "evs"), PerceptronEpochs)

  val pn1PerceptronSql: String = {
    def round(k: Int): String =
      s"""m$k AS (
         |  SELECT COUNT(*) AS e,
         |    COALESCE(SUM(y), 0) AS s0, COALESCE(SUM(y * x1), 0) AS s1,
         |    COALESCE(SUM(y * x2), 0) AS s2, COALESCE(SUM(y * x3), 0) AS s3
         |  FROM f, w${k - 1} w
         |  WHERE y * (w.b + w.w1 * x1 + w.w2 * x2 + w.w3 * x3) <= 0),
         |w$k AS (
         |  SELECT w.b + m.s0 AS b, w.w1 + m.s1 AS w1, w.w2 + m.s2 AS w2,
         |    w.w3 + m.s3 AS w3, m.e AS e
         |  FROM w${k - 1} w, m$k m)""".stripMargin
    def emit(k: Int): String =
      s"""SELECT CAST($k AS BIGINT) AS epoch, CAST(e AS BIGINT) AS errors,
         |  CAST(b AS BIGINT) AS bias, CAST(w1 AS BIGINT) AS w_n_chars,
         |  CAST(w2 AS BIGINT) AS w_spaces, CAST(w3 AS BIGINT) AS w_evs
         |FROM w$k""".stripMargin
    s"""WITH f AS (
       |  SELECT CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
       |    n_chars AS x1,
       |    length(text) - length(replace(text, ' ', '')) AS x2,
       |    length(text) - length(replace(text, 'e', '')) AS x3
       |  FROM documents),
       |w0 AS (SELECT CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS w1,
       |       CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
       |${(1 to PerceptronEpochs).map(round).mkString(",\n")}
       |${(1 to PerceptronEpochs).map(emit).mkString("\nUNION ALL\n")}""".stripMargin
  }

  // ---------------------------------------------------------------------
  // SKY1: Pareto frontier of customers over (lifetime spend, order
  // count, largest single order) — all maximizing. Spend sums are
  // DECIMAL-exact on both engines so dominance never hinges on float
  // accumulation order; the oracle is the quadratic NOT EXISTS
  // definition, the engine the two-phase distributed skyline.
  // ---------------------------------------------------------------------
  def sky1ParetoCustomers(spark: SparkSession, sfDir: String): DataFrame = {
    val a = Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("spend"),
        count(lit(1)).as("n_orders"),
        max(col("o_totalprice")).as("max_price"))
    Skyline.frontier(a, Seq("spend", "n_orders", "max_price"))
      .select(col("custkey"), col("spend").cast("double").as("spend"),
        col("n_orders"), col("max_price"))
  }

  val sky1ParetoCustomersSql: String =
    """WITH a AS (
      |  SELECT o_custkey AS custkey,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend,
      |    COUNT(*) AS n_orders, MAX(o_totalprice) AS max_price
      |  FROM orders GROUP BY 1)
      |SELECT custkey, CAST(spend AS DOUBLE) AS spend, n_orders, max_price
      |FROM a t
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM a u
      |  WHERE u.spend >= t.spend AND u.n_orders >= t.n_orders
      |    AND u.max_price >= t.max_price
      |    AND (u.spend > t.spend OR u.n_orders > t.n_orders
      |         OR u.max_price > t.max_price))""".stripMargin

  // ---------------------------------------------------------------------
  // ORC1: ORC sink + source round-trip — documents written as ORC (the
  // second columnar format large pipelines exchange besides parquet),
  // read back, profiled per (lang, source). The oracle reads the
  // ORIGINAL parquet, so writer/reader asymmetries (string encoding,
  // null handling) surface as drift.
  // ---------------------------------------------------------------------
  def orc1OrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tmpDir("graft_orc1")
    Tables.documents(spark, sfDir).write.mode("overwrite").orc(dir)
    spark.read.orc(dir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        max(length(col("text")).cast("long")).as("max_text_len"))
  }

  val orc1OrcRoundtripSql: String =
    """SELECT lang, source, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(MAX(length(text)) AS BIGINT) AS max_text_len
      |FROM documents GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // CSV1: CSV sink + source round-trip on the numeric lineitem slice
  // (headers on, explicit read schema — the interchange convention).
  // Doubles survive textually because both the writer and DuckDB print
  // shortest-round-trip decimal forms; aggregates are DECIMAL-exact.
  // ---------------------------------------------------------------------
  def csv1CsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tmpDir("graft_csv1")
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_returnflag"), col("l_linestatus"))
      .write.mode("overwrite").option("header", "true").csv(dir)
    spark.read
      .schema("l_orderkey LONG, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
        "l_discount DOUBLE, l_returnflag STRING, l_linestatus STRING")
      .option("header", "true").csv(dir)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
          .as("sum_price"))
  }

  val csv1CsvRoundtripSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // E17: stream-stream LEFT OUTER interval join replay — e10's shape
  // with outer semantics, where the null-extended "no click followed
  // this purchase" rows are emitted by WATERMARK-DRIVEN state eviction
  // (see EventStream.replayFollowsOuter). The oracle is the plain batch
  // LEFT JOIN; stream must equal batch because replay is event-ordered
  // and dual sentinels flush every eviction horizon before the drain.
  // ---------------------------------------------------------------------
  def e17StreamOuterJoin(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayFollowsOuter(
      Tables.events(spark, sfDir), windowSec = 14400)

  val e17StreamOuterJoinSql: String =
    """SELECT p.event_id AS p_event_id, p.user_id AS p_user_id,
      |  p.ts AS p_ts, e.ts AS e_ts
      |FROM events p LEFT JOIN events e
      |  ON p.user_id = e.user_id AND e.event_type = 'click'
      | AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL '14400 seconds'
      |WHERE p.event_type = 'purchase'""".stripMargin

  val all: Seq[Query] = Seq(
    Query("e17_stream_outer_join", e17StreamOuterJoin, e17StreamOuterJoinSql, lane = true),
    Query("bfs1_hop_distance", bfs1HopDistance, bfs1HopDistanceSql),
    Query("lp1_label_prop", lp1LabelProp, lp1LabelPropSql),
    Query("pn1_perceptron", pn1Perceptron, pn1PerceptronSql),
    Query("sky1_pareto", sky1ParetoCustomers, sky1ParetoCustomersSql),
    Query("orc1_orc_roundtrip", orc1OrcRoundtrip, orc1OrcRoundtripSql),
    Query("csv1_csv_roundtrip", csv1CsvRoundtrip, csv1CsvRoundtripSql))
}
