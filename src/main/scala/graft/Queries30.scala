package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AssocRules, Modularity, SeriesStats, VectorSearch}

/** Round 6 (cont.) — market-basket association mining, community-quality
  * scoring, time-series autocorrelation and forecast backtesting,
  * contrastive hard-negative mining, personalized PageRank, and the Gini
  * concentration statistic, all under the DuckDB oracle. Same contract
  * as [[Queries]].
  */
object Queries30 {

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ---------------------------------------------------------------------
  // FI1: a-priori frequent part pairs over order baskets with
  // support / confidence / lift — "which parts co-occur in orders more
  // than chance". Both the items and the pair must reach MinSupport
  // baskets; the infrequent-item prune runs BEFORE the pair self-join
  // (downward closure), which is what keeps the expansion linear at
  // scale. All metric arithmetic is one IEEE division over exact
  // integer/DECIMAL terms on both engines.
  // ---------------------------------------------------------------------
  private[graft] val FiMinSupport = 2L

  def fi1AssocRules(spark: SparkSession, sfDir: String): DataFrame =
    AssocRules.frequentPairs(
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey").as("basket"), col("l_partkey").as("item")),
      FiMinSupport)

  val fi1AssocRulesSql: String =
    s"""WITH b AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
       |           FROM lineitem),
       |f AS (SELECT item, COUNT(*) AS n_item FROM b
       |      GROUP BY 1 HAVING COUNT(*) >= $FiMinSupport),
       |pb AS (SELECT b.basket, b.item FROM b JOIN f USING (item)),
       |nb AS (SELECT COUNT(DISTINCT basket) AS n_baskets FROM b),
       |p AS (SELECT a.item AS item_a, c.item AS item_b, COUNT(*) AS n_ab
       |      FROM pb a JOIN pb c ON a.basket = c.basket AND a.item < c.item
       |      GROUP BY 1, 2 HAVING COUNT(*) >= $FiMinSupport)
       |SELECT item_a, item_b, n_ab, fa.n_item AS n_a, fb.n_item AS n_b,
       |  CAST(n_ab AS DOUBLE) / CAST(n_baskets AS DOUBLE) AS support,
       |  CAST(n_ab AS DOUBLE) / CAST(fa.n_item AS DOUBLE) AS confidence,
       |  CAST(CAST(n_ab AS DECIMAL(18,0)) * CAST(n_baskets AS DECIMAL(18,0))
       |       AS DOUBLE) /
       |  CAST(CAST(fa.n_item AS DECIMAL(18,0)) * CAST(fb.n_item AS DECIMAL(18,0))
       |       AS DOUBLE) AS lift
       |FROM p
       |JOIN f fa ON p.item_a = fa.item
       |JOIN f fb ON p.item_b = fb.item, nb""".stripMargin

  // ---------------------------------------------------------------------
  // MOD1: modularity of the NATION partition over the thresholded trade
  // graph (Queries29.tradeEdges) — "is repeat trade assortative by
  // nation?" Customers sit on even node ids, suppliers on odd
  // (Queries29's encoding); each node's community is its nation key.
  // Per-community rows carry the exact integer tallies plus the one-
  // division q_term; Q = SUM(q_term) ≈ 0 here (TPC-H assigns nations
  // uniformly — the honest negative finding the operator exists to
  // measure).
  // ---------------------------------------------------------------------
  def mod1NationModularity(spark: SparkSession, sfDir: String): DataFrame = {
    val labels = Tables.customer(spark, sfDir)
      .select((col("c_custkey").cast("long") * 2).as("node"),
        col("c_nationkey").cast("long").as("label"))
      .unionAll(Tables.supplier(spark, sfDir)
        .select((col("s_suppkey").cast("long") * 2 + 1).as("node"),
          col("s_nationkey").cast("long").as("label")))
    Modularity.perCommunity(Queries29.tradeEdges(spark, sfDir), labels)
  }

  val mod1NationModularitySql: String =
    s"""WITH ${Queries29.TradeEdgesSql},
       |lab AS (
       |  SELECT c_custkey * 2 AS node, CAST(c_nationkey AS BIGINT) AS label
       |  FROM customer
       |  UNION ALL
       |  SELECT s_suppkey * 2 + 1 AS node, CAST(s_nationkey AS BIGINT) AS label
       |  FROM supplier),
       |m AS (SELECT COUNT(*) AS ecnt FROM e),
       |tagged AS (
       |  SELECT la.label AS la, lb.label AS lb
       |  FROM e JOIN lab la ON e.src = la.node JOIN lab lb ON e.dst = lb.node),
       |w AS (SELECT la AS community, COUNT(*) AS within_edges
       |      FROM tagged WHERE la = lb GROUP BY 1),
       |d AS (SELECT la AS community, COUNT(*) AS degree_sum
       |      FROM tagged GROUP BY 1)
       |SELECT d.community, COALESCE(w.within_edges, 0) AS within_edges,
       |  d.degree_sum,
       |  CAST(CAST(COALESCE(w.within_edges, 0) AS DECIMAL(19,0)) *
       |         CAST(m.ecnt AS DECIMAL(19,0)) -
       |       CAST(d.degree_sum AS DECIMAL(19,0)) *
       |         CAST(d.degree_sum AS DECIMAL(19,0)) AS DOUBLE) /
       |  CAST(CAST(m.ecnt AS DECIMAL(19,0)) * CAST(m.ecnt AS DECIMAL(19,0))
       |       AS DOUBLE) AS q_term
       |FROM d LEFT JOIN w ON d.community = w.community, m""".stripMargin

  // ---------------------------------------------------------------------
  // ACF1: calendar-lag autocorrelation (lags 1..7) of the daily order-
  // revenue series — the seasonality diagnostic over the engine's
  // temporal surface. The daily aggregation is the only scan-sized
  // shuffle; the ACF itself runs on the years×365-row series. Every Σ is
  // DECIMAL-exact; the r_k combination is a fixed double-op tree
  // mirrored token-for-token by the oracle.
  // ---------------------------------------------------------------------
  private[graft] val AcfMaxLag = 7

  def acf1DailyRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("t"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("x"))
    SeriesStats.acf(daily, AcfMaxLag)
  }

  val acf1DailyRevenueSql: String = {
    val xbar = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    s"""WITH s AS (
       |  SELECT CAST(o_orderdate AS DATE) AS t,
       |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
       |  FROM orders GROUP BY 1),
       |g AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx FROM s),
       |l AS (SELECT CAST(lag AS INTEGER) AS lag
       |      FROM range(1, ${AcfMaxLag + 1}) r(lag)),
       |j AS (
       |  SELECT l.lag AS lag, COUNT(*) AS n_pairs, SUM(a.x * b.x) AS sxy,
       |    SUM(a.x) AS sh, SUM(b.x) AS st
       |  FROM s a CROSS JOIN l JOIN s b ON b.t = a.t + l.lag
       |  GROUP BY 1)
       |SELECT lag, n_pairs,
       |  round((((CAST(sxy AS DOUBLE) - ($xbar * CAST(sh AS DOUBLE))) -
       |     ($xbar * CAST(st AS DOUBLE))) +
       |   ((CAST(n_pairs AS DOUBLE) * $xbar) * $xbar)) /
       |  (CAST(sxx AS DOUBLE) - ((CAST(n AS DOUBLE) * $xbar) * $xbar)), 12) AS r
       |FROM j, g""".stripMargin
  }

  // ---------------------------------------------------------------------
  // HN1: contrastive hard negatives — for each query vector in a bounded
  // block (vec_id < 50), the top-2 most-cosine-similar embeddings with a
  // DIFFERENT label. Broadcast nested-loop over the corpus scan (block
  // is bounded by construction); per-query top-k is a window argmax with
  // the engine-wide (score DESC, id ASC) tie-break.
  // ---------------------------------------------------------------------
  private[graft] val HnBlockMax = 50L
  private[graft] val HnK = 2

  def hn1HardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    VectorSearch.hardNegatives(
      emb, emb.where(col("vec_id") < HnBlockMax), HnK)
  }

  val hn1HardNegativesSql: String = {
    val c = Queries.sqlCosine("e.embedding", "q.embedding")
    s"""SELECT qid, neg_id, CAST(rank AS INTEGER) AS rank, score FROM (
       |  SELECT q.vec_id AS qid, e.vec_id AS neg_id,
       |    round($c, 6) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |                       ORDER BY $c DESC, e.vec_id ASC) AS rank
       |  FROM embeddings q JOIN embeddings e ON q.label <> e.label
       |  WHERE q.vec_id < $HnBlockMax AND $c IS NOT NULL
       |) WHERE rank <= $HnK""".stripMargin
  }

  // ---------------------------------------------------------------------
  // PPR1: personalized PageRank (random walk with restart) from the five
  // trusted seed suppliers over pr1's dense purchase graph — the seeded-
  // diffusion proximity recommendation and graph-sampling pipelines use,
  // where pr1 answers "who anchors the whole network" and ppr1 "who is
  // close to THESE nodes". Four power iterations; restart vector 1/5 on
  // the seeds; contributions DECIMAL-quantized exactly as pr1. The
  // oracle unrolls the four iterations with identical arithmetic.
  // ---------------------------------------------------------------------
  private[graft] val PprIters = 4
  private[graft] val PprSeedSuppliers = Seq(1L, 2L, 3L, 4L, 5L)

  def ppr1Personalized(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("c"),
        (col("l_suppkey").cast("long") * 2 + 1).as("s"))
      .distinct()
    val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
    val seeds = PprSeedSuppliers.map(_ * 2 + 1).toDF("node")
    operators.PageRank.personalized(edges, seeds, PprIters)
      .select(col("node"), round(col("rank"), 6).as("rank"))
  }

  val ppr1PersonalizedSql: String = {
    val seedRows = PprSeedSuppliers.map(s => s"(${s * 2 + 1})").mkString(", ")
    val nSeeds = PprSeedSuppliers.size
    def iter(k: Int): String =
      s"""p$k AS (
         |  SELECT nv.node,
         |    (CAST(0.15 AS DOUBLE) * nv.v)
         |      + CAST(0.85 AS DOUBLE)*COALESCE(c.s, CAST(0.0 AS DOUBLE)) AS rank
         |  FROM nv LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(SUM(CAST(p.rank/d.outd AS DECIMAL(28,10))) AS DOUBLE) AS s
         |    FROM e JOIN d ON e.src = d.src JOIN p${k - 1} p ON p.node = e.src
         |    GROUP BY e.dst) c ON c.node = nv.node)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT DISTINCT CAST(o_custkey AS BIGINT)*2 AS c,
       |    CAST(l_suppkey AS BIGINT)*2 + 1 AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT c AS src, s AS dst FROM pairs
       |      UNION ALL SELECT s, c FROM pairs),
       |d AS (SELECT src, COUNT(*) AS outd FROM e GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |seeds AS (SELECT CAST(node AS BIGINT) AS node
       |          FROM (VALUES $seedRows) v(node)),
       |nv AS (
       |  SELECT n.node,
       |    CASE WHEN s.node IS NOT NULL
       |         THEN CAST(1.0 AS DOUBLE)/$nSeeds ELSE CAST(0.0 AS DOUBLE)
       |    END AS v
       |  FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
       |p0 AS (SELECT node, v AS rank FROM nv),
       |${(1 to PprIters).map(iter).mkString(",\n")}
       |SELECT node, round(rank, 6) AS rank FROM p$PprIters""".stripMargin
  }

  // ---------------------------------------------------------------------
  // FC1: seasonal-naive forecast backtest — x̂_t = x_{t−7 days} over the
  // daily revenue series (acf1's), scored with MAE / MAPE / sMAPE. The
  // baseline every forecasting pipeline must beat; the eval set is every
  // calendar date with a predictor 7 days earlier. Absolute errors are
  // DECIMAL-exact; relative terms quantize to DECIMAL(28,10) before the
  // sum (the PageRank-contribution pattern).
  // ---------------------------------------------------------------------
  private[graft] val FcPeriod = 7

  def fc1SeasonalBacktest(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("t"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("x"))
    SeriesStats.seasonalNaiveBacktest(daily, FcPeriod)
  }

  val fc1SeasonalBacktestSql: String =
    s"""WITH s AS (
       |  SELECT CAST(o_orderdate AS DATE) AS t,
       |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
       |  FROM orders GROUP BY 1),
       |j AS (
       |  SELECT b.x AS x, a.x AS xp
       |  FROM s a JOIN s b ON b.t = a.t + $FcPeriod),
       |g AS (
       |  SELECT COUNT(*) AS n, SUM(ABS(x - xp)) AS sae,
       |    SUM(CAST(CAST(ABS(x - xp) AS DOUBLE) / CAST(x AS DOUBLE)
       |        AS DECIMAL(28,10))) AS sape,
       |    SUM(CAST((CAST(2.0 AS DOUBLE) * CAST(ABS(x - xp) AS DOUBLE)) /
       |        (CAST(x AS DOUBLE) + CAST(xp AS DOUBLE))
       |        AS DECIMAL(28,10))) AS ssape
       |  FROM j)
       |SELECT CAST(n AS BIGINT) AS n_eval,
       |  round(CAST(sae AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mae,
       |  round(CAST(sape AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mape,
       |  round(CAST(ssape AS DOUBLE) / CAST(n AS DOUBLE), 6) AS smape
       |FROM g""".stripMargin

  // ---------------------------------------------------------------------
  // GINI1: Gini coefficient of customer lifetime spend — the standard
  // concentration statistic ("how unequal is revenue across customers"),
  // computed from the rank formula G = (2·Σi·x_i − (n+1)·Σx)/(n·Σx) with
  // x ascending. Ranks come from the engine's distributed prefix-sum
  // primitive (operators/Ranks — no single-partition global sort);
  // Σi·x_i is DECIMAL-exact (rank·spend products), and ties in spend
  // leave the statistic invariant (swapping equal x across ranks doesn't
  // move Σi·x_i) — custkey only pins intermediate determinism.
  // ---------------------------------------------------------------------
  /** Gini over a (custkey, x DECIMAL) table — the rank-formula core of
    * gini1, exposed for hand-case specs. */
  private[graft] def gini(spend: DataFrame): DataFrame = {
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val ranked = operators.Ranks.withRunningSums(
      spend.withColumn("__one", lit(1L)),
      Seq("__one" -> "__rank"), Seq(col("x").asc, col("custkey").asc))
    ranked.agg(
        count(lit(1)).as("n_customers"),
        sum(col("x")).as("__sx"),
        sum(col("__rank").cast("decimal(19,0)") * col("x")).as("__sixi"))
      .select(col("n_customers"),
        round(((lit(2.0) * d(col("__sixi"))) -
          ((d(col("n_customers")) + lit(1.0)) * d(col("__sx")))) /
          (d(col("n_customers")) * d(col("__sx"))), 12).as("gini"))
  }

  def gini1RevenueGini(spark: SparkSession, sfDir: String): DataFrame =
    gini(Tables.orders(spark, sfDir)
      .groupBy(col("o_custkey").as("custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("x")))

  val gini1RevenueGiniSql: String =
    """WITH a AS (
      |  SELECT o_custkey AS custkey,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT x, ROW_NUMBER() OVER (ORDER BY x ASC, custkey ASC) AS rnk
      |  FROM a),
      |g AS (
      |  SELECT COUNT(*) AS n, SUM(x) AS sx,
      |    SUM(CAST(rnk AS DECIMAL(19,0)) * x) AS sixi
      |  FROM r)
      |SELECT CAST(n AS BIGINT) AS n_customers,
      |  round(((CAST(2.0 AS DOUBLE) * CAST(sixi AS DOUBLE)) -
      |    ((CAST(n AS DOUBLE) + CAST(1.0 AS DOUBLE)) * CAST(sx AS DOUBLE))) /
      |    (CAST(n AS DOUBLE) * CAST(sx AS DOUBLE)), 12) AS gini
      |FROM g""".stripMargin

  // ---------------------------------------------------------------------
  // BOOT1: Poisson-bootstrap 95% CI for the mean order value — B = 64
  // replicates in ONE pass (each row draws a seeded Poisson(1) weight
  // per replicate; no resampling passes), exact ceil(αB)/ceil((1−α)B)
  // order statistics of the replicate means as the interval. The
  // thresholds are shared double literals, so the oracle replays the
  // weight draw bit-for-bit.
  // ---------------------------------------------------------------------
  private[graft] val BootReps = 64

  def boot1BootstrapCi(spark: SparkSession, sfDir: String): DataFrame =
    operators.Sampling.poissonBootstrapMeanCI(
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"),
          col("o_totalprice").cast("decimal(18,2)").as("x")),
      "o_orderkey", "x", BootReps)

  val boot1BootstrapCiSql: String = {
    import operators.SamplingSql
    val w = SamplingSql.poissonWeight(
      SamplingSql.bootUniform("k", "j"))
    val kLo = math.ceil(0.025 * BootReps).toInt
    val kHi = math.ceil(0.975 * BootReps).toInt
    s"""WITH x AS (
       |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS x
       |  FROM orders),
       |reps AS (
       |  SELECT k, x, CAST(j AS INTEGER) AS j
       |  FROM x CROSS JOIN range(0, $BootReps) r(j)),
       |wts AS (SELECT j, x, $w AS w FROM reps),
       |rm AS (
       |  SELECT j, CAST(SUM(w * x) AS DOUBLE) / CAST(SUM(w) AS DOUBLE) AS m
       |  FROM wts GROUP BY j),
       |o AS (SELECT j, m, ROW_NUMBER() OVER (ORDER BY m ASC, j ASC) AS rn
       |      FROM rm),
       |ci AS (
       |  SELECT MAX(CASE WHEN rn = $kLo THEN m END) AS lo,
       |         MAX(CASE WHEN rn = $kHi THEN m END) AS hi
       |  FROM o),
       |pt AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(x) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean
       |  FROM x)
       |SELECT CAST(pt.n AS BIGINT) AS n_rows, round(pt.mean, 6) AS mean,
       |  round(ci.lo, 6) AS ci_lo, round(ci.hi, 6) AS ci_hi
       |FROM pt, ci""".stripMargin
  }

  // ---------------------------------------------------------------------
  // TS1: Theil–Sen robust trend of daily revenue — median pairwise slope
  // + median residual intercept, both EXACT lower-median order
  // statistics through the distributed rank. The robust companion to
  // q16's OLS: one outlier day moves OLS, not this.
  // ---------------------------------------------------------------------
  def ts1TheilSen(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("t"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("x"))
    SeriesStats.theilSen(daily)
  }

  val ts1TheilSenSql: String =
    """WITH s AS (
      |  SELECT CAST(o_orderdate AS DATE) AS t,
      |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x
      |  FROM orders GROUP BY 1),
      |p AS (
      |  SELECT a.t AS ta, b.t AS tb,
      |    (CAST(b.x AS DOUBLE) - CAST(a.x AS DOUBLE)) /
      |      CAST(date_diff('day', a.t, b.t) AS DOUBLE) AS sl
      |  FROM s a JOIN s b ON a.t < b.t),
      |np AS (SELECT COUNT(*) AS n FROM p),
      |rs AS (SELECT sl, ROW_NUMBER() OVER (ORDER BY sl ASC, ta ASC, tb ASC)
      |         AS rn FROM p),
      |m AS (SELECT np.n AS n, rs.sl AS sl FROM rs, np
      |      WHERE rs.rn = CAST(FLOOR((np.n + 1) / 2.0) AS BIGINT)),
      |r AS (
      |  SELECT m.n AS n, m.sl AS sl, s.t AS t,
      |    CAST(s.x AS DOUBLE) -
      |      m.sl * CAST(date_diff('day', DATE '1970-01-01', s.t) AS DOUBLE)
      |      AS res
      |  FROM s, m),
      |nd AS (SELECT COUNT(*) AS nd FROM s),
      |rr AS (SELECT n, sl, res,
      |         ROW_NUMBER() OVER (ORDER BY res ASC, t ASC) AS rn FROM r)
      |SELECT CAST(rr.n AS BIGINT) AS n_pairs, round(rr.sl, 6) AS slope,
      |  round(rr.res, 6) AS intercept
      |FROM rr, nd WHERE rr.rn = CAST(FLOOR((nd.nd + 1) / 2.0) AS BIGINT)""".stripMargin

  // ---------------------------------------------------------------------
  // SCH1: schema-evolution round-trip — two parquet batches with
  // DIFFERENT column sets (an early ingest without `source`, a later one
  // without `n_chars`) land in one table directory; the read merges
  // schemas and the profile counts per-lang presence/absence of each
  // evolved column. Pins Spark's mergeSchema semantics (absent columns
  // read as NULL) under the oracle, which reconstructs the union with
  // explicit NULLs — the schema-drift reality every long-lived pipeline
  // table faces.
  // ---------------------------------------------------------------------
  def sch1SchemaMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = tmpDir("graft_sch1")
    val docs = Tables.documents(spark, sfDir)
    docs.where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .write.mode("append").parquet(dir)
    docs.where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("lang"), col("source"))
      .write.mode("append").parquet(dir)
    spark.read.option("mergeSchema", "true").parquet(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        count(when(col("n_chars").isNull, 1)).as("n_missing_chars"),
        count(when(col("source").isNull, 1)).as("n_missing_source"))
  }

  val sch1SchemaMergeSql: String =
    """WITH merged AS (
      |  SELECT doc_id, lang, n_chars, CAST(NULL AS VARCHAR) AS source
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars, source
      |  FROM documents WHERE doc_id % 2 = 1)
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  COUNT(CASE WHEN n_chars IS NULL THEN 1 END) AS n_missing_chars,
      |  COUNT(CASE WHEN source IS NULL THEN 1 END) AS n_missing_source
      |FROM merged GROUP BY lang""".stripMargin

  val all: Seq[Query] = Seq(
    Query("fi1_assoc_rules", fi1AssocRules, fi1AssocRulesSql),
    Query("mod1_modularity", mod1NationModularity, mod1NationModularitySql),
    Query("acf1_autocorr", acf1DailyRevenue, acf1DailyRevenueSql),
    Query("hn1_hard_negatives", hn1HardNegatives, hn1HardNegativesSql),
    Query("ppr1_personalized", ppr1Personalized, ppr1PersonalizedSql),
    Query("fc1_seasonal_backtest", fc1SeasonalBacktest, fc1SeasonalBacktestSql),
    Query("gini1_revenue_gini", gini1RevenueGini, gini1RevenueGiniSql),
    Query("boot1_bootstrap_ci", boot1BootstrapCi, boot1BootstrapCiSql),
    Query("ts1_theil_sen", ts1TheilSen, ts1TheilSenSql),
    Query("sch1_schema_merge", sch1SchemaMerge, sch1SchemaMergeSql))
}
