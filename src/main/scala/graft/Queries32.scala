package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Regression, Sampling, SamplingSql, StatTests, TextAnalysis, TextAnalysisSql}

/** Round 6 (cont. 3) — data-placement and estimation primitives:
  * rendezvous (highest-random-weight) sharding with its minimal-movement
  * invariant, bottom-k (min-wise) consistent sampling with the
  * threshold cardinality estimator, and two-feature OLS by distributed
  * normal equations. Same contract as [[Queries]].
  */
object Queries32 {

  // ---------------------------------------------------------------------
  // RDV1: rendezvous hashing (Thaler & Ravishankar 1998) — each key goes
  // to the node with the highest seeded hash(key, node); removing a node
  // reassigns ONLY that node's keys (the minimal-disruption property
  // consistent-hashing layouts need at 1000 executors). The query
  // computes the 8-node assignment and the 7-node assignment (node 3
  // removed) in one pass and returns the transition matrix — every
  // off-diagonal row must have shard_from = 3, which the spec asserts
  // and the oracle pins. Scale: the keys×nodes fan-out is the whole
  // cost; argmax per key is one keyed aggregation, no shuffle beyond it.
  // ---------------------------------------------------------------------
  private[graft] val RdvNodes = 8
  private[graft] val RdvRemoved = 3

  def rdv1Rendezvous(spark: SparkSession, sfDir: String): DataFrame = {
    val nodes = spark.range(RdvNodes).select(col("id").as("node"))
    val scored = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("k"))
      .crossJoin(broadcast(nodes))
      .withColumn("__u", Sampling.bootUniform(col("k"), col("node")))
    // lexicographic max of (u, node): the node-id tie-break is
    // deterministic on both engines (u collisions are ~2⁻³⁰ but pinned)
    def argmax(df: DataFrame, out: String) = df.groupBy(col("k"))
      .agg(max(struct(col("__u").as("u"), col("node").as("node"))).as("__m"))
      .select(col("k"), col("__m.node").as(out))
    argmax(scored, "shard_from")
      .join(argmax(scored.where(col("node") =!= RdvRemoved), "shard_to"),
        Seq("k"))
      .groupBy(col("shard_from"), col("shard_to"))
      .agg(count(lit(1)).as("n"))
  }

  val rdv1RendezvousSql: String = {
    val u = SamplingSql.bootUniform("o_orderkey", "node")
    s"""WITH nd AS (SELECT unnest(range($RdvNodes)) AS node),
       |s AS (SELECT o_orderkey AS k, node, $u AS u FROM orders, nd),
       |a8 AS (SELECT k, node AS shard_from FROM (
       |    SELECT k, node, ROW_NUMBER() OVER (PARTITION BY k
       |      ORDER BY u DESC, node DESC) AS rn FROM s) WHERE rn = 1),
       |a7 AS (SELECT k, node AS shard_to FROM (
       |    SELECT k, node, ROW_NUMBER() OVER (PARTITION BY k
       |      ORDER BY u DESC, node DESC) AS rn FROM s
       |    WHERE node <> $RdvRemoved) WHERE rn = 1)
       |SELECT a8.shard_from, a7.shard_to, COUNT(*) AS n
       |FROM a8 JOIN a7 USING (k) GROUP BY 1, 2""".stripMargin
  }

  // ---------------------------------------------------------------------
  // PS1: bottom-k (min-wise) consistent sample over orders — keep the k
  // keys with the SMALLEST seeded hash. The sample is consistent (a
  // superset's sample extends the subset's), mergeable (bottom-k of
  // union = bottom-k of concatenated bottom-k's — how a 1000-executor
  // sketch combines), and its k-th value τ estimates the population:
  // N̂ = (k−1)/τ for uniform hashes (Bar-Yossef et al. 2002). Returns
  // the estimator row; the sampled mean stands next to the true mean as
  // the accuracy check.
  // ---------------------------------------------------------------------
  private[graft] val PsK = 100

  def ps1PrioritySample(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(18,2)").as("__rev"))
      .withColumn("__u", Sampling.bootUniform(col("k"), lit(0)))
    val glob = scored.agg(count(lit(1)).as("__n"), sum(col("__rev")).as("__tot"))
    val bottom = scored.orderBy(col("__u").asc, col("k").asc).limit(PsK)
      .agg(count(lit(1)).as("__k"), max(col("__u")).as("__tau"),
        sum(col("__rev")).as("__srev"))
    glob.crossJoin(broadcast(bottom)) // scalar-broadcast pattern
      .select(
        col("__n").as("n_total"),
        col("__k").as("k"),
        round(col("__tau"), 6).as("tau"),
        round((col("__k") - 1).cast("double") / col("__tau"), 6).as("n_est"),
        round(col("__srev").cast("double") / col("__k").cast("double"), 6)
          .as("mean_rev_sample"),
        round(col("__tot").cast("double") / col("__n").cast("double"), 6)
          .as("mean_rev_true"))
  }

  val ps1PrioritySampleSql: String = {
    val u = SamplingSql.bootUniform("o_orderkey", "0")
    s"""WITH s AS (
       |  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(18,2)) AS rev,
       |    $u AS u
       |  FROM orders),
       |g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(rev) AS tot FROM s),
       |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS k, MAX(u) AS tau,
       |        SUM(rev) AS srev
       |      FROM (SELECT * FROM s ORDER BY u ASC, k ASC LIMIT $PsK))
       |SELECT g.n AS n_total, b.k AS k, round(b.tau, 6) AS tau,
       |  round(CAST(b.k - 1 AS DOUBLE) / b.tau, 6) AS n_est,
       |  round(CAST(b.srev AS DOUBLE) / CAST(b.k AS DOUBLE), 6)
       |    AS mean_rev_sample,
       |  round(CAST(g.tot AS DOUBLE) / CAST(g.n AS DOUBLE), 6)
       |    AS mean_rev_true
       |FROM g, b""".stripMargin
  }

  // ---------------------------------------------------------------------
  // OLS1: two-feature regression — document length (n_chars) on token
  // count and English-ness, by distributed normal equations (one moment
  // scan + one residual scan; only scalars cross stages). The token
  // count is the strong predictor; the language dummy measures the
  // per-language residual offset. R² near 1 is the expected finding
  // (chars ≈ tokens × avg word length).
  // ---------------------------------------------------------------------
  def ols1MultiRegression(spark: SparkSession, sfDir: String): DataFrame =
    Regression.ols2(Tables.documents(spark, sfDir)
      .select(TextAnalysis.tokenCount(col("text")).as("x1"),
        when(col("lang") === "en", 1L).otherwise(0L).as("x2"),
        col("n_chars").as("y")))

  val ols1MultiRegressionSql: String = {
    val tc = TextAnalysisSql.tokenCount("text")
    def det3(a: String, b: String, c: String, d: String, e: String,
        f: String, g: String, h: String, i: String): String =
      Regression.det3Sql(a, b, c, d, e, f, g, h, i)
    val D = det3("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
    val D0 = det3("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")
    val D1 = det3("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")
    val D2 = det3("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")
    s"""WITH b AS (
       |  SELECT CAST($tc AS BIGINT) AS x1,
       |    CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS x2,
       |    n_chars AS y
       |  FROM documents),
       |m AS (SELECT
       |    CAST(COUNT(*) AS DOUBLE) AS n,
       |    CAST(SUM(x1) AS DOUBLE) AS s1,
       |    CAST(SUM(x2) AS DOUBLE) AS s2,
       |    CAST(SUM(y) AS DOUBLE) AS sy,
       |    CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * x1) AS DOUBLE) AS s11,
       |    CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * x2) AS DOUBLE) AS s12,
       |    CAST(SUM(CAST(x2 AS DECIMAL(38,0)) * x2) AS DOUBLE) AS s22,
       |    CAST(SUM(CAST(x1 AS DECIMAL(38,0)) * y) AS DOUBLE) AS s1y,
       |    CAST(SUM(CAST(x2 AS DECIMAL(38,0)) * y) AS DOUBLE) AS s2y,
       |    CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DOUBLE) AS syy,
       |    CAST(COUNT(*) AS BIGINT) AS n_rows
       |  FROM b),
       |co AS (SELECT n_rows, n, sy, syy,
       |    $D0 / $D AS b0, $D1 / $D AS b1, $D2 / $D AS b2 FROM m),
       |sse AS (SELECT SUM(CAST(
       |    (CAST(y AS DOUBLE) - (co.b0 + co.b1 * CAST(x1 AS DOUBLE)
       |      + co.b2 * CAST(x2 AS DOUBLE))) *
       |    (CAST(y AS DOUBLE) - (co.b0 + co.b1 * CAST(x1 AS DOUBLE)
       |      + co.b2 * CAST(x2 AS DOUBLE)))
       |    AS DECIMAL(28,14))) AS e FROM b, co)
       |SELECT co.n_rows AS n, round(co.b0, 6) AS b0, round(co.b1, 6) AS b1,
       |  round(co.b2, 6) AS b2,
       |  round(1.0 - CAST(sse.e AS DOUBLE) /
       |    (co.syy - co.sy * co.sy / co.n), 6) AS r2
       |FROM co, sse""".stripMargin
  }

  // ---------------------------------------------------------------------
  // CCF1: cross-correlation of daily revenue against the daily count of
  // URGENT orders at calendar lags −5..5 — "does urgency lead or lag
  // spend". Completes acf1's temporal-dependence family with the
  // bivariate case; the lag-0 peak with near-zero sidelobes is the
  // expected finding under TPC-H's independent order generator.
  // ---------------------------------------------------------------------
  private[graft] val CcfMaxLag = 5

  def ccf1RevenueUrgency(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("t"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("x"),
        count(when(col("o_orderpriority") === "1-URGENT", 1)).as("y"))
    operators.SeriesStats.ccf(daily, CcfMaxLag)
  }

  val ccf1RevenueUrgencySql: String = {
    val xbar = "(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    val ybar = "(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    s"""WITH s AS (
       |  SELECT CAST(o_orderdate AS DATE) AS t,
       |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS x,
       |    COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END) AS y
       |  FROM orders GROUP BY 1),
       |g AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(x * x) AS sxx,
       |        SUM(y) AS sy, SUM(CAST(y AS DECIMAL(38,0)) * y) AS syy
       |      FROM s),
       |l AS (SELECT CAST(lag AS INTEGER) AS lag
       |      FROM range(${-CcfMaxLag}, ${CcfMaxLag + 1}) r(lag)),
       |j AS (
       |  SELECT l.lag AS lag, COUNT(*) AS n_pairs, SUM(a.x * b.y) AS sxy,
       |    SUM(a.x) AS sh, SUM(b.y) AS st
       |  FROM s a CROSS JOIN l JOIN s b ON b.t = a.t + l.lag
       |  GROUP BY 1)
       |SELECT lag, n_pairs,
       |  round((((CAST(sxy AS DOUBLE) - ($ybar * CAST(sh AS DOUBLE))) -
       |     ($xbar * CAST(st AS DOUBLE))) +
       |   ((CAST(n_pairs AS DOUBLE) * $xbar) * $ybar)) /
       |  sqrt((CAST(sxx AS DOUBLE) - ((CAST(n AS DOUBLE) * $xbar) * $xbar)) *
       |    (CAST(syy AS DOUBLE) - ((CAST(n AS DOUBLE) * $ybar) * $ybar))),
       |    12) AS r
       |FROM j, g""".stripMargin
  }

  // ---------------------------------------------------------------------
  // BH1: per-nation year-over-year spend tests with Benjamini–Hochberg
  // FDR control — the multiple-testing discipline a pipeline needs the
  // moment it runs pt1's test per segment (25 nations → ~1.25 expected
  // false positives at α=0.05 uncorrected). Permutation p-values share
  // pt1's seeded sign-flip machinery; the step-up runs over the 25-row
  // p-table (bounded metadata). Zero discoveries is the expected honest
  // finding under TPC-H's uniform generator.
  // ---------------------------------------------------------------------
  private[graft] val BhReplicates = 100
  private[graft] val BhQ = 0.1

  def bh1FdrNations(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir)
      .withColumn("__yr", year(to_date(col("o_orderdate"))))
      .where(col("__yr").isin(1995, 1996))
      .groupBy(col("o_custkey").as("k"), col("__yr"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("cents"))
    val pairs = o.where(col("__yr") === 1995)
      .select(col("k"), col("cents").as("__c95"))
      .join(o.where(col("__yr") === 1996)
        .select(col("k"), col("cents").as("__c96")), Seq("k"))
      .join(Tables.customer(spark, sfDir)
        .select(col("c_custkey").as("k"),
          col("c_nationkey").cast("long").as("nation")), Seq("k"))
      .select(col("nation"), col("k"), (col("__c96") - col("__c95")).as("d"))
    StatTests.groupedSignFlipBH(pairs, "nation", "k", "d",
      BhReplicates, BhQ, meanScale = 100.0)
  }

  val bh1FdrNationsSql: String = {
    val u = SamplingSql.bootUniform("k", "j")
    s"""WITH y AS (
       |  SELECT o_custkey AS k, year(CAST(o_orderdate AS DATE)) AS yr,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
       |      AS cents
       |  FROM orders WHERE year(CAST(o_orderdate AS DATE)) IN (1995, 1996)
       |  GROUP BY 1, 2),
       |p AS (SELECT CAST(c.c_nationkey AS BIGINT) AS g, a.k AS k,
       |        b.cents - a.cents AS d
       |      FROM y a JOIN y b ON a.k = b.k AND a.yr = 1995 AND b.yr = 1996
       |      JOIN customer c ON c.c_custkey = a.k),
       |o AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS np,
       |        CAST(SUM(d) AS BIGINT) AS obs FROM p GROUP BY 1),
       |r AS (SELECT g, j,
       |    CAST(SUM((CASE WHEN $u < 0.5 THEN -1 ELSE 1 END) * d) AS BIGINT)
       |      AS stat
       |  FROM p CROSS JOIN (SELECT unnest(range(0, $BhReplicates)) AS j)
       |  GROUP BY 1, 2),
       |pt AS (SELECT o.g, o.np, o.obs,
       |    CAST(1 + SUM(CASE WHEN ABS(r.stat) >= ABS(o.obs)
       |      THEN 1 ELSE 0 END) AS DOUBLE) / ${BhReplicates + 1}.0 AS p
       |  FROM r JOIN o USING (g) GROUP BY 1, 2, 3),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM pt),
       |rk AS (SELECT pt.*, CAST(ROW_NUMBER() OVER (ORDER BY p ASC, g ASC)
       |         AS BIGINT) AS i FROM pt),
       |th AS (SELECT COALESCE(MAX(CASE WHEN p <= CAST(i AS DOUBLE)
       |        / CAST(m.m AS DOUBLE) * $BhQ THEN p END), -1.0) AS thr
       |      FROM rk, m)
       |SELECT g AS nation, np AS n_pairs,
       |  round(CAST(obs AS DOUBLE) / (100.0 * CAST(np AS DOUBLE)), 6)
       |    AS mean_diff,
       |  round(p, 6) AS p_value, p <= th.thr AS discovery
       |FROM rk, th""".stripMargin
  }

  // ---------------------------------------------------------------------
  // DBS1: DBSCAN over a bounded embedding block (vec_id < 500, brute
  // eps-pairs at cosine >= 0.35, minPts 3) — the density member of the
  // clustering family. The fixture's embeddings are near-orthogonal
  // random vectors, so most points are honest noise and the clusters
  // are small dense pockets — the semantics, not the data, are under
  // test (mod1's stance). At scale the eps-pairs come from the banded
  // candidate join (d5/d10) instead of this block's brute force; the
  // clustering dataflow is identical.
  // ---------------------------------------------------------------------
  private[graft] val DbsBlock = 500L
  private[graft] val DbsCos = 0.35
  private[graft] val DbsMinPts = 3

  def dbs1Dbscan(spark: SparkSession, sfDir: String): DataFrame = {
    val block = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < DbsBlock)
      .select(col("vec_id").as("id"), col("embedding"))
      .localCheckpoint(true) // pairs + points consumers
    val pairs = block.select(col("id").as("id1"), col("embedding").as("__e1"))
      .join(block.select(col("id").as("id2"), col("embedding").as("__e2")),
        col("id1") < col("id2"))
      .where(graft.functions.Similarity.cosine(col("__e1"), col("__e2"))
        >= DbsCos)
      .select(col("id1"), col("id2"))
    operators.Dbscan.cluster(block.select(col("id")), pairs, DbsMinPts)
      .select(col("id").as("vec_id"), col("is_core"), col("cluster"))
  }

  val dbs1DbscanSql: String = {
    val c = Queries.sqlCosine("a.embedding", "b.embedding")
    s"""WITH RECURSIVE e0 AS (
       |  SELECT vec_id AS id, embedding FROM embeddings
       |  WHERE vec_id < $DbsBlock),
       |p AS (SELECT a.id AS id1, b.id AS id2
       |      FROM e0 a JOIN e0 b ON a.id < b.id WHERE $c >= $DbsCos),
       |sym AS (SELECT id1 AS s, id2 AS d FROM p
       |        UNION SELECT id2, id1 FROM p),
       |cnt AS (SELECT e0.id, COUNT(sym.d) AS n
       |        FROM e0 LEFT JOIN sym ON sym.s = e0.id GROUP BY 1),
       |core AS (SELECT id FROM cnt WHERE n + 1 >= $DbsMinPts),
       |ce AS (SELECT s, d FROM sym
       |       WHERE s IN (SELECT id FROM core) AND d IN (SELECT id FROM core)),
       |reach(id, r) AS (
       |  SELECT s, s FROM ce
       |  UNION
       |  SELECT ce.s, rr.r FROM ce JOIN reach rr ON rr.id = ce.d),
       |comp AS (SELECT id, MIN(r) AS cmp FROM reach GROUP BY 1),
       |corecl AS (SELECT core.id, COALESCE(comp.cmp, core.id) AS cluster
       |           FROM core LEFT JOIN comp ON comp.id = core.id),
       |border AS (SELECT sym.s AS id, MIN(corecl.cluster) AS cluster
       |           FROM sym JOIN corecl ON corecl.id = sym.d
       |           WHERE sym.s NOT IN (SELECT id FROM core) GROUP BY 1)
       |SELECT e0.id AS vec_id,
       |  (corecl.id IS NOT NULL) AS is_core,
       |  COALESCE(corecl.cluster, border.cluster, -1) AS cluster
       |FROM e0
       |LEFT JOIN corecl ON corecl.id = e0.id
       |LEFT JOIN border ON border.id = e0.id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // DBS2: BLOCKED density clustering — the production posture dbs1's doc
  // comment and the round-8 soak name. At cosine 0.35 in 64 dims the
  // eps-graph is quadratic in N for geometric reasons (unrelated-pair
  // cosine ~ N(0, 1/64) puts 0.35 at 2.8 sigma ⇒ ~0.26% of ALL pairs
  // qualify), so at scale the candidate space is constrained FIRST —
  // here by the fixture's label column (language/domain/shard in a real
  // corpus), with eps-pairs mined by the SRP banded join (d10's
  // machinery) inside each block and the identical clustering dataflow
  // downstream. The oracle mirrors planes, bands, block key, verify, and
  // the component peel, so LSH's false negatives cancel exactly. Same
  // filter-before-score discipline as the reference's session-scoped
  // search (src/memory.rs:112-116).
  // ---------------------------------------------------------------------
  def dbs2BlockedDbscan(spark: SparkSession, sfDir: String): DataFrame = {
    val embs = Tables.embeddings(spark, sfDir)
    val pairs = operators.Dedup.srpNearDups(embs, "vec_id", "embedding",
        threshold = DbsCos, nPlanes = 16, bands = 4,
        blockCol = Some("label"))
      .select(col("id1"), col("id2"))
    operators.Dbscan.cluster(embs.select(col("vec_id").as("id")), pairs,
        DbsMinPts)
      .select(col("id").as("vec_id"), col("is_core"), col("cluster"))
  }

  val dbs2BlockedDbscanSql: String = {
    val c = Queries.sqlCosine("x.embedding", "y.embedding")
    s"""WITH RECURSIVE planes AS (
       |  SELECT j, list((((1103515245 * (j * 64 + d) + 12345) % 2147483648)
       |                  % 1000 - 500) / 500.0 ORDER BY d) AS h
       |  FROM range(0, 16) tj(j), range(0, 64) td(d) GROUP BY j),
       |dots AS (
       |  SELECT e.vec_id, e.label, p.j,
       |    list_sum(list_transform(range(1, 65),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * p.h[i])) AS dot
       |  FROM embeddings e, planes p),
       |sig AS (
       |  SELECT vec_id, label,
       |    CAST(SUM(CASE WHEN dot >= 0 THEN 1 << j ELSE 0 END) AS BIGINT)
       |      AS sig
       |  FROM dots GROUP BY vec_id, label),
       |banded AS (
       |  SELECT vec_id, label, b, (sig >> (b * 4)) & 15 AS key
       |  FROM sig, range(0, 4) tb(b)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
       |  FROM banded a JOIN banded c
       |    ON a.b = c.b AND a.key = c.key
       |    AND a.label IS NOT DISTINCT FROM c.label
       |    AND a.vec_id < c.vec_id),
       |p AS (
       |  SELECT id1, id2 FROM cand
       |  JOIN embeddings x ON x.vec_id = id1
       |  JOIN embeddings y ON y.vec_id = id2
       |  WHERE $c IS NOT NULL AND $c >= $DbsCos),
       |e0 AS (SELECT vec_id AS id FROM embeddings),
       |sym AS (SELECT id1 AS s, id2 AS d FROM p
       |        UNION SELECT id2, id1 FROM p),
       |cnt AS (SELECT e0.id, COUNT(sym.d) AS n
       |        FROM e0 LEFT JOIN sym ON sym.s = e0.id GROUP BY 1),
       |core AS (SELECT id FROM cnt WHERE n + 1 >= $DbsMinPts),
       |ce AS (SELECT s, d FROM sym
       |       WHERE s IN (SELECT id FROM core) AND d IN (SELECT id FROM core)),
       |reach(id, r) AS (
       |  SELECT s, s FROM ce
       |  UNION
       |  SELECT ce.s, rr.r FROM ce JOIN reach rr ON rr.id = ce.d),
       |comp AS (SELECT id, MIN(r) AS cmp FROM reach GROUP BY 1),
       |corecl AS (SELECT core.id, COALESCE(comp.cmp, core.id) AS cluster
       |           FROM core LEFT JOIN comp ON comp.id = core.id),
       |border AS (SELECT sym.s AS id, MIN(corecl.cluster) AS cluster
       |           FROM sym JOIN corecl ON corecl.id = sym.d
       |           WHERE sym.s NOT IN (SELECT id FROM core) GROUP BY 1)
       |SELECT e0.id AS vec_id,
       |  (corecl.id IS NOT NULL) AS is_core,
       |  COALESCE(corecl.cluster, border.cluster, -1) AS cluster
       |FROM e0
       |LEFT JOIN corecl ON corecl.id = e0.id
       |LEFT JOIN border ON border.id = e0.id""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("dbs1_dbscan", dbs1Dbscan, dbs1DbscanSql),
    Query("dbs2_blocked_dbscan", dbs2BlockedDbscan, dbs2BlockedDbscanSql),
    Query("bh1_fdr_nations", bh1FdrNations, bh1FdrNationsSql),
    Query("rdv1_rendezvous", rdv1Rendezvous, rdv1RendezvousSql),
    Query("ps1_priority_sample", ps1PrioritySample, ps1PrioritySampleSql),
    Query("ols1_multi_regression", ols1MultiRegression, ols1MultiRegressionSql),
    Query("ccf1_cross_correlation", ccf1RevenueUrgency, ccf1RevenueUrgencySql))
}
