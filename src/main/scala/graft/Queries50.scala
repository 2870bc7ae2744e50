package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Ranks, Sketches, StatTests}

/** Round 8 — four classical tests closing the remaining gaps in the
  * statistics family: the k-sample location test (Kruskal–Wallis,
  * generalizing mw1), the portmanteau serial-correlation test
  * (Ljung–Box, completing the acf1/pacf1/dw1 Box–Jenkins block), the
  * order-sensitive randomness test (Wald–Wolfowitz runs), and the
  * pairwise-sign rank correlation (Kendall τ-b, the companion to
  * spr1's Spearman ρ). Same contract as [[Queries]]: exact LONG /
  * DECIMAL accumulation, doubles only in fixed scalar trees mirrored
  * token-for-token by the DuckDB oracles.
  */
object Queries50 {

  // ---------------------------------------------------------------------
  // KW1: does document length differ across the 5 languages? The
  // k-sample question mw1 could only ask two-at-a-time. One value-keyed
  // groupBy + the distributed prefix-sum ranks; H with the standard tie
  // correction. Scale: data-sized work is the two groupBys; the rank
  // prefix runs over distinct n_chars values, the H tree over 5 rows.
  // ---------------------------------------------------------------------
  def kw1KruskalWallis(spark: SparkSession, sfDir: String): DataFrame =
    StatTests.kruskalWallis(Tables.documents(spark, sfDir),
      col("lang"), col("n_chars"))

  val kw1KruskalWallisSql: String =
    """WITH v AS (
      |  SELECT CAST(n_chars AS BIGINT) AS val, COUNT(*) AS cnt
      |  FROM documents GROUP BY 1),
      |w AS (SELECT val, cnt,
      |    SUM(cnt) OVER (ORDER BY val
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM v),
      |gv AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS val,
      |    COUNT(*) AS gc
      |  FROM documents GROUP BY 1, 2),
      |pg AS (SELECT g, CAST(SUM(gc) AS BIGINT) AS ni,
      |    SUM(CAST(gc AS DECIMAL(38,0)) * (2 * (cum - cnt) + cnt + 1))
      |      AS r2a
      |  FROM gv JOIN w ON gv.val = w.val GROUP BY 1),
      |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
      |    SUM(CAST((CAST(r2a AS DOUBLE) / 2.0) * (CAST(r2a AS DOUBLE) / 2.0)
      |      / CAST(ni AS DOUBLE) AS DECIMAL(38,10))) AS sq
      |  FROM pg),
      |g AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
      |    SUM(CAST(CAST(cnt AS DECIMAL(38,0)) * cnt * cnt - cnt
      |      AS DECIMAL(38,0))) AS tt
      |  FROM w)
      |SELECT s.k AS k_groups, g.n AS n, s.k - 1 AS dof,
      |  round((12.0 / (CAST(g.n AS DOUBLE) * (CAST(g.n AS DOUBLE) + 1.0))
      |      * CAST(s.sq AS DOUBLE) - 3.0 * (CAST(g.n AS DOUBLE) + 1.0))
      |    / (1.0 - CAST(g.tt AS DOUBLE)
      |      / (CAST(g.n AS DOUBLE) * CAST(g.n AS DOUBLE)
      |        * CAST(g.n AS DOUBLE) - CAST(g.n AS DOUBLE))), 6) AS h_stat
      |FROM s, g""".stripMargin

  // ---------------------------------------------------------------------
  // LB1: Ljung–Box Q over acf1's 12-dp autocorrelations (lags 1..7) —
  // "is the daily revenue series white noise?" Starting from the
  // identically-rounded ACF keeps every downstream double bit-equal
  // (the pacf1 precedent); per-lag r²/(n−k) terms are DECIMAL(38,20)-
  // quantized before the 7-term sum. n − k is each lag's n_pairs (the
  // calendar is gap-free, so they coincide; declared either way).
  // ---------------------------------------------------------------------
  def lb1LjungBox(spark: SparkSession, sfDir: String): DataFrame = {
    val acf = Queries30.acf1DailyRevenue(spark, sfDir)
    val a = acf.agg(
      max(col("lag").cast("long") + col("n_pairs")).as("__n"),
      count(lit(1)).as("__h"),
      sum((col("r") * col("r") / col("n_pairs").cast("double"))
        .cast("decimal(38,20)")).as("__s"))
    val nd = col("__n").cast("double")
    a.select(col("__h").as("h_lags"), col("__n").as("n_days"),
      round(nd * (nd + lit(2.0)) * col("__s").cast("double"), 6)
        .as("q_stat"))
  }

  val lb1LjungBoxSql: String =
    s"""WITH acf AS (${Queries30.acf1DailyRevenueSql}),
       |a AS (SELECT CAST(MAX(lag + n_pairs) AS BIGINT) AS n,
       |    CAST(COUNT(*) AS BIGINT) AS h,
       |    SUM(CAST(r * r / CAST(n_pairs AS DOUBLE) AS DECIMAL(38,20)))
       |      AS s
       |  FROM acf)
       |SELECT h AS h_lags, n AS n_days,
       |  round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
       |    * CAST(s AS DOUBLE), 6) AS q_stat
       |FROM a""".stripMargin

  // ---------------------------------------------------------------------
  // RUN1: runs of daily order revenue above/below its median — the
  // order-sensitive randomness check on the engine's temporal surface
  // (cpd1 finds WHERE the level shifted; run1 tests WHETHER the
  // sequence is exchangeable at all). Money in exact integer cents;
  // the median is doubled (lo + hi order statistics) so no division
  // touches the comparisons.
  // ---------------------------------------------------------------------
  def run1RunsTest(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("t"))
      .agg((sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long").as("x"))
    StatTests.runsTest(daily)
  }

  val run1RunsTestSql: String =
    """WITH d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS t,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS x
      |  FROM orders GROUP BY 1),
      |r AS (SELECT t, x, ROW_NUMBER() OVER (ORDER BY x, t) AS rn FROM d),
      |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
      |m AS (SELECT
      |    MAX(CASE WHEN rn = CAST(FLOOR((n + 1) / 2.0) AS BIGINT)
      |      THEN x END) AS lo,
      |    MAX(CASE WHEN rn = CAST(FLOOR(n / 2.0) AS BIGINT) + 1
      |      THEN x END) AS hi
      |  FROM r, c),
      |s AS (SELECT t, x * 2 > lo + hi AS up
      |  FROM d, m WHERE x * 2 <> lo + hi),
      |l AS (SELECT up, LAG(up) OVER (ORDER BY t) AS prev FROM s),
      |a AS (SELECT
      |    COALESCE(CAST(SUM(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT),
      |      0) AS n1,
      |    COALESCE(CAST(SUM(CASE WHEN NOT up THEN 1 ELSE 0 END)
      |      AS BIGINT), 0) AS n2,
      |    CASE WHEN COUNT(*) > 0
      |      THEN 1 + CAST(SUM(CASE WHEN prev IS NOT NULL AND prev <> up
      |        THEN 1 ELSE 0 END) AS BIGINT)
      |      ELSE 0 END AS r
      |  FROM l)
      |SELECT n1 AS n_above, n2 AS n_below, r AS n_runs,
      |  CASE WHEN n1 > 0 AND n2 > 0 THEN
      |  round((CAST(r AS DOUBLE)
      |      - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |        / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) + 1.0))
      |    / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |      * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |        - (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)))
      |      / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
      |        * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
      |        * ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE)) - 1.0))), 6)
      |  END AS z_score
      |FROM a""".stripMargin

  // ---------------------------------------------------------------------
  // KT1: Kendall τ-b between daily order count and daily revenue —
  // "does a busier day reliably mean a richer day, monotonically?"
  // spr1 answers with rank moments; τ-b answers with pair signs and
  // is what survives any monotone re-scaling of either series. Day
  // pairs are quadratic in DAYS, flat in rows (the ts1 posture).
  // ---------------------------------------------------------------------
  def kt1KendallTau(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.orders(spark, sfDir)
      .groupBy(to_date(col("o_orderdate")).as("t"))
      .agg(count(lit(1)).as("x"),
        (sum(col("o_totalprice").cast("decimal(18,2)")) * 100)
          .cast("long").as("y"))
    StatTests.kendallTauB(daily)
  }

  val kt1KendallTauSql: String =
    """WITH d AS (
      |  SELECT CAST(o_orderdate AS DATE) AS t,
      |    CAST(COUNT(*) AS BIGINT) AS x,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
      |      AS y
      |  FROM orders GROUP BY 1),
      |p AS (SELECT
      |    CAST(SUM(CASE WHEN (a.x < b.x AND a.y < b.y)
      |      OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c,
      |    CAST(SUM(CASE WHEN (a.x < b.x AND a.y > b.y)
      |      OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END) AS BIGINT)
      |      AS dd
      |  FROM d a JOIN d b ON a.t < b.t),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
      |tx AS (SELECT CAST(SUM(CAST(c * (c - 1) / 2 AS BIGINT)) AS BIGINT)
      |    AS tx
      |  FROM (SELECT COUNT(*) AS c FROM d GROUP BY x)),
      |ty AS (SELECT CAST(SUM(CAST(c * (c - 1) / 2 AS BIGINT)) AS BIGINT)
      |    AS ty
      |  FROM (SELECT COUNT(*) AS c FROM d GROUP BY y))
      |SELECT n.n AS n_days, p.c AS concordant, p.dd AS discordant,
      |  round((CAST(p.c AS DOUBLE) - CAST(p.dd AS DOUBLE))
      |    / sqrt((CAST(n.n AS DOUBLE) * (CAST(n.n AS DOUBLE) - 1.0) / 2.0
      |        - CAST(tx.tx AS DOUBLE))
      |      * (CAST(n.n AS DOUBLE) * (CAST(n.n AS DOUBLE) - 1.0) / 2.0
      |        - CAST(ty.ty AS DOUBLE))), 6) AS tau_b
      |FROM p, n, tx, ty""".stripMargin

  // ---------------------------------------------------------------------
  // HQ1: histogram quantile sketch over order totals (integer cents) —
  // the quantile member of the sketch family (hll1 distinct, cms1
  // frequency): 1024 bin counts cross the wire instead of a full range
  // shuffle, at the price of one-bin-width resolution. The exact value
  // at each target rank rides along through the distributed rank
  // primitive, so the error column is itself under the hash compare —
  // the same auditable-error posture as hll1's rel_err and cms1's
  // overestimate.
  // ---------------------------------------------------------------------
  private val HqBins = 1024
  private val HqQs = Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100))

  def hq1HistQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val v = Tables.orders(spark, sfDir)
      .select((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"))
    val est = Sketches.histQuantiles(v, col("cents"), HqBins, HqQs)
    val ranked = Ranks.withGlobalRank(v, "__rn", Seq(col("cents")))
    est.join(ranked, col("__rn") === col("target_rank"))
      .select(col("q_label"), col("n"), col("target_rank"), col("bin"),
        col("est"), col("cents").as("exact"),
        round(col("est") - col("cents").cast("double"), 6).as("err"))
  }

  val hq1HistQuantilesSql: String = {
    val specRows = HqQs.map { case (l, qn, qd) => s"('$l', $qn, $qd)" }
      .mkString(", ")
    s"""WITH v AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |    AS cents
       |  FROM orders),
       |q AS (${Sketches.histQuantilesSql("v", "cents", HqBins, HqQs)}),
       |rk AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn
       |  FROM v)
       |SELECT q.q_label AS q_label, q.n AS n,
       |  q.target_rank AS target_rank, q.bin AS bin, q.est AS est,
       |  rk.cents AS exact,
       |  round(q.est - CAST(rk.cents AS DOUBLE), 6) AS err
       |FROM q JOIN rk ON rk.rn = q.target_rank""".stripMargin
  }

  // ---------------------------------------------------------------------
  // HQ2: the sketch's MERGE path, oracle-checked — the production shape
  // where each ingest day bins against a domain pinned at table creation
  // and registers merge by + across days. Orders split at a date
  // cutover, each half binned over the pinned cents domain, counts
  // summed, and the merged table compared bin-for-bin against a direct
  // whole-corpus binning: n_mismatch MUST be 0 (the chk1 self-checking
  // parity posture). Out-of-domain values clamp to the edge bins, so
  // the domain literal only needs to be sane, not exact.
  // ---------------------------------------------------------------------
  private val HqLo = 0L
  private val HqHi = 60000000L // $600k in cents — clamps cover the rest
  private val HqCut = "1995-01-01"

  def hq2HistMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables.orders(spark, sfDir).select(
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("cents"),
      to_date(col("o_orderdate")).as("d"))
    def slice(cond: org.apache.spark.sql.Column) =
      Sketches.histBinsOver(o.where(cond), col("cents"), HqBins, HqLo, HqHi)
    val merged = slice(col("d") < lit(HqCut))
      .unionByName(slice(col("d") >= lit(HqCut)))
      .groupBy(col("b")).agg(sum(col("cnt")).as("cnt"))
    val whole = Sketches.histBinsOver(o, col("cents"), HqBins, HqLo, HqHi)
      .withColumnRenamed("cnt", "cnt_whole")
    merged.join(whole, Seq("b"), "full")
      .agg(count(lit(1)).as("n_bins"),
        sum(when(coalesce(col("cnt"), lit(0L)) =!=
          coalesce(col("cnt_whole"), lit(0L)), 1L).otherwise(0L))
          .as("n_mismatch"),
        sum(col("cnt")).as("total_cnt"))
  }

  val hq2HistMergeSql: String = {
    def bins(rel: String) =
      Sketches.histBinsOverSql(rel, "cents", HqBins, HqLo, HqHi)
    s"""WITH o AS (
       |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
       |      AS cents,
       |    CAST(o_orderdate AS DATE) AS d
       |  FROM orders),
       |oa AS (SELECT cents FROM o WHERE d < DATE '$HqCut'),
       |ob AS (SELECT cents FROM o WHERE d >= DATE '$HqCut'),
       |m AS (SELECT b, CAST(SUM(cnt) AS BIGINT) AS cnt FROM (
       |    ${bins("oa")} UNION ALL ${bins("ob")}) GROUP BY 1),
       |w AS (SELECT b, cnt AS cnt_whole FROM (${bins("o")}))
       |SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       |  CAST(SUM(CASE WHEN COALESCE(m.cnt, 0) <> COALESCE(w.cnt_whole, 0)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
       |  CAST(SUM(m.cnt) AS BIGINT) AS total_cnt
       |FROM m FULL JOIN w USING (b)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // D14 (round 9): BLOCKED MinHash-LSH near-dup — the text-side analog of
  // dbs2's blocked clustering and the standard production posture for
  // corpus dedup (dedup WITHIN language/domain/shard: blocking caps the
  // candidate join's quadratic term at the block size, and a cross-
  // language boilerplate collision is not a duplicate a pipeline wants to
  // act on anyway). Same planes/bands/verify as d2; candidates must also
  // agree on documents.lang, mirrored exactly by the oracle's
  // IS NOT DISTINCT FROM join (the engine's null-safe <=>).
  // ---------------------------------------------------------------------
  def d14BlockedMinhash(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Dedup.minhashNearDups(
        Tables.documents(spark, sfDir), "doc_id", "text",
        threshold = 0.5, nPerm = 16, bands = 8, shingleN = 2,
        blockCol = Some("lang"))
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))

  val d14BlockedMinhashSql: String = {
    val sh = graft.operators.DedupSql.shingleSet("text", 2)
    val sig = graft.operators.DedupSql.minhashSignature("text", 16, 2)
    val jac = graft.operators.DedupSql.jaccard("x.sh", "y.sh")
    s"""WITH base AS (
       |  SELECT * FROM (SELECT doc_id, lang, $sh AS sh, $sig AS sig
       |                 FROM documents)
       |  WHERE len(sh) > 0),
       |banded AS (
       |  SELECT doc_id, lang, b,
       |    ${graft.operators.DedupSql.bandKey("sig", "b", 2)} AS key
       |  FROM base, range(0, 8) t(b)),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
       |  FROM banded a JOIN banded b2
       |    ON a.b = b2.b AND a.key = b2.key
       |    AND a.lang IS NOT DISTINCT FROM b2.lang
       |    AND a.doc_id < b2.doc_id)
       |SELECT c.id1, c.id2, round($jac, 6) AS jaccard
       |FROM cands c JOIN base x ON x.doc_id = c.id1
       |JOIN base y ON y.doc_id = c.id2
       |WHERE $jac >= 0.5""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("d14_blocked_minhash", d14BlockedMinhash, d14BlockedMinhashSql),
    Query("kw1_kruskal_wallis", kw1KruskalWallis, kw1KruskalWallisSql),
    Query("lb1_ljung_box", lb1LjungBox, lb1LjungBoxSql),
    Query("run1_runs_test", run1RunsTest, run1RunsTestSql),
    Query("kt1_kendall_tau", kt1KendallTau, kt1KendallTauSql),
    Query("hq1_hist_quantiles", hq1HistQuantiles, hq1HistQuantilesSql),
    Query("hq2_hist_merge", hq2HistMerge, hq2HistMergeSql))
}
