package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, TextHashSql}
import graft.operators.{Dedup, DedupSql, Ranks}

/** Round-5 continuation: corpus-statistics fit and pairwise n-gram
  * overlap eval. Same contract as [[Queries]].
  */
object Queries27 {

  // ---------------------------------------------------------------------
  // ZIPF1: Zipf-law fit of the corpus bigram distribution — OLS slope/
  // intercept of ln(freq) on ln(rank) over the word-bigram frequency
  // table (the corpus-health diagnostic: natural text sits near slope
  // -1; a flat or cliffed fit flags synthetic/templated corpora). Ranks
  // come from the distributed prefix-sum primitive under the (freq desc,
  // bigram asc) total order — no single-partition window — and every OLS
  // moment is DECIMAL-quantized per point before summing, so the five
  // sums are exact and the final closed-form arithmetic is one
  // deterministic double expression on both engines.
  // ---------------------------------------------------------------------
  def zipf1BigramZipf(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT pinned (round-14 A/B): persisting the explode+count subtree
    // across the range partitioner's two passes cost more than the
    // second evaluation (zipf1 2.98 s unpinned vs 3.36 s pinned) — the
    // bigram hashing is cheap native compute
    val tf = Tables.documents(spark, sfDir)
      .select(explode(TextHash.shingles(col("text"), 2)).as("__bg"))
      .groupBy(col("__bg")).agg(count(lit(1)).as("__n"))
      .withColumn("__one", lit(1L))
    val ranked = Ranks.withRunningSums(tf, Seq("__one" -> "__rank"),
      Seq(col("__n").desc, col("__bg").asc))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(28,10)")
    val x = log(col("__rank"))
    val y = log(col("__n"))
    val sums = ranked.agg(
      count(lit(1)).as("__v"),
      sum(dec(x)).as("__sx"), sum(dec(y)).as("__sy"),
      sum(dec(x * y)).as("__sxy"), sum(dec(x * x)).as("__sxx"))
    sums
      .select(col("__v"),
        col("__sx").cast("double").as("__sxd"),
        col("__sy").cast("double").as("__syd"),
        ((col("__v") * col("__sxy").cast("double")
          - col("__sx").cast("double") * col("__sy").cast("double"))
          / (col("__v") * col("__sxx").cast("double")
            - col("__sx").cast("double") * col("__sx").cast("double")))
          .as("__slope"))
      .select(col("__v").as("n_types"),
        round(col("__slope"), 6).as("zipf_slope"),
        round((col("__syd") - col("__slope") * col("__sxd")) / col("__v"), 6)
          .as("zipf_intercept"))
  }

  val zipf1BigramZipfSql: String =
    s"""WITH tf AS (
       |  SELECT bg, COUNT(*) AS n FROM (
       |    SELECT unnest(${TextHashSql.shingles("text", 2)}) AS bg
       |    FROM documents)
       |  GROUP BY bg),
       |r AS (
       |  SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, bg ASC) AS rnk
       |  FROM tf),
       |s AS (
       |  SELECT COUNT(*) AS v,
       |    SUM(CAST(ln(rnk) AS DECIMAL(28,10))) AS sx,
       |    SUM(CAST(ln(n) AS DECIMAL(28,10))) AS sy,
       |    SUM(CAST(ln(rnk) * ln(n) AS DECIMAL(28,10))) AS sxy,
       |    SUM(CAST(ln(rnk) * ln(rnk) AS DECIMAL(28,10))) AS sxx
       |  FROM r),
       |t AS (
       |  SELECT v, CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
       |    (v * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / (v * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
       |  FROM s)
       |SELECT CAST(v AS BIGINT) AS n_types,
       |  round(slope, 6) AS zipf_slope,
       |  round((syd - slope * sxd) / v, 6) AS zipf_intercept
       |FROM t""".stripMargin

  // ---------------------------------------------------------------------
  // RG1: ROUGE-style distinct-bigram overlap eval over the SimHash
  // near-dup pairs (d3's hamming <= 3 candidates) — precision (shared /
  // candidate types), recall (shared / reference types), F1 per pair:
  // the summarization-eval primitive repurposed as a near-dup QA check
  // (LSH said "near"; n-gram F1 quantifies HOW near). The intersection
  // is a (doc, bigram)-keyed equi-join — pair lists never collected,
  // everything keyed shuffles, the 100 TB shape.
  // ---------------------------------------------------------------------
  def rg1NgramF1(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // NOT pinned (round-14 A/B): checkpointing the shared pairs/shingle
    // subtrees cost MORE than their re-computation — the native hashing
    // is cheap and the eager materialization serializes the plan
    // (rg1 3.13 s unpinned vs 3.67 s pinned, same-session canaries)
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxDist = 3)
      .select(col("id1"), col("id2"))
    val sh = docs.select(col("doc_id"),
      explode(array_distinct(TextHash.shingles(col("text"), 2))).as("__sh"))
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("__cnt"))
    val inter = pairs
      .join(sh.select(col("doc_id").as("id1"), col("__sh")), Seq("id1"))
      .join(sh.select(col("doc_id").as("id2"), col("__sh")), Seq("id2", "__sh"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("__common"))
    val p = col("__common").cast("double") / col("__c2")
    val r = col("__common").cast("double") / col("__c1")
    pairs
      .join(inter, Seq("id1", "id2"), "left").na.fill(0L, Seq("__common"))
      .join(counts.select(col("doc_id").as("id1"), col("__cnt").as("__c1")), Seq("id1"))
      .join(counts.select(col("doc_id").as("id2"), col("__cnt").as("__c2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        col("__c1").as("n1"), col("__c2").as("n2"),
        col("__common").as("n_common"),
        round(p, 6).as("p_overlap"),
        round(r, 6).as("r_overlap"),
        round(when(col("__common") === 0, 0.0)
          .otherwise(lit(2.0) * p * r / (p + r)), 6).as("f1"))
  }

  val rg1NgramF1Sql: String = {
    val sim = DedupSql.simhash("text")
    s"""WITH sh AS (
       |  SELECT doc_id, $sim AS simhash,
       |    list_distinct(${TextHashSql.shingles("text", 2)}) AS grams
       |  FROM documents
       |  WHERE len(${TextHashSql.shingles("text", 2)}) > 0),
       |pairs AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2,
       |    len(a.grams) AS n1, len(b.grams) AS n2,
       |    len(list_intersect(a.grams, b.grams)) AS n_common
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE ${DedupSql.hamming("a.simhash", "b.simhash")} <= 3)
       |SELECT id1, id2, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       |  CAST(n_common AS BIGINT) AS n_common,
       |  round(CAST(n_common AS DOUBLE) / n2, 6) AS p_overlap,
       |  round(CAST(n_common AS DOUBLE) / n1, 6) AS r_overlap,
       |  round(CASE WHEN n_common = 0 THEN 0.0
       |    ELSE 2.0 * (CAST(n_common AS DOUBLE) / n2)
       |      * (CAST(n_common AS DOUBLE) / n1)
       |      / ((CAST(n_common AS DOUBLE) / n2)
       |        + (CAST(n_common AS DOUBLE) / n1)) END, 6) AS f1
       |FROM pairs""".stripMargin
  }

  // ---------------------------------------------------------------------
  // DP2: differentially-private count release (Laplace mechanism,
  // sensitivity 1, epsilon 1) — per-source document counts with additive
  // Laplace(1/eps) noise drawn by inverse-CDF from a DETERMINISTIC
  // per-group uniform (rolling-hash of the group key mapped into (0,1)).
  // A production release would draw real randomness; the seeded form is
  // the same dataflow (one grouped count + map-side noise arithmetic —
  // single-scan at any scale) made oracle-checkable, the same stance as
  // the engine's seeded samplers (smp1-3). True counts ride along for
  // the fixture's sake; a real release would project them out.
  // ---------------------------------------------------------------------
  def dp2DpRelease(spark: SparkSession, sfDir: String): DataFrame = {
    val u = (TextHash.rollingHash(col("source")).cast("double") + lit(0.5))
      .divide(lit(TextHash.Mod.toDouble))
    val noise = -signum(u - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    Tables.documents(spark, sfDir)
      .groupBy(col("source")).agg(count(lit(1)).as("n"))
      .select(col("source"), col("n"),
        round((col("n").cast("double") + noise), 6).as("n_released"))
  }

  val dp2DpReleaseSql: String = {
    val h = TextHashSql.rollingHash("source")
    val u = s"((CAST($h AS DOUBLE) + 0.5) / ${TextHash.Mod}.0)"
    s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       |  round(CAST(COUNT(*) AS DOUBLE)
       |    + (-sign($u - 0.5) * ln(1.0 - 2.0 * abs($u - 0.5))), 6)
       |    AS n_released
       |FROM documents GROUP BY source""".stripMargin
  }

  // ---------------------------------------------------------------------
  // E16: late-data accounting replay — the event_id % 7 = 0 slice is
  // delivered in a final micro-batch after the watermark has passed every
  // real window. The streaming contract requires ALL of it dropped
  // (closed windows never reopen, no duplicate emissions), so the sink
  // must equal the batch aggregation over the on-time slice alone — which
  // is exactly what the oracle states. e13 proves redelivery WITHIN the
  // watermark horizon dedups; this proves arrival BEYOND it excludes.
  // ---------------------------------------------------------------------
  def e16StreamLate(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayLateWindowed(Tables.events(spark, sfDir))
      .select(
        date_format(col("window_start"), Queries.tsFmtSpark).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  val e16StreamLateSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
      |    AS window_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events WHERE event_id % 7 <> 0 GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // CP1: split-conformal coverage — calibrate a nonconformity threshold
  // (the ceil((n+1)·0.9)-th smallest -score among calibration positives,
  // an EXACT order statistic via the distributed rank primitive) on the
  // vec_id % 5 = 1 slice, then measure empirical coverage of the true
  // positives and the admitted fraction on the disjoint % 5 = 2 slice.
  // The distribution-free eval wrapper (Vovk et al.; split-conformal
  // form) for any scored retrieval/filter stage. Both 1-row planning
  // values (n_cal, threshold) ride broadcasts — nothing data-sized
  // leaves the executors.
  // ---------------------------------------------------------------------
  def cp1Conformal(spark: SparkSession, sfDir: String): DataFrame = {
    val qv = Tables.queryVector(spark, sfDir, 0L)
    val emb = Tables.embeddings(spark, sfDir)
    val anchorLabel = emb.where(col("vec_id") === 0)
      .select(col("label")).head().getInt(0)
    val sc = graft.operators.VectorSearch.scored(emb.where(col("vec_id") > 0), qv)
      .where(col("score").isNotNull)
      .select(col("vec_id"), round(col("score"), 6).as("__s"),
        (col("label") === anchorLabel).as("__pos"))
    val cal = sc.where(pmod(col("vec_id"), lit(5)) === 1 && col("__pos"))
      .select((-col("__s")).as("__nc"), col("vec_id"))
      .withColumn("__one", lit(1L))
    val nCal = cal.agg(count(lit(1)).as("__n_cal"))
    val ranked = Ranks.withRunningSums(cal, Seq("__one" -> "__rank"),
      Seq(col("__nc").asc, col("vec_id").asc))
    val qRow = ranked.crossJoin(broadcast(nCal))
      .where(col("__rank") === least(
        ceil((col("__n_cal") + lit(1L)).cast("double") * lit(0.9)).cast("long"),
        col("__n_cal")))
      .select(col("__nc").as("__q"), col("__n_cal"))
    sc.where(pmod(col("vec_id"), lit(5)) === 2)
      .crossJoin(broadcast(qRow))
      .agg(
        first(col("__n_cal")).as("n_cal"),
        round(first(col("__q")), 6).as("q_threshold"),
        count(lit(1)).as("n_test"),
        sum(when(col("__pos"), 1L).otherwise(0L)).as("n_pos_test"),
        sum(when(col("__pos") && -col("__s") <= col("__q"), 1L).otherwise(0L))
          .as("n_covered"))
      .select(col("n_cal"), col("q_threshold"), col("n_test"),
        col("n_pos_test"), col("n_covered"),
        round(col("n_covered").cast("double") / col("n_pos_test"), 6)
          .as("coverage"))
  }

  val cp1ConformalSql: String = {
    val c = Queries.sqlCosine("v.embedding", "a.q")
    s"""WITH a AS (SELECT embedding AS q, label AS ql FROM embeddings
       |           WHERE vec_id = 0),
       |sc AS (
       |  SELECT v.vec_id, round($c, 6) AS s,
       |    v.label = a.ql AS pos
       |  FROM embeddings v, a WHERE v.vec_id > 0 AND $c IS NOT NULL),
       |cal AS (SELECT -s AS nc, vec_id FROM sc WHERE vec_id % 5 = 1 AND pos),
       |n AS (SELECT COUNT(*) AS n_cal FROM cal),
       |r AS (SELECT nc,
       |        ROW_NUMBER() OVER (ORDER BY nc ASC, vec_id ASC) AS rk
       |      FROM cal),
       |qv AS (
       |  SELECT nc AS q FROM r, n
       |  WHERE rk = LEAST(CAST(ceil((n_cal + 1) * 0.9) AS BIGINT), n_cal))
       |SELECT (SELECT n_cal FROM n) AS n_cal,
       |  round((SELECT q FROM qv), 6) AS q_threshold,
       |  CAST(COUNT(*) AS BIGINT) AS n_test,
       |  CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_test,
       |  CAST(SUM(CASE WHEN pos AND -s <= (SELECT q FROM qv)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered,
       |  round(CAST(SUM(CASE WHEN pos AND -s <= (SELECT q FROM qv)
       |      THEN 1 ELSE 0 END) AS DOUBLE)
       |    / SUM(CASE WHEN pos THEN 1 ELSE 0 END), 6) AS coverage
       |FROM sc WHERE vec_id % 5 = 2""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("zipf1_bigram_zipf", zipf1BigramZipf, zipf1BigramZipfSql),
    Query("rg1_ngram_f1", rg1NgramF1, rg1NgramF1Sql),
    Query("dp2_dp_release", dp2DpRelease, dp2DpReleaseSql),
    Query("e16_stream_late", e16StreamLate, e16StreamLateSql, lane = true),
    Query("cp1_conformal", cp1Conformal, cp1ConformalSql))
}
