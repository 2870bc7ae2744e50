package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, TextHashSql}
import graft.operators.{Eval, KCore, VectorSearch}

/** Round-5 continuation: PR-curve / agreement evals, governance
  * l-diversity, DSIR-style importance reweighting, k-core graph
  * curation, and MP4 container metadata. Same contract as [[Queries]].
  */
object Queries26 {

  // ---------------------------------------------------------------------
  // AP1: average precision (PR-AUC at the ranking's operating points) of
  // "cosine to the anchor predicts same-label" — the precision-oriented
  // complement of auc1's ROC AUC: with class imbalance, AP tracks how
  // early the positives concentrate at the top of the ranking. Rank and
  // cumulative-positive columns come from the distributed prefix sums
  // (operators/Ranks), each precision@k term DECIMAL-quantized — no
  // single-partition window, no order-sensitive double accumulation.
  // ---------------------------------------------------------------------
  def ap1AvgPrecision(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.queryVector(spark, sfDir, 0L)
    val emb = Tables.embeddings(spark, sfDir)
    val anchorLabel = emb.where(col("vec_id") === 0)
      .select(col("label")).head().getInt(0)
    val scored = VectorSearch.scored(emb.where(col("vec_id") > 0), q)
      .where(col("score").isNotNull)
    Eval.averagePrecision(scored,
      round(col("score"), 6), col("vec_id"), col("label") === anchorLabel)
  }

  val ap1AvgPrecisionSql: String = {
    val c = Queries.sqlCosine("v.embedding", "a.q")
    s"""WITH a AS (SELECT embedding AS q, label AS ql FROM embeddings
       |           WHERE vec_id = 0),
       |cand AS (
       |  SELECT v.vec_id, round($c, 6) AS s,
       |    CASE WHEN v.label = a.ql THEN 1 ELSE 0 END AS p
       |  FROM embeddings v, a WHERE v.vec_id > 0 AND $c IS NOT NULL),
       |r AS (
       |  SELECT p,
       |    ROW_NUMBER() OVER (ORDER BY s DESC, vec_id ASC) AS rnk,
       |    SUM(p) OVER (ORDER BY s DESC, vec_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
       |  FROM cand)
       |SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
       |  round(CAST(SUM(CASE WHEN p = 1
       |      THEN CAST(CAST(cp AS DOUBLE) / rnk AS DECIMAL(28,10)) END)
       |    AS DOUBLE) / SUM(p), 6) AS ap
       |FROM r""".stripMargin
  }

  // ---------------------------------------------------------------------
  // MCC1: Matthews correlation of the thresholded similarity classifier
  // (score >= 0.05 predicts same-label) — the single-number agreement
  // summary that stays honest under imbalance where accuracy and F1
  // don't. All four confusion cells are exact long counts from one scan;
  // the only floating step is the final normalization.
  // ---------------------------------------------------------------------
  private val MccThreshold = 0.05

  def mcc1Matthews(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.queryVector(spark, sfDir, 0L)
    val emb = Tables.embeddings(spark, sfDir)
    val anchorLabel = emb.where(col("vec_id") === 0)
      .select(col("label")).head().getInt(0)
    val scored = VectorSearch.scored(emb.where(col("vec_id") > 0), q)
      .where(col("score").isNotNull)
      .select(
        (round(col("score"), 6) >= MccThreshold).as("__pred"),
        (col("label") === anchorLabel).as("__truth"))
    scored.agg(
        sum(when(col("__pred") && col("__truth"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("__pred") && !col("__truth"), 1L).otherwise(0L)).as("fp"),
        sum(when(!col("__pred") && !col("__truth"), 1L).otherwise(0L)).as("tn"),
        sum(when(!col("__pred") && col("__truth"), 1L).otherwise(0L)).as("fn"))
      .select(col("tp"), col("fp"), col("tn"), col("fn"),
        // every cell goes through double BEFORE any product (same order
        // both engines): the 2-way numerator long product would overflow
        // past ~3e9 rows/cell, the 4-way denominator past ~55k
        round((col("tp").cast("double") * col("tn").cast("double")
            - col("fp").cast("double") * col("fn").cast("double"))
          / sqrt((col("tp") + col("fp")).cast("double")
            * (col("tp") + col("fn")).cast("double")
            * (col("tn") + col("fp")).cast("double")
            * (col("tn") + col("fn")).cast("double")),
          6).as("mcc"))
  }

  val mcc1MatthewsSql: String = {
    val c = Queries.sqlCosine("v.embedding", "a.q")
    s"""WITH a AS (SELECT embedding AS q, label AS ql FROM embeddings
       |           WHERE vec_id = 0),
       |cand AS (
       |  SELECT round($c, 6) >= $MccThreshold AS pred,
       |    v.label = a.ql AS truth
       |  FROM embeddings v, a WHERE v.vec_id > 0 AND $c IS NOT NULL),
       |m AS (
       |  SELECT
       |    SUM(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS tp,
       |    SUM(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END) AS fp,
       |    SUM(CASE WHEN NOT pred AND NOT truth THEN 1 ELSE 0 END) AS tn,
       |    SUM(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END) AS fn
       |  FROM cand)
       |SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       |  CAST(tn AS BIGINT) AS tn, CAST(fn AS BIGINT) AS fn,
       |  round((CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
       |      - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
       |    / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
       |      * CAST(tn + fp AS DOUBLE) * CAST(tn + fn AS DOUBLE)), 6) AS mcc
       |FROM m""".stripMargin
  }

  // ---------------------------------------------------------------------
  // LD1: l-diversity audit — the k-anonymity (dp1) follow-on: a group of
  // quasi-identifiers that is large (k-anonymous) but whose SENSITIVE
  // attribute is uniform still leaks it. Per (nation, market segment)
  // group: size, distinct sensitive buckets (account-balance kilobucket),
  // and whether the group meets l = 3. Exact integer counting, one
  // grouped scan — the same single-pass shape as dp1 at 100 TB.
  // ---------------------------------------------------------------------
  private val LDiversity = 3

  def ld1LDiversity(spark: SparkSession, sfDir: String): DataFrame =
    Tables.customer(spark, sfDir)
      .select(col("c_nationkey").cast("int").as("nationkey"),
        col("c_mktsegment").as("mktsegment"),
        floor(col("c_acctbal") / 1000).cast("long").as("__sens"))
      .groupBy(col("nationkey"), col("mktsegment"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("__sens")).as("n_sensitive"))
      .withColumn("l_diverse", col("n_sensitive") >= LDiversity)

  val ld1LDiversitySql: String =
    s"""SELECT CAST(c_nationkey AS INT) AS nationkey,
       |  c_mktsegment AS mktsegment,
       |  CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
       |    AS BIGINT) AS n_sensitive,
       |  COUNT(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
       |    >= $LDiversity AS l_diverse
       |FROM customer GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // DSIR1: data-selection importance reweighting (DSIR, Xie et al. 2023)
  // — score every document by how much more likely its hashed-unigram
  // bag is under the TARGET distribution (here: the English slice) than
  // under the RAW corpus:  w(d) = Σ_b n_b(d) · ln(p_t(b) / p_r(b)) with
  // add-1 smoothing over B = 64 hash buckets. The bucket log-ratio table
  // is B rows — broadcast metadata at any corpus size — so the whole
  // pass is one tokenize scan plus a broadcast join: the canonical
  // "select pretraining data that looks like the target domain" shape
  // at 100 TB. Per-bucket terms are DECIMAL-quantized before the per-doc
  // sum.
  // ---------------------------------------------------------------------
  private val DsirBuckets = 64

  def dsir1Importance(spark: SparkSession, sfDir: String): DataFrame = {
    val B = DsirBuckets
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        explode(TextHash.tokenHashes(col("text"))).as("__h"))
      .withColumn("__b", pmod(col("__h"), lit(B.toLong)))
    val perDoc = toks.groupBy(col("doc_id"), col("lang"), col("__b"))
      .agg(count(lit(1)).as("__n"))
    // bucket tallies: raw corpus + target slice (left join — a bucket
    // never hit by the target keeps ct = 0 and smooths to 1)
    val raw = toks.groupBy(col("__b")).agg(count(lit(1)).as("__cr"))
    val tgt = toks.where(col("lang") === "en")
      .groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    val totals = toks.agg(
      count(lit(1)).as("__tr"),
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("__tt"))
    val ratios = raw.join(tgt, Seq("__b"), "left")
      .na.fill(0L, Seq("__ct"))
      .crossJoin(broadcast(totals))
      .select(col("__b"),
        log(((col("__ct") + lit(1.0)) / (col("__tt") + lit(B.toDouble)))
          / ((col("__cr") + lit(1.0)) / (col("__tr") + lit(B.toDouble))))
          .as("__lr"))
    perDoc.join(broadcast(ratios), Seq("__b"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(sum((col("__n") * col("__lr")).cast("decimal(28,10)")).as("__w"))
      .select(col("doc_id"), col("lang"),
        round(col("__w").cast("double"), 6).as("weight"))
  }

  val dsir1ImportanceSql: String = {
    val B = DsirBuckets
    s"""WITH toks AS (
       |  SELECT doc_id, lang,
       |    unnest(${TextHashSql.tokenHashes("text")}) % $B AS b
       |  FROM documents),
       |per_doc AS (
       |  SELECT doc_id, lang, b, COUNT(*) AS n FROM toks GROUP BY 1, 2, 3),
       |raw AS (SELECT b, COUNT(*) AS cr FROM toks GROUP BY b),
       |tgt AS (SELECT b, COUNT(*) AS ct FROM toks WHERE lang = 'en'
       |        GROUP BY b),
       |tot AS (
       |  SELECT COUNT(*) AS tr,
       |    SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tt
       |  FROM toks),
       |ratios AS (
       |  SELECT raw.b,
       |    ln(((COALESCE(ct, 0) + 1.0) / (tt + $B.0))
       |      / ((cr + 1.0) / (tr + $B.0))) AS lr
       |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot)
       |SELECT doc_id, lang,
       |  round(CAST(SUM(CAST(n * lr AS DECIMAL(28,10))) AS DOUBLE), 6)
       |    AS weight
       |FROM per_doc JOIN ratios ON per_doc.b = ratios.b
       |GROUP BY doc_id, lang""".stripMargin
  }

  // ---------------------------------------------------------------------
  // KC1: k-core of the purchase graph (pr1's symmetrized customer ⇄
  // supplier edges) — iterative peeling until fixpoint, the graph-side
  // curation filter ("drop entities without at least k well-connected
  // trading partners, recursively"). The oracle unrolls the peel as
  // chained CTEs; KcoreUnroll bounds the rounds it needs (asserted
  // converged by KCoreSpec at the fixture scales).
  // ---------------------------------------------------------------------
  private[graft] val KcoreK = 30
  private[graft] val KcoreUnroll = 12

  private[graft] def purchaseEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("c"),
        (col("l_suppkey").cast("long") * 2 + 1).as("s"))
      .distinct()
    pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
  }

  /** maxIters = KcoreUnroll + 1 with strict: the engine must OBSERVE a
    * no-change round within unroll+1 iterations, which proves the fixpoint
    * is reached within KcoreUnroll peels — exactly what the oracle's CTE
    * chain computes. A fixture needing a 13th peel throws here instead of
    * hash-mismatching at verify time. */
  def kc1Kcore(spark: SparkSession, sfDir: String): DataFrame =
    KCore.core(purchaseEdges(spark, sfDir), KcoreK,
        maxIters = KcoreUnroll + 1, strict = true)
      .select(col("node"), col("core_degree"))

  val kc1KcoreSql: String = {
    // every a_k is referenced TWICE by a_{k+1}: without MATERIALIZED,
    // CTE inlining would expand the chain to 2^KcoreUnroll base scans
    // (observed as fd exhaustion on the parquet file)
    def round(k: Int): String =
      s"""a$k AS MATERIALIZED (
         |  SELECT src AS node FROM e
         |  JOIN a${k - 1} s ON e.src = s.node
         |  JOIN a${k - 1} t ON e.dst = t.node
         |  GROUP BY src HAVING COUNT(*) >= $KcoreK)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT DISTINCT CAST(o_custkey AS BIGINT)*2 AS c,
       |    CAST(l_suppkey AS BIGINT)*2 + 1 AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS MATERIALIZED (SELECT c AS src, s AS dst FROM pairs
       |      UNION ALL SELECT s, c FROM pairs),
       |a0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM e),
       |${(1 to KcoreUnroll).map(round).mkString(",\n")}
       |SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
       |FROM e
       |JOIN a$KcoreUnroll s ON e.src = s.node
       |JOIN a$KcoreUnroll t ON e.dst = t.node
       |GROUP BY src""".stripMargin
  }

  // ---------------------------------------------------------------------
  // M7: MP4 container metadata — a real ISO BMFF box walk (big-endian
  // length-prefixed framing, ftyp brand + moov/mvhd timescale/duration)
  // over deterministic real-MP4 payloads, the same honest-fixture
  // pattern as m5 (PNG) and m6 (WAV). Container metadata is the slice a
  // video-curation pass runs at 100 TB (dedup by duration/brand, decode
  // budgeting) — no codec required; sample decode stays stubbed.
  // ---------------------------------------------------------------------
  def m7Mp4Meta(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Multimodal.parseMp4(
      graft.operators.Multimodal.mp4Table(
        Tables.documents(spark, sfDir))).toDF()

  val m7Mp4MetaSql: String =
    """SELECT doc_id AS media_id,
      |  (['isom','mp41','mp42','avc1'])[CAST(doc_id % 4 AS INT) + 1]
      |    AS brand,
      |  CAST(doc_id % 8 AS INT) AS minor_version,
      |  CAST(600 * (1 + doc_id % 3) AS INT) AS timescale,
      |  CAST(1000 + (doc_id * 37) % 9000 AS BIGINT) AS duration_ticks,
      |  (CAST(1000 + (doc_id * 37) % 9000 AS BIGINT) * 1000)
      |    // (600 * (1 + doc_id % 3)) AS duration_ms,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS INT)
      |    AS n_top_boxes
      |FROM documents""".stripMargin

  val all: Seq[Query] = Seq(
    Query("ap1_avg_precision", ap1AvgPrecision, ap1AvgPrecisionSql),
    Query("mcc1_matthews", mcc1Matthews, mcc1MatthewsSql),
    Query("ld1_l_diversity", ld1LDiversity, ld1LDiversitySql),
    Query("dsir1_importance", dsir1Importance, dsir1ImportanceSql),
    Query("kc1_kcore", kc1Kcore, kc1KcoreSql),
    Query("m7_mp4_meta", m7Mp4Meta, m7Mp4MetaSql))
}
