package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextHashSql

/** Round-3 continuation: marketing attribution and sparse-vector
  * similarity. Same contract as [[Queries]].
  */
object Queries20 {

  // ---------------------------------------------------------------------
  // AT1: linear multi-touch attribution — each purchase's value is split
  // equally across the user's touches in the trailing 24 h (none →
  // 'direct'). Per-touch credits are DECIMAL-quantized before summing so
  // per-channel revenue is accumulation-order-proof. One keyed interval
  // join (user + time bound) and one purchase-keyed window count — the
  // e7 first-touch model generalized to fractional credit.
  // ---------------------------------------------------------------------
  def at1LinearAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .withColumn("__sec", col("ts").cast("long"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("__pid"),
        col("__sec").as("__pts"), col("value"))
    val touches = ev.where(col("event_type") =!= "purchase")
      .select(col("user_id").as("__tuid"), col("__sec").as("__tts"),
        col("event_type").as("__touch"))
    // time bound in the JOIN condition, not a post-filter: a purchase
    // with touches only OUTSIDE the window must still null-extend into
    // its 'direct' row
    val joined = purchases.join(touches,
      col("user_id") === col("__tuid") &&
        col("__tts") >= col("__pts") - 86400L && col("__tts") < col("__pts"),
      "left")
    val perPurchase = Window.partitionBy(col("__pid"))
    joined
      .withColumn("__n", count(lit(1)).over(perPurchase))
      .withColumn("channel", coalesce(col("__touch"), lit("direct")))
      .withColumn("__credit",
        (col("value") / col("__n")).cast("decimal(28,10)"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_credits"),
        round(sum(col("__credit")).cast("double"), 6).as("attributed_value"))
  }

  val at1LinearAttributionSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type, value,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |p AS (SELECT user_id, event_id AS pid, sec AS pts, value
      |      FROM ev WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, sec AS tts, event_type AS touch
      |      FROM ev WHERE event_type <> 'purchase'),
      |j AS (
      |  SELECT p.pid, p.value, t.touch FROM p LEFT JOIN t
      |    ON p.user_id = t.user_id
      |   AND t.tts >= p.pts - 86400 AND t.tts < p.pts),
      |c AS (
      |  SELECT COALESCE(touch, 'direct') AS channel,
      |    CAST(value / (COUNT(*) OVER (PARTITION BY pid))
      |      AS DECIMAL(28,10)) AS credit
      |  FROM j)
      |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_credits,
      |  round(CAST(SUM(credit) AS DOUBLE), 6) AS attributed_value
      |FROM c GROUP BY channel""".stripMargin

  // ---------------------------------------------------------------------
  // SP1: sparse TF-IDF cosine pair join — document similarity over the
  // weighted term vectors (t7's smooth-idf weighting) via the inverted
  // index: only pairs sharing a term are enumerated, dot products
  // accumulate DECIMAL-quantized term-weight products, norms come from a
  // per-doc DECIMAL pass. The sparse-vector complement to the dense
  // cosine join (d5) and set Jaccard (d4) — cost ∝ posting co-occurrence,
  // never N².
  // ---------------------------------------------------------------------
  def sp1SparseCosinePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 500)
    graft.operators.SparseSim.cosinePairsBruteIndexed(
      graft.operators.SparseSim.cachedIndex(
        s"$sfDir#documents_lt500", docs, "doc_id", "text"), 0.9)
  }

  val sp1SparseCosinePairsSql: String = {
    val tk = TextHashSql.tokens("text")
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 500),
       |toks AS (SELECT doc_id, unnest($tk) AS tok FROM d),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
       |n AS (SELECT COUNT(*) AS n_docs FROM d),
       |w AS (
       |  SELECT doc_id, tok,
       |    CAST(cnt AS DOUBLE) * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS w
       |  FROM (SELECT doc_id, tok, cnt,
       |          COUNT(*) OVER (PARTITION BY tok) AS df FROM tf), n),
       |norms AS (
       |  SELECT doc_id,
       |    sqrt(CAST(SUM(CAST(w * w AS DECIMAL(28,10))) AS DOUBLE)) AS norm
       |  FROM w GROUP BY doc_id),
       |dots AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2,
       |    CAST(SUM(CAST(a.w * b.w AS DECIMAL(28,10))) AS DOUBLE) AS dot
       |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT id1, id2, cosine FROM (
       |  SELECT id1, id2,
       |    round(dot / (n1.norm * n2.norm), 6) AS cosine
       |  FROM dots
       |  JOIN norms n1 ON n1.doc_id = id1
       |  JOIN norms n2 ON n2.doc_id = id2)
       |WHERE cosine >= 0.9""".stripMargin
  }

  // ---------------------------------------------------------------------
  // SP2: the PRODUCTION sparse-cosine path — threshold-aware prefix
  // filtering (operators/SparseSim.cosinePairsPrefix), UNBLOCKED over the
  // whole documents table. Returns exactly sp1's rows on sp1's corpus
  // (the oracle below is the brute posting join without the block — the
  // prefix filter is provably a superset generator + exact verify), but
  // never joins on a stop-word posting: candidates track near-dup
  // density, not vocabulary skew. This is the form that runs at 100 TB;
  // sp1 stays as the blocked validation baseline (the d4→d9 / d5→d10
  // pattern).
  // ---------------------------------------------------------------------
  def sp2SparseCosinePrefix(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.SparseSim.cosinePairsPrefixOverDocs(
      Tables.documents(spark, sfDir), "doc_id", "text", 0.9,
      cacheKey = Some(s"$sfDir#documents_full"))

  val sp2SparseCosinePrefixSql: String = {
    val tk = TextHashSql.tokens("text")
    s"""WITH d AS (SELECT doc_id, text FROM documents),
       |toks AS (SELECT doc_id, unnest($tk) AS tok FROM d),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
       |n AS (SELECT COUNT(*) AS n_docs FROM d),
       |w AS (
       |  SELECT doc_id, tok,
       |    CAST(cnt AS DOUBLE) * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS w
       |  FROM (SELECT doc_id, tok, cnt,
       |          COUNT(*) OVER (PARTITION BY tok) AS df FROM tf), n),
       |norms AS (
       |  SELECT doc_id,
       |    sqrt(CAST(SUM(CAST(w * w AS DECIMAL(28,10))) AS DOUBLE)) AS norm
       |  FROM w GROUP BY doc_id),
       |dots AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2,
       |    CAST(SUM(CAST(a.w * b.w AS DECIMAL(28,10))) AS DOUBLE) AS dot
       |  FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id)
       |SELECT id1, id2, cosine FROM (
       |  SELECT id1, id2,
       |    round(dot / (n1.norm * n2.norm), 6) AS cosine
       |  FROM dots
       |  JOIN norms n1 ON n1.doc_id = id1
       |  JOIN norms n2 ON n2.doc_id = id2)
       |WHERE cosine >= 0.9""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("at1_linear_attribution", at1LinearAttribution, at1LinearAttributionSql),
    Query("sp1_sparse_cosine", sp1SparseCosinePairs, sp1SparseCosinePairsSql),
    Query("sp2_sparse_prefix", sp2SparseCosinePrefix, sp2SparseCosinePrefixSql))
}
