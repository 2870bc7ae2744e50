package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, TextHashSql}
import graft.operators.{Drift, Eval, VectorSearch}

/** Round-3 continuation: corpus monitoring and evaluation — drift
  * statistics between ingestion batches, exact ranking AUC, blocked
  * fuzzy-matching, CDC log application, embedding dimension selection,
  * phrase search, and passage-level (span) duplication. Same contract as
  * [[Queries]]: each Spark dataflow paired with DuckDB SQL computing the
  * identical result.
  */
object Queries9 {

  // ---------------------------------------------------------------------
  // KS1: two-sample Kolmogorov–Smirnov drift between the value
  // distributions of two event populations — the batch-over-batch
  // distribution monitor. ECDFs are ratios of exact longs over the
  // distinct-value table, so both engines compare identical doubles.
  // ---------------------------------------------------------------------
  def ks1KsDrift(spark: SparkSession, sfDir: String): DataFrame =
    Drift.ksStatistic(
      Tables.events(spark, sfDir)
        .where(col("event_type").isin("click", "view")),
      col("value"), col("event_type") === "click")

  val ks1KsDriftSql: String =
    """WITH g AS (
      |  SELECT value AS v,
      |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
      |    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS cb
      |  FROM events WHERE event_type IN ('click', 'view') GROUP BY value),
      |c AS (
      |  SELECT
      |    SUM(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |                  AND CURRENT ROW) AS cca,
      |    SUM(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
      |                  AND CURRENT ROW) AS ccb
      |  FROM g),
      |t AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
      |             CAST(SUM(cb) AS BIGINT) AS nb FROM g)
      |SELECT na AS n_a, nb AS n_b,
      |  round(MAX(abs(CAST(cca AS DOUBLE) / na
      |              - CAST(ccb AS DOUBLE) / nb)), 6) AS ks
      |FROM c, t GROUP BY na, nb""".stripMargin

  // ---------------------------------------------------------------------
  // PSI1: population stability index between the first and second half of
  // the month over 10 fixed-width value bins — the binned drift monitor
  // (fixed grid, so the result is independent of partitioning and data
  // order). Per-bin terms; the PSI total is the sum of the rows.
  // ---------------------------------------------------------------------
  def psi1PsiDrift(spark: SparkSession, sfDir: String): DataFrame =
    Drift.psi(
      Tables.events(spark, sfDir),
      col("value"), dayofmonth(col("ts")) <= 15,
      width = 50.0, nBins = 10)

  val psi1PsiDriftSql: String =
    """WITH g AS (
      |  SELECT CAST(greatest(0.0, least(floor(value / 50.0), 9.0)) AS BIGINT) AS bin,
      |    SUM(CASE WHEN day(ts) <= 15 THEN 1 ELSE 0 END) AS na,
      |    SUM(CASE WHEN day(ts) <= 15 THEN 0 ELSE 1 END) AS nb
      |  FROM events GROUP BY 1),
      |t AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM g)
      |SELECT bin, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
      |  round((CAST(na AS DOUBLE) / ta - CAST(nb AS DOUBLE) / tb)
      |    * ln((CAST(na AS DOUBLE) / ta) / (CAST(nb AS DOUBLE) / tb)), 6)
      |    AS psi_term
      |FROM g, t WHERE na > 0 AND nb > 0""".stripMargin

  // ---------------------------------------------------------------------
  // AUC1: does cosine similarity to an anchor vector predict same-label?
  // Exact ROC AUC by tied-rank Mann–Whitney over round-6 scores —
  // integer arithmetic until the single final division, so the oracle
  // compares one exact rational. The retrieval-quality eval for the
  // engine's own similarity scores.
  // ---------------------------------------------------------------------
  def auc1SimAuc(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.queryVector(spark, sfDir, 0L)
    // anchor label: 1-value metadata lookup, same pattern as queryVector
    val emb = Tables.embeddings(spark, sfDir)
    val anchorLabel = emb.where(col("vec_id") === 0)
      .select(col("label")).head().getInt(0)
    val scored = VectorSearch.scored(emb.where(col("vec_id") > 0), q)
      .where(col("score").isNotNull)
    Eval.aucRankSum(scored,
      round(col("score"), 6), col("label") === anchorLabel)
  }

  val auc1SimAucSql: String = {
    val c = Queries.sqlCosine("v.embedding", "a.q")
    s"""WITH a AS (SELECT embedding AS q, label AS ql FROM embeddings
       |           WHERE vec_id = 0),
       |cand AS (
       |  SELECT round($c, 6) AS s,
       |    CASE WHEN v.label = a.ql THEN 1 ELSE 0 END AS p
       |  FROM embeddings v, a WHERE v.vec_id > 0 AND $c IS NOT NULL),
       |g AS (SELECT s, COUNT(*) AS c, SUM(p) AS cp FROM cand GROUP BY s),
       |w AS (
       |  SELECT c, cp,
       |    SUM(c) OVER (ORDER BY s ASC ROWS BETWEEN UNBOUNDED PRECEDING
       |                 AND CURRENT ROW) - c AS base
       |  FROM g)
       |SELECT CAST(p AS BIGINT) AS n_pos, CAST(n AS BIGINT) AS n_neg,
       |  round(CAST(s2 - p * (p + 1) AS DOUBLE) / (2.0 * p * n), 6) AS auc
       |FROM (SELECT SUM(cp) AS p, SUM(c - cp) AS n,
       |             SUM(cp * (2 * base + c + 1)) AS s2 FROM w)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // ED1: blocked edit-distance self-join — fuzzy matching with an
  // explicit blocking key (first token), so candidate pairs are
  // per-block, never all-pairs: the record-linkage shape. The 24-char
  // prefix bounds the Levenshtein DP cost per pair. At 100 TB the block
  // key is the shuffle key; a hot block (stopword first token) would get
  // a second blocking component (length bucket), same plan.
  // ---------------------------------------------------------------------
  def ed1EditDistJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .where(col("lang") === "en")
      .select(col("doc_id"),
        substring(col("text"), 1, 24).as("p"),
        element_at(TextHash.tokens(col("text")), 1).as("b"))
    val left = d.select(col("doc_id").as("id1"), col("p").as("p1"), col("b"))
    val right = d.select(col("doc_id").as("id2"), col("p").as("p2"), col("b"))
    left.join(right, "b")
      .where(col("id1") < col("id2"))
      .withColumn("dist", levenshtein(col("p1"), col("p2")).cast("long"))
      .where(col("dist") <= 10)
      .select(col("id1"), col("id2"), col("dist"))
  }

  val ed1EditDistJoinSql: String = {
    val tk = TextHashSql.tokens("text")
    s"""WITH d AS (
       |  SELECT doc_id, substr(text, 1, 24) AS p, ($tk)[1] AS b
       |  FROM documents WHERE lang = 'en')
       |SELECT a.doc_id AS id1, c.doc_id AS id2,
       |  CAST(levenshtein(a.p, c.p) AS BIGINT) AS dist
       |FROM d a JOIN d c ON a.b = c.b AND a.doc_id < c.doc_id
       |WHERE levenshtein(a.p, c.p) <= 10""".stripMargin
  }

  // ---------------------------------------------------------------------
  // CDC1: change-log application — an op-coded event log (insert /
  // update / delete derived deterministically from event_type) folded to
  // the final snapshot: last op per key wins, a trailing delete removes
  // the key. The general form of v9's LWW upsert (which has no deletes).
  // One keyed window; at scale this shuffles once on the key.
  // ---------------------------------------------------------------------
  def cdc1Apply(spark: SparkSession, sfDir: String): DataFrame = {
    val ops = Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"),
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "purchase", "D")
          .otherwise("U").as("op"))
    val last = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    ops
      .withColumn("__rn", row_number().over(last))
      .withColumn("n_changes",
        count(lit(1)).over(Window.partitionBy(col("user_id"))))
      .where(col("__rn") === 1 && col("op") =!= "D")
      .select(col("user_id"), col("op").as("last_op"),
        round(col("value"), 6).as("value"), col("n_changes"))
  }

  val cdc1ApplySql: String =
    """WITH ops AS (
      |  SELECT user_id, ts, event_id, value,
      |    CASE event_type WHEN 'signup' THEN 'I'
      |                    WHEN 'purchase' THEN 'D'
      |                    ELSE 'U' END AS op
      |  FROM events),
      |r AS (
      |  SELECT user_id, op, value,
      |    ROW_NUMBER() OVER (PARTITION BY user_id
      |                       ORDER BY ts DESC, event_id DESC) AS rn,
      |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_changes
      |  FROM ops)
      |SELECT user_id, op AS last_op, round(value, 6) AS value, n_changes
      |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin

  // ---------------------------------------------------------------------
  // PCA1: per-dimension moments of the embedding matrix and top-variance
  // dimension selection — the cheap PCA stand-in for dimensionality
  // reduction (keep the 8 highest-variance axes). One explode + one keyed
  // aggregation in DECIMAL, so the 64 variances are partitioning-order-
  // proof; the selection window runs over 64 rows.
  // ---------------------------------------------------------------------
  private val EmbDims = 64

  def pca1DimVariance(spark: SparkSession, sfDir: String): DataFrame = {
    val x = Tables.embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("dim", "__x")))
      .select(col("dim").cast("long").as("dim"),
        col("__x").cast("double").as("__x"))
    val m = x.groupBy(col("dim")).agg(
      count(lit(1)).as("__n"),
      sum(col("__x").cast("decimal(28,10)")).cast("double").as("__s"),
      sum((col("__x") * col("__x")).cast("decimal(28,8)")).cast("double")
        .as("__ss"))
    val mean = col("__s") / col("__n")
    val v = m.select(col("dim"), round(mean, 6).as("mean"),
      round(col("__ss") / col("__n") - mean * mean, 6).as("variance"))
    val sel = Window.orderBy(col("variance").desc, col("dim").asc)
    v.withColumn("selected", row_number().over(sel) <= 8)
  }

  val pca1DimVarianceSql: String =
    s"""WITH x AS (
       |  SELECT CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(e.embedding[i] AS DOUBLE) AS x
       |  FROM embeddings e, range(1, ${EmbDims + 1}) t(i)),
       |m AS (
       |  SELECT dim, COUNT(*) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) AS s,
       |    CAST(SUM(CAST(x * x AS DECIMAL(28,8))) AS DOUBLE) AS ss
       |  FROM x GROUP BY dim),
       |v AS (
       |  SELECT dim, round(s / n, 6) AS mean,
       |    round(ss / n - (s / n) * (s / n), 6) AS variance
       |  FROM m)
       |SELECT dim, mean, variance,
       |  ROW_NUMBER() OVER (ORDER BY variance DESC, dim ASC) <= 8 AS selected
       |FROM v""".stripMargin

  // ---------------------------------------------------------------------
  // PHR1: exact phrase match — docs containing the two-token phrase as
  // adjacent tokens, with occurrence counts. Map-side pair explode +
  // pushed-down equality; complements t12's BM25 bag-of-words ranking
  // with the positional predicate an indexed search engine would serve.
  // ---------------------------------------------------------------------
  private val Phrase = "data sort"

  def phr1PhraseMatch(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("__toks", TextHash.tokens(col("text")))
      .where(size(col("__toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(__toks) - 1), " +
          "i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1)))"))
        .as("pair"))
      .where(col("pair") === Phrase)
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))

  val phr1PhraseMatchSql: String = {
    val tk = TextHashSql.tokens("text")
    s"""SELECT doc_id, COUNT(*) AS n_hits FROM (
       |  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS pair FROM (
       |    SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
       |    FROM (SELECT doc_id, $tk AS toks FROM documents)
       |    WHERE len(toks) >= 2))
       |WHERE pair = '$Phrase' GROUP BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // D11: passage-level duplication — per-document fraction of 8-token
  // shingle instances that also occur in at least one other document
  // (span dedup à la "Deduplicating Training Data Makes LMs Better":
  // repeated passages, not whole-doc duplicates). Two-stage aggregation:
  // (doc, shingle) instance counts, then per-shingle doc counts — the
  // join back is on the much smaller per-doc-distinct table, and nothing
  // ever goes all-pairs.
  // ---------------------------------------------------------------------
  def d11SpanDupFraction(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = Tables.documents(spark, sfDir)
      .withColumn("__toks", TextHash.tokens(col("text")))
      .where(size(col("__toks")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(__toks) - 7), " +
          "i -> concat_ws(' ', slice(__toks, i, 8)))")).as("__sh"))
    val perDoc = sh.groupBy(col("doc_id"), col("__sh"))
      .agg(count(lit(1)).as("__inst"))
    val docsPer = perDoc.groupBy(col("__sh"))
      .agg(count(lit(1)).as("__ndocs"))
    perDoc.join(docsPer, "__sh")
      .groupBy(col("doc_id"))
      .agg(sum(col("__inst")).as("n_shingles"),
        sum(when(col("__ndocs") >= 2, col("__inst")).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_shingles"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_shingles"), 6)
          .as("dup_frac"))
  }

  val d11SpanDupFractionSql: String = {
    val tk = TextHashSql.tokens("text")
    s"""WITH sg AS (
       |  SELECT doc_id, array_to_string(list_slice(toks, i, i + 7), ' ') AS sh
       |  FROM (
       |    SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
       |    FROM (SELECT doc_id, $tk AS toks FROM documents)
       |    WHERE len(toks) >= 8)),
       |pd AS (SELECT doc_id, sh, COUNT(*) AS inst FROM sg GROUP BY doc_id, sh),
       |dp AS (SELECT sh, COUNT(*) AS ndocs FROM pd GROUP BY sh)
       |SELECT pd.doc_id AS doc_id,
       |  CAST(SUM(inst) AS BIGINT) AS n_shingles,
       |  CAST(SUM(CASE WHEN ndocs >= 2 THEN inst ELSE 0 END) AS BIGINT)
       |    AS n_dup,
       |  round(CAST(SUM(CASE WHEN ndocs >= 2 THEN inst ELSE 0 END) AS DOUBLE)
       |    / SUM(inst), 6) AS dup_frac
       |FROM pd JOIN dp USING (sh) GROUP BY pd.doc_id""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("ks1_ks_drift", ks1KsDrift, ks1KsDriftSql),
    Query("psi1_psi_drift", psi1PsiDrift, psi1PsiDriftSql),
    Query("auc1_sim_auc", auc1SimAuc, auc1SimAucSql),
    Query("ed1_editdist_join", ed1EditDistJoin, ed1EditDistJoinSql),
    Query("cdc1_apply", cdc1Apply, cdc1ApplySql),
    Query("pca1_dim_variance", pca1DimVariance, pca1DimVarianceSql),
    Query("phr1_phrase_match", phr1PhraseMatch, phr1PhraseMatchSql),
    Query("d11_span_dup", d11SpanDupFraction, d11SpanDupFractionSql))
}
