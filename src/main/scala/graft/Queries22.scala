package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, TextHashSql}

/** Round-3 finale: a complete train → apply → evaluate ML loop in pure
  * dataflow — multinomial naive Bayes language identification trained on
  * half the corpus and scored on the other half, with the confusion
  * matrix as the oracle-checked artifact. Same contract as [[Queries]].
  */
object Queries22 {

  // ---------------------------------------------------------------------
  // ML1: naive Bayes lang-ID — Laplace-smoothed multinomial model.
  //
  //   score(d, l) = ln P(l) + Σ_tok ln(cnt_l(tok)+1) − n_d·ln(tot_l + V)
  //
  // (the unseen-token term ln(0+1)=0 folds into the n_d·ln(tot_l+V)
  // normalizer, so no out-of-vocabulary special case exists). Training
  // is two keyed counts; application is one token-keyed join plus a
  // per-(doc, lang) DECIMAL-quantized ln-sum, so accumulation order
  // cannot flip an argmax; prediction rounds scores to 6 with a lang
  // tie-break so both engines cut identical winners. Even doc_ids train,
  // odd evaluate.
  // ---------------------------------------------------------------------
  /** The shared NB scoring pipeline: one row per (test doc, lang) with
    * the rounded log-score — ml1 reduces it to the confusion matrix,
    * bri1 to calibration bins, kpa1 to inter-annotator agreement. */
  private[graft] def ml1Scored(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), TextHash.tokens(col("text")).as("__toks"))
    val train = docs.where(col("doc_id") % 2 === 0)
    val test = docs.where(col("doc_id") % 2 === 1)

    val trainTok = train.select(col("lang").as("__l"), explode(col("__toks")).as("tok"))
    val counts = trainTok.groupBy(col("__l"), col("tok"))
      .agg(count(lit(1)).as("__cnt"))
    val langStats = trainTok.groupBy(col("__l")).agg(count(lit(1)).as("__tot"))
    val vocab = trainTok.agg(countDistinct(col("tok")).as("__V"))
    val priors = train.groupBy(col("lang").as("__l")).agg(count(lit(1)).as("__nd"))
    val trainN = train.agg(count(lit(1)).as("__ndocs"))
    val langSide = langStats.join(priors, "__l")
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(trainN))
      .select(col("__l"),
        (log(col("__nd").cast("double")) - log(col("__ndocs").cast("double")))
          .as("__prior"),
        log((col("__tot") + col("__V")).cast("double")).as("__lnz"))

    val testTok = test.select(col("doc_id"), explode(col("__toks")).as("tok"))
    val matched = testTok.join(counts, "tok")
      .select(col("doc_id"), col("__l"),
        log(col("__cnt").cast("double") + 1.0d).cast("decimal(28,12)").as("__t"))
      .groupBy(col("doc_id"), col("__l"))
      .agg(sum(col("__t")).cast("double").as("__msum"))
    val base = test.select(col("doc_id"), col("lang").as("true_lang"),
        size(col("__toks")).cast("long").as("__n"))
      .crossJoin(broadcast(langSide))
    base.join(matched, Seq("doc_id", "__l"), "left")
      .withColumn("__score", round(
        col("__prior") + coalesce(col("__msum"), lit(0.0)) -
          col("__n") * col("__lnz"), 6))
      .select(col("doc_id"), col("true_lang"), col("__l"), col("__score"))
  }

  /** Argmax winner per test doc (score desc, lang tie-break). */
  private[graft] def ml1Picked(spark: SparkSession, sfDir: String): DataFrame = {
    val pick = Window.partitionBy(col("doc_id"))
      .orderBy(col("__score").desc, col("__l").asc)
    ml1Scored(spark, sfDir)
      .withColumn("__rn", row_number().over(pick))
      .where(col("__rn") === 1)
      .select(col("doc_id"), col("true_lang"), col("__l").as("pred_lang"))
  }

  def ml1NaiveBayes(spark: SparkSession, sfDir: String): DataFrame =
    ml1Picked(spark, sfDir)
      .groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))

  /** The shared CTE chain (through `scored` and `picked`) the three NB
    * oracles build on. */
  private[graft] val ml1SqlCtes: String = {
    val tk = TextHashSql.tokens("text")
    s"""docs AS (
       |  SELECT doc_id, lang, $tk AS toks FROM documents),
       |train AS (SELECT * FROM docs WHERE doc_id % 2 = 0),
       |test AS (SELECT * FROM docs WHERE doc_id % 2 = 1),
       |ttok AS (SELECT lang AS l, unnest(toks) AS tok FROM train),
       |counts AS (SELECT l, tok, COUNT(*) AS cnt FROM ttok GROUP BY l, tok),
       |ls AS (SELECT l, COUNT(*) AS tot FROM ttok GROUP BY l),
       |v AS (SELECT COUNT(DISTINCT tok) AS V FROM ttok),
       |pr AS (SELECT lang AS l, COUNT(*) AS nd FROM train GROUP BY lang),
       |tn AS (SELECT COUNT(*) AS ndocs FROM train),
       |side AS (
       |  SELECT ls.l AS l,
       |    ln(CAST(nd AS DOUBLE)) - ln(CAST(ndocs AS DOUBLE)) AS prior,
       |    ln(CAST(tot + V AS DOUBLE)) AS lnz
       |  FROM ls JOIN pr ON ls.l = pr.l, v, tn),
       |stok AS (SELECT doc_id, unnest(toks) AS tok FROM test),
       |m AS (
       |  SELECT doc_id, l,
       |    CAST(SUM(CAST(ln(CAST(cnt AS DOUBLE) + 1.0) AS DECIMAL(28,12)))
       |      AS DOUBLE) AS msum
       |  FROM stok JOIN counts USING (tok) GROUP BY doc_id, l),
       |base AS (
       |  SELECT t.doc_id, t.lang AS true_lang, len(t.toks) AS n, side.*
       |  FROM test t, side),
       |scored AS (
       |  SELECT base.doc_id, true_lang, base.l AS l,
       |    round(prior + COALESCE(msum, 0.0) - n * lnz, 6) AS score
       |  FROM base LEFT JOIN m ON m.doc_id = base.doc_id AND m.l = base.l),
       |picked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |    ORDER BY score DESC, l ASC) AS rn
       |  FROM scored)""".stripMargin
  }

  val ml1NaiveBayesSql: String =
    s"""WITH $ml1SqlCtes
       |SELECT true_lang, l AS pred_lang, COUNT(*) AS n
       |FROM picked WHERE rn = 1 GROUP BY true_lang, l""".stripMargin

  // ---------------------------------------------------------------------
  // BRI1: calibration report for the NB model — per-(doc, lang) softmax
  // posteriors from the rounded log-scores (max-shifted exp, per-doc
  // DECIMAL-quantized normalizer: order-proof), binned into 10 fixed
  // probability deciles. Per bin: pair count, positives (lang == truth),
  // mean predicted probability, and the Brier term (mean squared
  // p-vs-outcome error) — the reliability diagram + Brier decomposition
  // a model monitor consumes. Everything reduces map-side to 10 rows.
  // ---------------------------------------------------------------------
  def bri1Calibration(spark: SparkSession, sfDir: String): DataFrame = {
    val wDoc = Window.partitionBy(col("doc_id"))
    val e = ml1Scored(spark, sfDir)
      .withColumn("__e", exp(col("__score") - max(col("__score")).over(wDoc)))
    val z = e.groupBy(col("doc_id"))
      .agg(sum(col("__e").cast("decimal(28,12)")).cast("double").as("__z"))
    val p = e.join(z, Seq("doc_id"))
      .withColumn("__p", col("__e") / col("__z"))
      .withColumn("__y", (col("__l") === col("true_lang")).cast("long"))
      .withColumn("bin", least(floor(col("__p") * 10).cast("long"), lit(9L)))
    p.groupBy(col("bin")).agg(
      count(lit(1)).as("n"),
      sum(col("__y")).as("n_pos"),
      round(sum(col("__p").cast("decimal(28,12)")).cast("double")
        / count(lit(1)), 6).as("mean_p"),
      round(sum(((col("__p") - col("__y")) * (col("__p") - col("__y")))
        .cast("decimal(28,12)")).cast("double") / count(lit(1)), 6).as("brier"))
  }

  val bri1CalibrationSql: String =
    s"""WITH $ml1SqlCtes,
       |calib AS (
       |  SELECT doc_id, true_lang, l,
       |    exp(score - MAX(score) OVER (PARTITION BY doc_id)) AS e
       |  FROM scored),
       |z AS (SELECT doc_id, CAST(SUM(CAST(e AS DECIMAL(28,12))) AS DOUBLE) AS z
       |      FROM calib GROUP BY doc_id),
       |p AS (
       |  SELECT c.doc_id, e / z AS p,
       |    CASE WHEN l = true_lang THEN 1 ELSE 0 END AS y,
       |    least(CAST(floor(e / z * 10) AS BIGINT), 9) AS bin
       |  FROM calib c JOIN z USING (doc_id))
       |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(y) AS BIGINT) AS n_pos,
       |  round(CAST(SUM(CAST(p AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
       |    AS mean_p,
       |  round(CAST(SUM(CAST((p - y) * (p - y) AS DECIMAL(28,12))) AS DOUBLE)
       |    / COUNT(*), 6) AS brier
       |FROM p GROUP BY bin""".stripMargin

  // ---------------------------------------------------------------------
  // KPA1: inter-annotator agreement — Cohen's kappa between the TRAINED
  // NB classifier and the RULE-BASED stopword langid heuristic (t1) on
  // the shared test split: po from the exact agreement count, pe from the
  // exact marginal products, kappa = (po-pe)/(1-pe). The standard check
  // that two labelers (model vs heuristic) agree beyond chance; all
  // inputs are exact integer counts, so the derived doubles are
  // bit-deterministic. Guard: kappa defined 0 when pe = 1 (degenerate
  // single-label case) on both engines.
  // ---------------------------------------------------------------------
  def kpa1Kappa(spark: SparkSession, sfDir: String): DataFrame = {
    val nb = ml1Picked(spark, sfDir)
    val heur = Tables.documents(spark, sfDir)
      .where(col("doc_id") % 2 === 1)
      .select(col("doc_id"),
        graft.operators.TextAnalysis.langId(col("text")).as("__h"))
    val j = nb.join(heur, Seq("doc_id")).localCheckpoint(true)
    val agree = j.agg(count(lit(1)).as("n"),
      sum((col("pred_lang") === col("__h")).cast("long")).as("__agr"))
    val peNum = j.groupBy(col("pred_lang").as("__l")).agg(count(lit(1)).as("__c1"))
      .join(j.groupBy(col("__h").as("__l")).agg(count(lit(1)).as("__c2")), Seq("__l"))
      .agg(coalesce(sum(col("__c1") * col("__c2")), lit(0L)).as("__pen"))
    agree.crossJoin(peNum)
      .withColumn("__po", col("__agr").cast("double") / col("n").cast("double"))
      .withColumn("__pe", col("__pen").cast("double") /
        (col("n").cast("double") * col("n").cast("double")))
      .select(col("n"),
        round(col("__po"), 6).as("po"),
        round(col("__pe"), 6).as("pe"),
        round(when(col("__pe") === 1.0d, lit(0.0)).otherwise(
          (col("__po") - col("__pe")) / (lit(1.0) - col("__pe"))), 6).as("kappa"))
  }

  val kpa1KappaSql: String = {
    import graft.operators.TextAnalysisSql
    s"""WITH $ml1SqlCtes,
       |j AS (
       |  SELECT p.doc_id, p.l AS a, ${TextAnalysisSql.langId("d.text")} AS b
       |  FROM picked p JOIN documents d ON d.doc_id = p.doc_id
       |  WHERE p.rn = 1),
       |ag AS (SELECT COUNT(*) AS n,
       |         SUM(CASE WHEN a = b THEN 1 ELSE 0 END) AS agr FROM j),
       |m1 AS (SELECT a AS l, COUNT(*) AS c1 FROM j GROUP BY a),
       |m2 AS (SELECT b AS l, COUNT(*) AS c2 FROM j GROUP BY b),
       |pe AS (SELECT COALESCE(SUM(c1 * c2), 0) AS pen FROM m1 JOIN m2 USING (l))
       |SELECT CAST(n AS BIGINT) AS n,
       |  round(CAST(agr AS DOUBLE) / CAST(n AS DOUBLE), 6) AS po,
       |  round(CAST(pen AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6)
       |    AS pe,
       |  round(CASE WHEN CAST(pen AS DOUBLE)
       |               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) = 1.0 THEN 0.0
       |        ELSE (CAST(agr AS DOUBLE) / CAST(n AS DOUBLE)
       |               - CAST(pen AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
       |             / (1.0 - CAST(pen AS DOUBLE)
       |               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) END, 6) AS kappa
       |FROM ag, pe""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("ml1_naive_bayes", ml1NaiveBayes, ml1NaiveBayesSql),
    Query("bri1_calibration", bri1Calibration, bri1CalibrationSql),
    Query("kpa1_kappa", kpa1Kappa, kpa1KappaSql))
}
