package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, TextHashSql}

/** Round 6 (cont. 12) — held-out language-model evaluation: interpolated
  * bigram perplexity on a train/test document split. t15 self-scores the
  * training corpus (the CCNet quality-proxy posture); this is the EVAL
  * posture — fit on 4/5 of the docs, measure generalization on the held
  * fifth, report per-language perplexity and OOV exposure. Same
  * contract as [[Queries]].
  */
object Queries41 {

  private[graft] val PplLambda = 0.7
  private[graft] val PplTestMod = 5L

  // ---------------------------------------------------------------------
  // PPL1: model = train-side bigram counts, prefix counts, and add-one
  // unigram probabilities (the three tables ARE the model — tiny next
  // to the corpus and broadcast, t15's stance). Held-out bigrams score
  // ln(λ·cb/cu + (1−λ)·(c₂+1)/(N+V)) with zero backoff where the
  // prefix is unseen; per-term logs are DECIMAL-quantized, and the
  // per-language perplexity is exp of the pooled negative mean.
  // OOV rate = share of held-out continuation tokens unseen in train.
  // ---------------------------------------------------------------------
  def ppl1HeldoutPerplexity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), TextHash.tokens(col("text")).as("t"))
    val isTest = col("doc_id") % PplTestMod === 0
    def bigrams(d: DataFrame) = d.where(size(col("t")) >= 2)
      .select(col("doc_id"), col("lang"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("lang"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val train = docs.where(!isTest)
    val trainToks = train.select(explode(col("t")).as("w"))
    val n = trainToks.count().toDouble
    val v = trainToks.distinct().count().toDouble
    val uni = trainToks.groupBy(col("w").as("w2")).agg(count(lit(1)).as("c2"))
    val trainBi = bigrams(train)
    val cu = trainBi.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val bc = trainBi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    val scored = bigrams(docs.where(isTest))
      .join(broadcast(bc), Seq("w1", "w2"), "left")
      .join(broadcast(cu), Seq("w1"), "left")
      .join(broadcast(uni), Seq("w2"), "left")
      .select(col("lang"),
        log(lit(PplLambda) *
            when(col("cu").isNotNull,
              coalesce(col("cb"), lit(0L)).cast("double") /
                col("cu").cast("double")).otherwise(lit(0.0)) +
          lit(1.0 - PplLambda) *
            (coalesce(col("c2"), lit(0L)).cast("double") + 1.0) / (n + v))
          .cast("decimal(28,14)").as("__lp"),
        col("c2").isNull.cast("long").as("__oov"))
    scored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(exp(sum(col("__lp")).cast("double") / count(lit(1)) * -1), 4)
          .as("perplexity"),
        round(sum(col("__oov")).cast("double") / count(lit(1)), 6)
          .as("oov_rate"))
  }

  val ppl1HeldoutPerplexitySql: String = {
    val tk = TextHashSql.tokens("text")
    s"""WITH tk AS (SELECT doc_id, lang, $tk AS t FROM documents),
       |trt AS (SELECT unnest(t) AS w FROM tk
       |        WHERE doc_id % $PplTestMod <> 0),
       |nv AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
       |         CAST(COUNT(DISTINCT w) AS DOUBLE) AS v FROM trt),
       |uni AS (SELECT w AS w2, CAST(COUNT(*) AS BIGINT) AS c2
       |        FROM trt GROUP BY 1),
       |tbi AS (SELECT unnest(t[1:len(t) - 1]) AS w1,
       |          unnest(t[2:len(t)]) AS w2
       |        FROM tk WHERE doc_id % $PplTestMod <> 0 AND len(t) >= 2),
       |cu AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS cu
       |       FROM tbi GROUP BY 1),
       |bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
       |       FROM tbi GROUP BY 1, 2),
       |hbi AS (SELECT lang, unnest(t[1:len(t) - 1]) AS w1,
       |          unnest(t[2:len(t)]) AS w2
       |        FROM tk WHERE doc_id % $PplTestMod = 0 AND len(t) >= 2),
       |sc AS (
       |  SELECT h.lang,
       |    CAST(ln($PplLambda *
       |        (CASE WHEN cu.cu IS NOT NULL
       |          THEN CAST(COALESCE(bc.cb, 0) AS DOUBLE)
       |            / CAST(cu.cu AS DOUBLE)
       |          ELSE 0.0 END) +
       |      ${1.0 - PplLambda} *
       |        (CAST(COALESCE(uni.c2, 0) AS DOUBLE) + 1.0) / (nv.n + nv.v))
       |      AS DECIMAL(28,14)) AS lp,
       |    CASE WHEN uni.c2 IS NULL THEN 1 ELSE 0 END AS oov
       |  FROM hbi h
       |  LEFT JOIN bc ON bc.w1 = h.w1 AND bc.w2 = h.w2
       |  LEFT JOIN cu ON cu.w1 = h.w1
       |  LEFT JOIN uni ON uni.w2 = h.w2, nv)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |  round(exp(CAST(SUM(lp) AS DOUBLE) / COUNT(*) * -1), 4)
       |    AS perplexity,
       |  round(CAST(SUM(oov) AS DOUBLE) / COUNT(*), 6) AS oov_rate
       |FROM sc GROUP BY 1""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("ppl1_heldout_perplexity", ppl1HeldoutPerplexity, ppl1HeldoutPerplexitySql))
}
