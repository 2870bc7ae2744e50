package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, TextHashSql}

/** Round-3 continuation: decayed popularity, bandit allocation scores,
  * and collocation mining. Same contract as [[Queries]].
  */
object Queries19 {

  // ---------------------------------------------------------------------
  // POP1: time-decayed popularity — per event type, Σ exp(−age_days/7)
  // over all events (7-day half-life-ish decay, ages in whole days from
  // the corpus max): the freshness-weighted ranking feeds. Each exp term
  // is the identical double in both engines and is quantized to DECIMAL
  // before the sum, so accumulation order cannot perturb the score
  // (ewma1's trick at corpus scale).
  // ---------------------------------------------------------------------
  def pop1DecayedPopularity(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("event_type"), col("ts").cast("long").as("__sec"))
    val mx = ev.agg(max(col("__sec")).as("__mx"))
    ev.crossJoin(broadcast(mx))
      .withColumn("__term",
        exp(-expr("(__mx - __sec) div 86400") / lit(7.0))
          .cast("decimal(28,12)"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("__term")).cast("double"), 6).as("decayed_score"))
  }

  val pop1DecayedPopularitySql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec
      |  FROM events),
      |t AS (SELECT MAX(sec) AS mx FROM ev)
      |SELECT event_type, COUNT(*) AS n_events,
      |  round(CAST(SUM(CAST(exp(-(((mx - sec) // 86400)) / 7.0)
      |    AS DECIMAL(28,12))) AS DOUBLE), 6) AS decayed_score
      |FROM ev, t GROUP BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // UCB1: bandit allocation scores — per event-type "arm": pulls, DECIMAL
  // mean reward, and the UCB1 bound mean + sqrt(2 ln N / n). The
  // decision-layer readout for adaptive traffic allocation; all inputs
  // exact integers/DECIMAL, the bound the same double formula both sides.
  // ---------------------------------------------------------------------
  def ucb1BanditScores(spark: SparkSession, sfDir: String): DataFrame = {
    val arms = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pulls"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("__sum"))
    val tot = arms.agg(sum(col("n_pulls")).as("__N"))
    arms.crossJoin(broadcast(tot))
      .select(col("event_type"), col("n_pulls"),
        round(col("__sum") / col("n_pulls"), 6).as("mean_reward"),
        round(col("__sum") / col("n_pulls") +
          sqrt(lit(2.0) * log(col("__N").cast("double")) / col("n_pulls")),
          6).as("ucb"))
  }

  val ucb1BanditScoresSql: String =
    """WITH arms AS (
      |  SELECT event_type, COUNT(*) AS n_pulls,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s
      |  FROM events GROUP BY event_type),
      |t AS (SELECT CAST(SUM(n_pulls) AS BIGINT) AS N FROM arms)
      |SELECT event_type, CAST(n_pulls AS BIGINT) AS n_pulls,
      |  round(s / n_pulls, 6) AS mean_reward,
      |  round(s / n_pulls + sqrt(2.0 * ln(CAST(N AS DOUBLE)) / n_pulls), 6)
      |    AS ucb
      |FROM arms, t""".stripMargin

  // ---------------------------------------------------------------------
  // PMI1: collocation mining — top-30 adjacent-token pairs by pointwise
  // mutual information ln(p(ab)/(p(a)p(b))) among pairs seen ≥ 10 times.
  // Unigram marginals over pair POSITIONS (left/right occurrences), so
  // every probability shares the same denominator and the statistic is a
  // pure function of exact counts. The collocation detector a tokenizer
  // or phrase-vocabulary builder ranks merges by.
  // ---------------------------------------------------------------------
  def pmi1Collocations(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.documents(spark, sfDir)
      .withColumn("__toks", TextHash.tokens(col("text")))
      .where(size(col("__toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(__toks) - 1), " +
          "i -> struct(element_at(__toks, i) AS l, " +
          "element_at(__toks, i + 1) AS r))")).as("__p"))
      .select(col("__p.l").as("l"), col("__p.r").as("r"))
    val pc = pairs.groupBy(col("l"), col("r")).agg(count(lit(1)).as("n_pair"))
    val lc = pairs.groupBy(col("l")).agg(count(lit(1)).as("__nl"))
    val rc = pairs.groupBy(col("r")).agg(count(lit(1)).as("__nr"))
    val tot = pairs.agg(count(lit(1)).as("__N"))
    pc.join(lc, "l").join(rc, "r").crossJoin(broadcast(tot))
      .where(col("n_pair") >= 10)
      .withColumn("pmi", round(log(
        col("n_pair").cast("double") * col("__N") /
          (col("__nl").cast("double") * col("__nr"))), 6))
      .select(col("l"), col("r"), col("n_pair"), col("pmi"))
      .orderBy(col("pmi").desc, col("l").asc, col("r").asc)
      .limit(30)
  }

  val pmi1CollocationsSql: String = {
    val tk = TextHashSql.tokens("text")
    s"""WITH pairs AS (
       |  SELECT toks[i] AS l, toks[i + 1] AS r FROM (
       |    SELECT toks, unnest(range(1, len(toks))) AS i
       |    FROM (SELECT $tk AS toks FROM documents)
       |    WHERE len(toks) >= 2)),
       |pc AS (SELECT l, r, COUNT(*) AS n_pair FROM pairs GROUP BY l, r),
       |lc AS (SELECT l, COUNT(*) AS nl FROM pairs GROUP BY l),
       |rc AS (SELECT r, COUNT(*) AS nr FROM pairs GROUP BY r),
       |t AS (SELECT COUNT(*) AS N FROM pairs)
       |SELECT l, r, CAST(n_pair AS BIGINT) AS n_pair,
       |  round(ln(CAST(n_pair AS DOUBLE) * N
       |    / (CAST(nl AS DOUBLE) * nr)), 6) AS pmi
       |FROM pc JOIN lc USING (l) JOIN rc USING (r), t
       |WHERE n_pair >= 10
       |ORDER BY pmi DESC, l ASC, r ASC LIMIT 30""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("pop1_decayed_popularity", pop1DecayedPopularity, pop1DecayedPopularitySql),
    Query("ucb1_bandit_scores", ucb1BanditScores, ucb1BanditScoresSql),
    Query("pmi1_collocations", pmi1Collocations, pmi1CollocationsSql))
}
