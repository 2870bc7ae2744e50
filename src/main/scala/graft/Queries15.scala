package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Sampling, SamplingSql}

/** Round-3 continuation: corpus mixture shaping and forensic data audit.
  * Same contract as [[Queries]].
  */
object Queries15 {

  // ---------------------------------------------------------------------
  // TMP1: temperature-scaled mixture sampling — per-source sampling
  // shares ∝ n^α (α = 0.7), the standard multilingual/temperature
  // trick that up-weights small sources without drowning large ones.
  // Shares derive from one per-source count + a 1-row total broadcast;
  // the document-level keep decision is the deterministic content hash
  // against the source's scaled rate (target size: 50% of the corpus).
  // ---------------------------------------------------------------------
  private val Alpha = 0.7
  private val TargetFrac = 0.5
  private val Granularity = 1000000

  def tmp1TemperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val bySource = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("__w", pow(col("n_docs").cast("double"), Alpha))
    val tot = bySource.agg(sum(col("__w")).as("__wsum"),
      sum(col("n_docs")).as("__ntot"))
    val rates = bySource.crossJoin(broadcast(tot))
      .withColumn("share", col("__w") / col("__wsum"))
      .withColumn("__rate",
        least(lit(1.0), col("share") * lit(TargetFrac) * col("__ntot")
          / col("n_docs")))
    docs.join(broadcast(rates.select(col("source"), col("n_docs"),
        col("share"), col("__rate"))), "source")
      .where(Sampling.hashBucket(col("doc_id"), Granularity).cast("double")
        < col("__rate") * Granularity)
      .groupBy(col("source"), col("n_docs"), round(col("share"), 6).as("share"))
      .agg(count(lit(1)).as("n_sampled"))
  }

  val tmp1TemperatureMixSql: String = {
    val b = SamplingSql.hashBucket("d.doc_id", Granularity)
    s"""WITH bs AS (
       |  SELECT source, COUNT(*) AS n_docs,
       |    power(CAST(COUNT(*) AS DOUBLE), $Alpha) AS w
       |  FROM documents GROUP BY source),
       |t AS (SELECT SUM(w) AS wsum, SUM(n_docs) AS ntot FROM bs),
       |r AS (
       |  SELECT source, n_docs, w / wsum AS share,
       |    LEAST(1.0, (w / wsum) * $TargetFrac * ntot / n_docs) AS rate
       |  FROM bs, t)
       |SELECT r.source AS source, CAST(r.n_docs AS BIGINT) AS n_docs,
       |  round(r.share, 6) AS share,
       |  CAST(COUNT(*) AS BIGINT) AS n_sampled
       |FROM documents d JOIN r ON d.source = r.source
       |WHERE CAST($b AS DOUBLE) < r.rate * $Granularity
       |GROUP BY r.source, r.n_docs, round(r.share, 6)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // BF1: Benford first-digit audit — observed leading-digit distribution
  // of the value measure against Benford's law, with per-digit χ²
  // contributions: the forensic screen for fabricated or unit-mangled
  // numeric feeds. Digit extraction is exact string arithmetic; expected
  // shares are the same log10 closed form in both engines.
  // ---------------------------------------------------------------------
  def bf1BenfordAudit(spark: SparkSession, sfDir: String): DataFrame = {
    val digits = Tables.events(spark, sfDir)
      .where(col("value") > 0)
      .select(substring(regexp_replace(
        format_number(col("value"), 6), "[0.,]", ""), 1, 1)
        .cast("long").as("digit"))
      .where(col("digit").between(1, 9))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum(col("n")).as("__tot"))
    digits.crossJoin(broadcast(tot))
      .withColumn("expected_p", round(log10(lit(1.0) + lit(1.0) / col("digit")), 6))
      .withColumn("observed_p", round(col("n").cast("double") / col("__tot"), 6))
      .withColumn("chi_term", round(
        pow(col("n").cast("double") / col("__tot")
          - log10(lit(1.0) + lit(1.0) / col("digit")), 2)
          / log10(lit(1.0) + lit(1.0) / col("digit")), 6))
      .select(col("digit"), col("n"), col("expected_p"), col("observed_p"),
        col("chi_term"))
  }

  val bf1BenfordAuditSql: String =
    """WITH d AS (
      |  SELECT CAST(substr(regexp_replace(format('{:.6f}', value),
      |    '[0.,]', '', 'g'), 1, 1) AS BIGINT) AS digit
      |  FROM events WHERE value > 0),
      |g AS (SELECT digit, COUNT(*) AS n FROM d
      |      WHERE digit BETWEEN 1 AND 9 GROUP BY digit),
      |t AS (SELECT SUM(n) AS tot FROM g)
      |SELECT digit, CAST(n AS BIGINT) AS n,
      |  round(log10(1.0 + 1.0 / digit), 6) AS expected_p,
      |  round(CAST(n AS DOUBLE) / tot, 6) AS observed_p,
      |  round(pow(CAST(n AS DOUBLE) / tot - log10(1.0 + 1.0 / digit), 2)
      |    / log10(1.0 + 1.0 / digit), 6) AS chi_term
      |FROM g, t""".stripMargin

  val all: Seq[Query] = Seq(
    Query("tmp1_temperature_mix", tmp1TemperatureMix, tmp1TemperatureMixSql),
    Query("bf1_benford_audit", bf1BenfordAudit, bf1BenfordAuditSql))
}
