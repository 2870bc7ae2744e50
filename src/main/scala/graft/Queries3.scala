package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextHashSql
import graft.operators.{Decontaminate, Dedup, DedupSql}

/** Round-2 query inventory, second batch: duplicate-cluster connected
  * components (pairs -> transitive groups), benchmark-contamination
  * check, and intra-document repetition scoring. Same contract as
  * [[Queries]]: each Spark dataflow paired with DuckDB SQL computing the
  * identical result.
  */
object Queries3 {

  // ---------------------------------------------------------------------
  // D7: duplicate clusters — MinHash-verified pairs are not transitive
  // (a~b, b~c does not pair a~c), so survivor selection needs connected
  // components first. Spark side: iterative min-label propagation
  // (Dedup.connectedComponents); oracle: recursive-CTE transitive closure
  // over the same pair list. Output one row per clustered doc with its
  // component id (= min member) and cluster size.
  // ---------------------------------------------------------------------
  def d7DupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = Dedup.minhashNearDups(Tables.documents(spark, sfDir),
      "doc_id", "text", threshold = 0.5, nPerm = 16, bands = 8, shingleN = 2)
    Dedup.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
  }
  val d7DupClustersSql: String =
    s"""WITH RECURSIVE pairs AS (${Queries.d2MinhashPairsSql}),
       |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
       |          UNION SELECT id2 AS src, id1 AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, rr.r FROM edges e JOIN reach rr ON rr.id = e.dst),
       |comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT doc_id, cluster_id,
       |  COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM comp""".stripMargin

  // ---------------------------------------------------------------------
  // C1: benchmark contamination — docs with doc_id % 10 = 0 play the
  // held-out benchmark; every other doc reports how much of its distinct
  // 3-gram set the benchmark already contains.
  // ---------------------------------------------------------------------
  def c1Contamination(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Decontaminate.ngramOverlap(
      corpus = docs.where(col("doc_id") % 10 =!= 0),
      benchmark = docs.where(col("doc_id") % 10 === 0),
      idCol = "doc_id", textCol = "text", shingleN = 3)
  }
  val c1ContaminationSql: String = {
    val sh = DedupSql.shingleSet("text", 3)
    s"""WITH sh AS (SELECT doc_id, unnest($sh) AS h FROM documents),
       |bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 10 = 0),
       |train AS (SELECT doc_id, h FROM sh WHERE doc_id % 10 <> 0),
       |tot AS (SELECT doc_id, COUNT(*) AS n_total FROM train GROUP BY 1),
       |shr AS (SELECT t.doc_id, COUNT(*) AS n_shared
       |        FROM train t JOIN bench b ON b.h = t.h GROUP BY 1)
       |SELECT t.doc_id, t.n_total,
       |  CAST(COALESCE(s.n_shared, 0) AS BIGINT) AS n_shared,
       |  round(CAST(COALESCE(s.n_shared, 0) AS DOUBLE) /
       |    CAST(t.n_total AS DOUBLE), 6) AS contamination
       |FROM tot t LEFT JOIN shr s ON s.doc_id = t.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // T8: intra-document repetition — 1 - distinct/total 2-gram shingles.
  // High ratio = the doc repeats itself (boilerplate, SEO spam); a
  // standard quality-filter signal. Pure map-side column math.
  // ---------------------------------------------------------------------
  def t8Repetition(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.Native.shingleStrings(col("text"), 2).as("__sh"))
      .select(col("doc_id"),
        size(col("__sh")).cast("long").as("n_ngrams"),
        size(array_distinct(col("__sh"))).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_ngrams"), col("n_distinct"),
        round(when(col("n_ngrams") === 0, lit(0.0)).otherwise(
          lit(1.0) - col("n_distinct").cast("double") /
            col("n_ngrams").cast("double")), 6).as("rep_ratio"))
  val t8RepetitionSql: String = {
    val sh = TextHashSql.shingles("text", 2)
    s"""SELECT doc_id,
       |  CAST(len(sh) AS BIGINT) AS n_ngrams,
       |  CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
       |  round(CASE WHEN len(sh) = 0 THEN 0.0
       |    ELSE 1.0 - CAST(len(list_distinct(sh)) AS DOUBLE) /
       |      CAST(len(sh) AS DOUBLE) END, 6) AS rep_ratio
       |FROM (SELECT doc_id, $sh AS sh FROM documents)""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("d7_dup_clusters", d7DupClusters, d7DupClustersSql),
    Query("c1_contamination", c1Contamination, c1ContaminationSql),
    Query("t8_repetition", t8Repetition, t8RepetitionSql))
}
