package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round 6 (cont. 10) — density-based outlier scoring: Local Outlier
  * Factor (Breunig et al. 2000) over a bounded embedding block. o1
  * flags points far from their label centroid (a GLOBAL criterion);
  * LOF flags points whose LOCAL density is low relative to their
  * neighbours', which catches outliers sitting between clusters that
  * centroid distance misses. Same contract as [[Queries]].
  */
object Queries39 {

  // ---------------------------------------------------------------------
  // LOF1: k = 5 LOF over vec_id < LofBlock by cosine distance.
  // The LOF dataflow itself lives in operators/Lof.scala behind the
  // DBSCAN-style candidate-pair contract (round-6 VERDICT #4); this
  // fixture query feeds it the bounded brute-force pair block — at
  // corpus scale the ANN/SRP bucket families generate the candidates
  // instead (LofSpec proves SRP candidates reproduce brute-force
  // scores on a planted-outlier block). Top LofTopK by score (total
  // order: score desc, id asc). Expected shape on the fixture's
  // near-orthogonal vectors: scores hover near 1 (uniform density)
  // with a thin tail — the SEMANTICS are under test, as in dbs1/mod1.
  // ---------------------------------------------------------------------
  private[graft] val LofBlock = 1500L
  private[graft] val LofK = 5
  private[graft] val LofTopK = 25

  def lof1LocalOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val block = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < LofBlock)
      .select(col("vec_id").as("id"), col("embedding"))
      .localCheckpoint(true)
    val pairs = block.select(col("id").as("p"), col("embedding").as("__e1"))
      .join(block.select(col("id").as("o"), col("embedding").as("__e2")),
        col("p") =!= col("o"))
      .select(col("p"), col("o"),
        (lit(1.0) - graft.functions.Similarity.cosine(col("__e1"), col("__e2")))
          .as("d"))
    // strict: the brute-force block is symmetric by construction, so the
    // contract check is a free null-guard — and a live consumer of it
    graft.operators.Lof.score(pairs, LofK, strict = true)
      .orderBy(col("lof").desc, col("p").asc).limit(LofTopK)
      .select(col("p").as("vec_id"), round(col("lof"), 6).as("lof"))
  }

  val lof1LocalOutliersSql: String = {
    val c = Queries.sqlCosine("a.embedding", "b.embedding")
    s"""WITH blk AS (SELECT vec_id AS id, embedding FROM embeddings
       |             WHERE vec_id < $LofBlock),
       |d AS MATERIALIZED (
       |  SELECT a.id AS p, b.id AS o, 1.0 - $c AS d
       |  FROM blk a JOIN blk b ON a.id <> b.id),
       |knn AS MATERIALIZED (
       |  SELECT p, o, d FROM (
       |    SELECT p, o, d,
       |      ROW_NUMBER() OVER (PARTITION BY p ORDER BY d ASC, o ASC) AS rn
       |    FROM d) WHERE rn <= $LofK),
       |kd AS MATERIALIZED (SELECT p AS o, MAX(d) AS kd
       |                    FROM knn GROUP BY 1),
       |reach AS MATERIALIZED (
       |  SELECT knn.p, knn.o, greatest(kd.kd, knn.d) AS r
       |  FROM knn JOIN kd USING (o)),
       |lrd AS MATERIALIZED (
       |  SELECT p, CAST(COUNT(*) AS DOUBLE)
       |    / CAST(SUM(CAST(r AS DECIMAL(28,14))) AS DOUBLE) AS lrd
       |  FROM reach GROUP BY 1),
       |ml AS MATERIALIZED (
       |  SELECT knn.p,
       |    CAST(SUM(CAST(l2.lrd AS DECIMAL(28,14))) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS mlrd
       |  FROM knn JOIN lrd l2 ON l2.p = knn.o GROUP BY 1)
       |SELECT ml.p AS vec_id, round(ml.mlrd / lrd.lrd, 6) AS lof
       |FROM ml JOIN lrd USING (p)
       |ORDER BY ml.mlrd / lrd.lrd DESC, ml.p ASC LIMIT $LofTopK""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("lof1_local_outliers", lof1LocalOutliers, lof1LocalOutliersSql))
}
