package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round 6 (cont. 6) — embedding-space model diagnostics: simplified
  * silhouette (cluster cohesion/separation), the dominant eigenpair of
  * the embedding covariance by power iteration (the PCA primitive
  * pca1's per-dim variances stop short of), and class-balance weights
  * (inverse-frequency + effective-number-of-samples). Same contract as
  * [[Queries]]: DECIMAL accumulation wherever doubles cross an
  * aggregation boundary.
  */
object Queries35 {

  private val Dims = 64

  // ---------------------------------------------------------------------
  // SIL1: simplified (centroid-based) silhouette per label — a(i) = the
  // distance to the OWN label centroid, b(i) = min distance to any
  // other, s = (b−a)/max(a,b). The simplified form is the distributed
  // one: it needs k centroids per point, not all pairwise distances
  // (Hruschka et al. 2004), so the plan is one explode-aggregate for
  // the centroids and one dim-keyed join for the distances. At corpus
  // scale the k×64 codebook rides as a broadcast literal (the IVF
  // posture, a7); here it stays a broadcast table join.
  // ---------------------------------------------------------------------
  def sil1Silhouette(spark: SparkSession, sfDir: String): DataFrame = {
    // pre-explode repartition (the pw1 lesson): the dim explode inflates
    // 64x and the centroid join another kx — spread the SMALL input
    // across the cores before inflating instead of inheriting the
    // scan's split count
    val parts = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val x = Tables.embeddings(spark, sfDir).repartition(parts)
      .select(col("vec_id"), col("label"),
        posexplode(col("embedding")).as(Seq("pos", "__raw")))
      .select(col("vec_id"), col("label"),
        col("pos").cast("long").as("dim"), col("__raw").cast("double").as("__x"))
    val cent = x.groupBy(col("label").as("clabel"), col("dim"))
      .agg((sum(col("__x").cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("__c"))
    val d = x.join(broadcast(cent), Seq("dim"))
      .groupBy(col("vec_id"), col("label"), col("clabel"))
      .agg(sum(((col("__x") - col("__c")) * (col("__x") - col("__c")))
        .cast("decimal(28,12)")).as("__ss"))
      .select(col("vec_id"), col("label"), col("clabel"),
        sqrt(col("__ss").cast("double")).as("__d"))
    val ab = d.groupBy(col("vec_id"), col("label")).agg(
      max(when(col("label") === col("clabel"), col("__d"))).as("__a"),
      min(when(col("label") =!= col("clabel"), col("__d"))).as("__b"))
    val s = ab.select(col("label"), col("__a"), col("__b"),
      when(greatest(col("__a"), col("__b")) > 0,
        (col("__b") - col("__a")) / greatest(col("__a"), col("__b")))
        .otherwise(lit(0.0)).as("__s"))
    s.groupBy(col("label")).agg(
      count(lit(1)).as("n"),
      round(sum(col("__s").cast("decimal(28,14)")).cast("double") /
        count(lit(1)), 6).as("mean_silhouette"),
      round(sum(col("__a").cast("decimal(28,12)")).cast("double") /
        count(lit(1)), 6).as("mean_a"),
      round(sum(col("__b").cast("decimal(28,12)")).cast("double") /
        count(lit(1)), 6).as("mean_b"))
  }

  val sil1SilhouetteSql: String =
    s"""WITH x AS (
       |  SELECT vec_id, label, CAST(i - 1 AS BIGINT) AS dim,
       |    CAST(embedding[i] AS DOUBLE) AS x
       |  FROM embeddings, range(1, ${Dims + 1}) t(i)),
       |cent AS (
       |  SELECT label AS clabel, dim,
       |    CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
       |  FROM x GROUP BY 1, 2),
       |d AS (
       |  SELECT x.vec_id, x.label, cent.clabel,
       |    sqrt(CAST(SUM(CAST((x.x - cent.c) * (x.x - cent.c)
       |      AS DECIMAL(28,12))) AS DOUBLE)) AS d
       |  FROM x JOIN cent USING (dim) GROUP BY 1, 2, 3),
       |ab AS (
       |  SELECT vec_id, label,
       |    MAX(CASE WHEN label = clabel THEN d END) AS a,
       |    MIN(CASE WHEN label <> clabel THEN d END) AS b
       |  FROM d GROUP BY 1, 2),
       |s AS (SELECT label, a, b,
       |    CASE WHEN greatest(a, b) > 0 THEN (b - a) / greatest(a, b)
       |      ELSE 0.0 END AS s
       |  FROM ab)
       |SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       |  round(CAST(SUM(CAST(s AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*), 6)
       |    AS mean_silhouette,
       |  round(CAST(SUM(CAST(a AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
       |    AS mean_a,
       |  round(CAST(SUM(CAST(b AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6)
       |    AS mean_b
       |FROM s GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // PW1: dominant eigenpair of the 64×64 embedding covariance by power
  // iteration — the first PCA component with its explained-variance
  // share. The covariance matrix is d² = 4,096 cells, ACCUMULATED in
  // one (i,j)-keyed aggregation with map-side combine (each task
  // reduces to <= 4,096 cells before the shuffle) — bounded metadata at
  // any corpus size, which is why the subsequent 8 matrix-vector
  // iterations run on 64-row tables. v₀ = 1/√64 = 0.125 exactly, so
  // the sign and every intermediate are deterministic; all dot products
  // accumulate in DECIMAL. The oracle unrolls the same 8 iterations as
  // chained CTEs.
  // ---------------------------------------------------------------------
  private[graft] val PwIters = 8

  private def covMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val n = emb.agg(count(lit(1)).cast("double").as("__n"))
    val means = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "__raw")))
      .groupBy(col("pos").cast("long").as("i"))
      .agg(sum(col("__raw").cast("double").cast("decimal(28,12)")).as("__s"))
      .crossJoin(broadcast(n))
      .select(col("i"), (col("__s").cast("double") / col("__n")).as("__m"))
    // upper-triangle products generated PER ROW from the array itself —
    // no self-join, no row-keyed shuffle: each task map-side-combines
    // straight down to <= 2,080 position cells before the only exchange.
    // The flattened product array stays primitive doubles (no per-pair
    // struct allocation); position -> (i, j) is a 2,080-row broadcast
    // decode applied AFTER the aggregation. The per-term DECIMAL
    // quantization is identical to the oracle's pairwise SUM, and the
    // mirror below restores the full matrix.
    import spark.implicits._
    val posMap = (for (i <- 0 until Dims; j <- i until Dims)
      yield (i.toLong, j.toLong)).zipWithIndex
      .map { case ((i, j), p) => (p.toLong, i, j) }
      .toDF("pos", "i", "j")
    // pre-explode repartition: the product transform inflates every
    // input row 2,080x, so redistribute the SMALL side before the
    // inflation (classic explode-skew fix) instead of inheriting
    // whatever split count the scan produced
    val parts = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val upper = emb.repartition(parts).select(posexplode(flatten(
        transform(col("embedding"), (xi, i) =>
          transform(slice(col("embedding"), i + 1, lit(Dims) - i),
            xj => xi.cast("double") * xj.cast("double")))))
        .as(Seq("pos", "__p")))
      .groupBy(col("pos").cast("long").as("pos"))
      .agg(sum(col("__p").cast("decimal(28,12)")).as("__sxy"))
      .join(broadcast(posMap), Seq("pos"))
      .select(col("i"), col("j"), col("__sxy"))
    val prods = upper.unionByName(upper.where(col("i") =!= col("j"))
      .select(col("j").as("i"), col("i").as("j"), col("__sxy")))
    prods.join(broadcast(means), Seq("i"))
      .join(broadcast(means.select(col("i").as("j"), col("__m").as("__mj"))),
        Seq("j"))
      .crossJoin(broadcast(n))
      .select(col("i"), col("j"),
        (col("__sxy").cast("double") / col("__n") -
          col("__m") * col("__mj")).as("c"))
  }

  /** Emulates Spark's `cast(x as decimal(28,14))` then exact SUM then
    * `cast(double)` — quantize each term HALF_UP at scale 14 (Spark's
    * Decimal path goes through Double.toString, matched here), add
    * exactly, convert once. */
  private def decSum14(xs: Iterable[Double]): Double =
    xs.map(d => new java.math.BigDecimal(java.lang.Double.toString(d))
        .setScale(14, java.math.RoundingMode.HALF_UP))
      .foldLeft(java.math.BigDecimal.ZERO)(_.add(_)).doubleValue

  private def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue

  def pw1PowerIteration(spark: SparkSession, sfDir: String): DataFrame = {
    // the covariance aggregation is the data-sized work; its RESULT is
    // d² = 4,096 doubles — bounded index metadata at any corpus size,
    // collected to the driver exactly like the ANN codebooks
    // (Ann.scala:178). The 8 power iterations then run on 64-double
    // vectors with the same DECIMAL(28,14)-quantized sums the oracle
    // computes, so the eigenpair is bit-identical to the SQL unroll.
    val cells = covMatrix(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val d = Dims
    var v = Array.fill(d)(0.125)
    for (_ <- 1 to PwIters) {
      val w = Array.tabulate(d)(i =>
        decSum14((0 until d).map(j => cells((i.toLong, j.toLong)) * v(j))))
      val nm = math.sqrt(decSum14(w.map(x => x * x)))
      v = w.map(_ / nm)
    }
    val wf = Array.tabulate(d)(i =>
      decSum14((0 until d).map(j => cells((i.toLong, j.toLong)) * v(j))))
    val lam = decSum14((0 until d).map(i => v(i) * wf(i)))
    val tr = decSum14((0 until d).map(i => cells((i.toLong, i.toLong))))
    import spark.implicits._
    (0 until d).map(i => (i.toLong, round6(v(i)), round6(lam),
        round6(lam / tr)))
      .toDF("dim", "loading", "eigenvalue", "explained_share")
  }

  val pw1PowerIterationSql: String = {
    // every chained CTE is MATERIALIZED: DuckDB inlines CTEs by default,
    // and each iteration references its predecessor twice (matvec +
    // norm), so inlining would expand cov 2^PwIters times
    val iterCtes = (1 to PwIters).map { t =>
      s"""w$t AS MATERIALIZED (SELECT c.i,
         |  CAST(SUM(CAST(c.c * v${t - 1}.x AS DECIMAL(28,14))) AS DOUBLE)
         |    AS x
         |  FROM cov c JOIN v${t - 1} ON v${t - 1}.i = c.j GROUP BY 1),
         |n$t AS MATERIALIZED (SELECT sqrt(CAST(SUM(CAST(x * x
         |  AS DECIMAL(28,14))) AS DOUBLE)) AS nm FROM w$t),
         |v$t AS MATERIALIZED (SELECT i, x / nm AS x FROM w$t, n$t)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH x AS (
       |  SELECT vec_id, CAST(i - 1 AS BIGINT) AS i,
       |    CAST(embedding[i] AS DOUBLE) AS x
       |  FROM embeddings, range(1, ${Dims + 1}) t(i)),
       |nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM x WHERE i = 0),
       |mm AS (SELECT i, CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE)
       |         / nn.n AS m FROM x, nn GROUP BY i, nn.n),
       |cov AS MATERIALIZED (
       |  SELECT a.i, b.i AS j,
       |    CAST(SUM(CAST(a.x * b.x AS DECIMAL(28,12))) AS DOUBLE) / nn.n
       |      - ma.m * mb.m AS c
       |  FROM x a JOIN x b USING (vec_id)
       |  JOIN mm ma ON ma.i = a.i JOIN mm mb ON mb.i = b.i, nn
       |  GROUP BY a.i, b.i, ma.m, mb.m, nn.n),
       |v0 AS (SELECT CAST(i AS BIGINT) AS i, 0.125 AS x
       |       FROM range(0, $Dims) t(i)),
       |$iterCtes,
       |wf AS (SELECT c.i,
       |  CAST(SUM(CAST(c.c * v$PwIters.x AS DECIMAL(28,14))) AS DOUBLE)
       |    AS x
       |  FROM cov c JOIN v$PwIters ON v$PwIters.i = c.j GROUP BY 1),
       |lam AS (SELECT CAST(SUM(CAST(v$PwIters.x * wf.x AS DECIMAL(28,14)))
       |  AS DOUBLE) AS l FROM v$PwIters JOIN wf USING (i)),
       |tr AS (SELECT CAST(SUM(CAST(c AS DECIMAL(28,14))) AS DOUBLE) AS t
       |       FROM cov WHERE i = j)
       |SELECT v$PwIters.i AS dim, round(v$PwIters.x, 6) AS loading,
       |  round(lam.l, 6) AS eigenvalue,
       |  round(lam.l / tr.t, 6) AS explained_share
       |FROM v$PwIters, lam, tr""".stripMargin
  }

  // ---------------------------------------------------------------------
  // IMB1: class-balance weights over the embedding labels — plain
  // inverse frequency and the effective-number-of-samples form
  // (Cui et al. 2019: w ∝ (1−β)/(1−βⁿ), β = 0.999), both normalized to
  // mean 1 over the k classes so they drop into a loss unchanged. One
  // label scan; the normalizers are k-row DECIMAL sums.
  // ---------------------------------------------------------------------
  private[graft] val ImbBeta = 0.999

  def imb1ClassWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.embeddings(spark, sfDir)
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
    val k = counts.agg(count(lit(1)).as("__k"),
      sum(col("n")).as("__tot"))
    val raw = counts.crossJoin(broadcast(k))
      .select(col("label"), col("n"),
        (col("__tot").cast("double") /
          (col("__k") * col("n")).cast("double")).as("__inv"),
        // 1−β precomputed in Scala and interpolated verbatim into the
        // oracle: DuckDB's DECIMAL "1.0 - 0.999" is exactly 0.001 while
        // the double difference is not — one shared literal settles it
        (lit(1.0 - ImbBeta) /
          (lit(1.0) - pow(lit(ImbBeta), col("n").cast("double"))))
          .as("__ens"))
    val norms = raw.agg(
      (sum(col("__inv").cast("decimal(28,14)")).cast("double") /
        count(lit(1))).as("__zi"),
      (sum(col("__ens").cast("decimal(28,14)")).cast("double") /
        count(lit(1))).as("__ze"))
    raw.crossJoin(broadcast(norms))
      .select(col("label"), col("n"),
        round(col("__inv") / col("__zi"), 6).as("inv_weight"),
        round(col("__ens") / col("__ze"), 6).as("ens_weight"))
  }

  val imb1ClassWeightsSql: String =
    s"""WITH c AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
       |           FROM embeddings GROUP BY 1),
       |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
       |        CAST(SUM(n) AS BIGINT) AS tot FROM c),
       |raw AS (SELECT label, n,
       |    CAST(tot AS DOUBLE) / CAST(k.k * n AS DOUBLE) AS inv,
       |    CAST(${1.0 - ImbBeta} AS DOUBLE)
       |      / (1.0 - power($ImbBeta, CAST(n AS DOUBLE))) AS ens
       |  FROM c, k),
       |z AS (SELECT
       |    CAST(SUM(CAST(inv AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*)
       |      AS zi,
       |    CAST(SUM(CAST(ens AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*)
       |      AS ze
       |  FROM raw)
       |SELECT label, n, round(inv / zi, 6) AS inv_weight,
       |  round(ens / ze, 6) AS ens_weight
       |FROM raw, z""".stripMargin

  val all: Seq[Query] = Seq(
    Query("sil1_silhouette", sil1Silhouette, sil1SilhouetteSql),
    Query("pw1_power_iteration", pw1PowerIteration, pw1PowerIterationSql),
    Query("imb1_class_weights", imb1ClassWeights, imb1ClassWeightsSql))
}
