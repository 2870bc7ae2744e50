package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextHash
import graft.operators.Dedup

/** Round-2 query inventory, fourth batch: explicit GROUPING SETS, corpus
  * token-frequency scoring, quality-aware duplicate-cluster survivor
  * selection, and per-label embedding centroids. Same contract as
  * [[Queries]]: each Spark dataflow paired with DuckDB SQL computing the
  * identical result.
  */
object Queries5 {

  // ---------------------------------------------------------------------
  // Q13: explicit grouping sets — (flag, status), (flag), () in one pass.
  // Catalyst expands to a single Expand + partial aggregation, one
  // shuffle; grouping_id disambiguates the aggregation level (Spark and
  // DuckDB share the Postgres bit convention: leftmost column = MSB).
  // ---------------------------------------------------------------------
  def q13GroupingSets(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
  val q13GroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |  (l_returnflag), ())""".stripMargin

  // ---------------------------------------------------------------------
  // T9: corpus-frequency scoring — mean corpus term frequency and
  // rare-token ratio per document (the integer-arithmetic stand-in for an
  // LM perplexity filter: low mean_tf / high rare_ratio = unusual text).
  // Pure integer sums, so the oracle matches bit-for-bit — no
  // transcendentals whose last-ulp rounding differs across engines.
  // Scale posture: the vocabulary aggregate is Zipf-bounded (heavy
  // hitters dominate) and broadcasts; at open-web vocabulary scale the
  // same plan runs as a shuffle join on tok — one line changed.
  // ---------------------------------------------------------------------
  def t9Rarity(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
    toks.join(broadcast(vocab), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("tf")).as("freq_sum"),
        sum(when(col("tf") <= 2, lit(1L)).otherwise(lit(0L))).as("n_rare"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("freq_sum").cast("double") / col("n_tokens"), 6).as("mean_tf"),
        round(col("n_rare").cast("double") / col("n_tokens"), 6).as("rare_ratio"))
  }
  val t9RaritySql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${graft.functions.TextHashSql.tokens("text")}) AS tok
       |  FROM documents),
       |vocab AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY 1)
       |SELECT t.doc_id, COUNT(*) AS n_tokens,
       |  round(CAST(SUM(v.tf) AS DOUBLE) / COUNT(*), 6) AS mean_tf,
       |  round(CAST(SUM(CASE WHEN v.tf <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS rare_ratio
       |FROM toks t JOIN vocab v USING (tok)
       |GROUP BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // D8: quality-aware survivor selection — cluster near-dups (connected
  // components over MinHash-verified pairs), then keep the LONGEST doc of
  // each cluster (n_chars desc, doc_id asc tie-break) instead of the
  // arbitrary min-id. Emits every clustered doc with its survivor and a
  // keep-flag; the full-corpus apply is then one broadcast anti-join.
  // ---------------------------------------------------------------------
  def d8ClusterSurvivors(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val pairs = Dedup.minhashNearDups(docs,
      "doc_id", "text", threshold = 0.5, nPerm = 16, bands = 8, shingleN = 2)
    val comp = Dedup.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    comp.join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .select(col("doc_id"), col("cluster_id"),
        first(col("doc_id")).over(w).as("survivor_id"))
      .withColumn("is_survivor", col("doc_id") === col("survivor_id"))
  }
  val d8ClusterSurvivorsSql: String =
    s"""WITH RECURSIVE pairs AS (${Queries.d2MinhashPairsSql}),
       |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
       |          UNION SELECT id2 AS src, id1 AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, rr.r FROM edges e JOIN reach rr ON rr.id = e.dst),
       |comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT c.doc_id, c.cluster_id,
       |  FIRST_VALUE(c.doc_id) OVER
       |    (PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.doc_id ASC)
       |    AS survivor_id,
       |  c.doc_id = FIRST_VALUE(c.doc_id) OVER
       |    (PARTITION BY c.cluster_id ORDER BY d.n_chars DESC, c.doc_id ASC)
       |    AS is_survivor
       |FROM comp c JOIN documents d USING (doc_id)""".stripMargin

  // ---------------------------------------------------------------------
  // A6: per-label embedding centroids (one Lloyd assignment-free step —
  // the codebook-training primitive behind the IVF index in a4). Explode
  // to (label, dim, x) and mean per cell: the explode-aggregate shape is
  // the scalable way to average vectors — partial sums map-side, one
  // shuffle keyed (label, dim), never a collect. Cross-row double sums
  // are order-sensitive, so sum in DECIMAL (exact, associative) and
  // divide once at the end.
  // ---------------------------------------------------------------------
  def a6Centroids(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos").cast("long").as("dim"))
      .agg(round(
        sum(col("col").cast("double").cast("decimal(28,12)")).cast("double") /
          count(lit(1)), 6).as("centroid"))
  val a6CentroidsSql: String =
    """SELECT label, i AS dim,
      |  round(CAST(SUM(CAST(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
      |      AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*), 6) AS centroid
      |FROM embeddings, range(0, 64) t(i)
      |GROUP BY label, i""".stripMargin

  // ---------------------------------------------------------------------
  // A7: trained IVF — Lloyd's k-means (2 iterations, deterministic seed =
  // first 8 vectors) trains the codebook that a4 takes as given, then the
  // same probe search runs against the trained centroids. Training is two
  // broadcast-assign map passes + per-(centroid, dim) shuffle averages;
  // the codebook itself is index metadata (k x 64 doubles) and rides to
  // the probes as a literal. Centroid means use exact DECIMAL sums so the
  // trained codebook is bit-identical across partitionings and engines.
  // ---------------------------------------------------------------------
  def a7IvfTrained(spark: SparkSession, sfDir: String): DataFrame = {
    val embs = Tables.embeddings(spark, sfDir)
    val queries = embs.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val codebook = graft.operators.Ann.kmeans(embs, k = 8, iters = 2)
    graft.operators.Ann.ivfTopK(embs, queries, codebook, k = 5, nProbe = 2)
      .select(col("qid"), col("vec_id"), round(col("score"), 6).as("score"))
  }
  val a7IvfTrainedSql: String = {
    import graft.operators.AnnSql
    val c = Queries.sqlCosine("v.embedding", "p.qvec")
    def assign(cb: String) =
      s"""SELECT vec_id, cid FROM (
         |  SELECT v.vec_id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${AnnSql.sqDist("v.embedding", "c.cvec")} ASC,
         |        c.cid ASC) AS rn
         |  FROM embeddings v, $cb c) WHERE rn = 1""".stripMargin
    def step(prev: String, a: String, m: String, next: String) =
      s"""$a AS (${assign(prev)}),
         |$m AS (
         |  SELECT a.cid, i AS dim,
         |    CAST(SUM(CAST(CAST(v.embedding[CAST(i AS INT) + 1] AS DOUBLE)
         |      AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
         |  FROM $a a JOIN embeddings v USING (vec_id), range(0, 64) t(i)
         |  GROUP BY a.cid, i),
         |$next AS (
         |  SELECT c0.cid, COALESCE(c1.cvec, c0.cvec) AS cvec
         |  FROM $prev c0 LEFT JOIN (
         |    SELECT cid, list(m ORDER BY dim) AS cvec FROM $m GROUP BY cid
         |  ) c1 USING (cid))""".stripMargin
    s"""WITH cb0 AS (
       |  SELECT vec_id AS cid,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
       |  FROM embeddings WHERE vec_id < 8),
       |${step("cb0", "asg1", "m1", "cb1")},
       |${step("cb1", "asg2", "m2", "cb2")},
       |av AS (${assign("cb2")}),
       |probes AS (
       |  SELECT qid, qvec, cid FROM (
       |    SELECT q.vec_id AS qid, q.embedding AS qvec, c.cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${AnnSql.sqDist("q.embedding", "c.cvec")} ASC,
       |          c.cid ASC) AS rn
       |    FROM embeddings q, cb2 c WHERE q.vec_id < 5) WHERE rn <= 2)
       |SELECT qid, vec_id, score FROM (
       |  SELECT p.qid AS qid, v.vec_id AS vec_id, round($c, 6) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY p.qid
       |                       ORDER BY $c DESC, v.vec_id ASC) AS rn
       |  FROM probes p JOIN av a ON a.cid = p.cid
       |  JOIN embeddings v ON v.vec_id = a.vec_id)
       |WHERE rn <= 5""".stripMargin
  }

  // ---------------------------------------------------------------------
  // T10: compression-ratio quality signal — deflate bytes / raw bytes per
  // document (boilerplate and repeated spans compress far better than
  // prose; a standard cheap pre-training filter). DuckDB has no portable
  // deflate, so the oracle is BOUND-style: raw_bytes is portable
  // (octet_length), and two derived booleans assert the per-doc deflate
  // output is structurally sane — `z_bounded` pins the zlib worst-case
  // expansion envelope (1 <= deflate_bytes <= raw_bytes + 64; observed
  // max expansion on the fixture is +6 bytes), and `ratio_in_band` pins
  // the corpus-calibrated ratio band (0.3, 1.2) (observed fixture range
  // 0.38..1.13, same pinning style as t11's outlier band). DuckDB emits
  // the portable columns plus literal TRUE, so a deflate regression
  // hash-mismatches. Exact byte counts and monotonicity stay pinned in
  // NativeKernelsSpec.
  // ---------------------------------------------------------------------
  def t10Compression(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.Native.deflateStats(col("text")).as("__z"))
      .select(col("doc_id"),
        col("__z.raw_bytes").as("raw_bytes"),
        (col("__z.deflate_bytes") >= 1L &&
          col("__z.deflate_bytes") <= col("__z.raw_bytes") + 64L)
          .as("z_bounded"),
        (col("__z.deflate_bytes").cast("double") >
            col("__z.raw_bytes").cast("double") * 0.3d &&
          col("__z.deflate_bytes").cast("double") <
            col("__z.raw_bytes").cast("double") * 1.2d).as("ratio_in_band"))
  val t10CompressionSql: String =
    """SELECT doc_id,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS raw_bytes,
      |  TRUE AS z_bounded,
      |  TRUE AS ratio_in_band
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // M4: resize planning — clamp the longest decoded side to 128 px,
  // aspect-preserved integer floor arithmetic. Plans the batch without
  // touching a pixel (map-side column math over the decode stage's
  // metadata); the resample itself belongs to the codec in decodeFeatures.
  // ---------------------------------------------------------------------
  def m4ResizePlan(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Multimodal.resizePlan(
      graft.operators.Multimodal.decodeFeatures(
        graft.operators.Multimodal.mediaTable(
          Tables.documents(spark, sfDir))).toDF(),
      maxSide = 128)
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("out_width"), col("out_height"), col("is_scaled"))
  val m4ResizePlanSql: String =
    s"""SELECT media_id, kind, width, height,
       |  CAST(CASE WHEN m <= 128 THEN width
       |    ELSE greatest(1, CAST(floor(width * 128 / m) AS INT)) END AS INT)
       |    AS out_width,
       |  CAST(CASE WHEN m <= 128 THEN height
       |    ELSE greatest(1, CAST(floor(height * 128 / m) AS INT)) END AS INT)
       |    AS out_height,
       |  m > 128 AS is_scaled
       |FROM (
       |  SELECT doc_id AS media_id, kind,
       |    CAST(16 + (n * 7) % 240 AS INT) AS width,
       |    CAST(16 + (n * 13) % 240 AS INT) AS height,
       |    greatest(CAST(16 + (n * 7) % 240 AS INT),
       |             CAST(16 + (n * 13) % 240 AS INT)) AS m
       |  FROM (SELECT doc_id, ${graft.operators.MultimodalSql.kindExpr} AS kind,
       |               CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n
       |        FROM documents))""".stripMargin

  // ---------------------------------------------------------------------
  // M5: REAL image decode under oracle — deterministic real PNGs (dims +
  // fill color are pure functions of doc_id) encoded by the JDK PNG
  // writer in one distributed map, decoded back by javax.imageio in
  // another. The oracle states the generation formulas; matching them
  // proves the codec round trip, not formula mirroring — the decode
  // reads the raster. Video remains the only stubbed codec (see M6).
  // ---------------------------------------------------------------------
  def m5PngDecode(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Multimodal.decodePng(
      graft.operators.Multimodal.pngTable(
        Tables.documents(spark, sfDir))).toDF()
  val m5PngDecodeSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(8 + doc_id % 24 AS INT) AS width,
      |  CAST(8 + (doc_id * 3) % 24 AS INT) AS height,
      |  CAST(doc_id % 256 AS INT) AS red,
      |  CAST((doc_id * 7) % 256 AS INT) AS green,
      |  CAST((doc_id * 13) % 256 AS INT) AS blue
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // M6: REAL WAV audio decode — deterministic 16-bit PCM WAVs encoded by
  // the JDK's own javax.sound.sampled writer, decoded back by its reader;
  // rate/channels/frames are pure functions of doc_id, so the oracle
  // states what a real WAV header parse must recover (the m5 pattern for
  // the audio kind; video remains the one honest stub).
  // ---------------------------------------------------------------------
  def m6AudioDecode(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Multimodal.decodeWav(
      graft.operators.Multimodal.wavTable(
        Tables.documents(spark, sfDir))).toDF()
  val m6AudioDecodeSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(([8000,16000,22050,44100])[CAST(doc_id % 4 AS INT) + 1] AS INT)
      |    AS sample_rate,
      |  CAST(1 + doc_id % 2 AS INT) AS channels,
      |  CAST(16 AS INT) AS bits,
      |  CAST(100 + (doc_id * 17) % 4000 AS BIGINT) AS n_frames,
      |  (CAST(100 + (doc_id * 17) % 4000 AS BIGINT) * 1000)
      |    // ([8000,16000,22050,44100])[CAST(doc_id % 4 AS INT) + 1]
      |    AS duration_ms
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // X3: full-outer join — per-user event totals against a customer
  // account slice with unmatched rows on BOTH sides (users without
  // accounts, accounts without events). Completes the join-family
  // coverage (inner/broadcast, semi, anti, as-of, range, salted, full
  // outer). At scale a full outer is a shuffle join on the key — both
  // sides keyed, no broadcast (neither side may be dropped).
  // ---------------------------------------------------------------------
  def x3FullOuter(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
    val cust = Tables.customer(spark, sfDir)
      .where(col("c_custkey").between(100, 299))
      .select(col("c_custkey"), col("c_acctbal"))
    ev.join(cust, ev("user_id") === cust("c_custkey"), "full_outer")
      .select(coalesce(col("user_id"), col("c_custkey")).as("key"),
        col("n_events"), col("c_acctbal").as("acctbal"),
        col("user_id").isNotNull.as("has_events"),
        col("c_custkey").isNotNull.as("has_account"))
  }
  val x3FullOuterSql: String =
    """SELECT COALESCE(e.user_id, c.c_custkey) AS key, e.n_events,
      |  c.c_acctbal AS acctbal,
      |  e.user_id IS NOT NULL AS has_events,
      |  c.c_custkey IS NOT NULL AS has_account
      |FROM (SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY 1) e
      |FULL OUTER JOIN (SELECT c_custkey, c_acctbal FROM customer
      |                 WHERE c_custkey BETWEEN 100 AND 299) c
      |ON e.user_id = c.c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // SMP2: balanced sampling — EXACTLY k docs per language (smp1's rate
  // sampling keeps ~fraction; mixture targets often need exact counts).
  // Rank within each stratum by content hash then id (deterministic,
  // partitioning-independent) and keep the first k. One window shuffle
  // keyed by the stratum.
  // ---------------------------------------------------------------------
  def smp2BalancedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(graft.operators.Sampling.hashBucket(col("doc_id"), 1000000),
        col("doc_id"))
    Tables.documents(spark, sfDir)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= 20)
      .select(col("doc_id"), col("lang"))
  }
  val smp2BalancedSampleSql: String =
    s"""SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang
       |    ORDER BY ${graft.operators.SamplingSql.hashBucket("doc_id", 1000000)},
       |      doc_id) AS rn
       |  FROM documents) WHERE rn <= 20""".stripMargin

  // ---------------------------------------------------------------------
  // T11: length-outlier filter — flag docs outside the corpus's [p5, p95]
  // char-length band (truncated garbage / concatenation accidents). The
  // two quantiles are one aggregate broadcast back to the scan: no
  // per-row sort, no second shuffle of the corpus.
  // ---------------------------------------------------------------------
  def t11LengthOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val bounds = docs.agg(
      percentile(col("n_chars"), array(lit(0.05), lit(0.95))).as("__p"))
      .select(element_at(col("__p"), 1).as("__lo"),
        element_at(col("__p"), 2).as("__hi"))
    docs.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("n_chars"),
        (col("n_chars") < col("__lo") || col("n_chars") > col("__hi"))
          .as("is_outlier"))
  }
  val t11LengthOutliersSql: String =
    """SELECT doc_id, n_chars,
      |  (n_chars < lo OR n_chars > hi) AS is_outlier
      |FROM documents, (SELECT quantile_cont(n_chars, 0.05) AS lo,
      |                        quantile_cont(n_chars, 0.95) AS hi
      |                 FROM documents)""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q13_grouping_sets", q13GroupingSets, q13GroupingSetsSql),
    Query("t9_rarity", t9Rarity, t9RaritySql),
    Query("d8_cluster_survivors", d8ClusterSurvivors, d8ClusterSurvivorsSql),
    Query("a6_centroids", a6Centroids, a6CentroidsSql),
    Query("a7_ivf_trained", a7IvfTrained, a7IvfTrainedSql),
    Query("t10_compression", t10Compression, t10CompressionSql),
    Query("m4_resize_plan", m4ResizePlan, m4ResizePlanSql),
    Query("m5_png_decode", m5PngDecode, m5PngDecodeSql),
    Query("m6_audio_decode", m6AudioDecode, m6AudioDecodeSql),
    Query("x3_full_outer", x3FullOuter, x3FullOuterSql),
    Query("smp2_balanced_sample", smp2BalancedSample, smp2BalancedSampleSql),
    Query("t11_length_outliers", t11LengthOutliers, t11LengthOutliersSql))
}
