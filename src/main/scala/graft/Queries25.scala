package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 continuation: iterative graph analytics. Same contract as
  * [[Queries]].
  */
object Queries25 {

  // ---------------------------------------------------------------------
  // PR1: PageRank over the purchase graph — customers and suppliers as
  // nodes (disjoint bigint id spaces: even = customer, odd = supplier),
  // one symmetric edge per distinct (customer, supplier) trade from
  // lineitem ⋈ orders. Six power iterations, damping 0.85, DECIMAL-
  // quantized contribution sums (operators/PageRank) — the "who anchors
  // the trade network" centrality. Symmetrizing makes every node have
  // out-edges, so no dangling-mass correction is needed and rank mass is
  // conserved. The oracle unrolls the six iterations as chained CTEs
  // with identical arithmetic.
  // ---------------------------------------------------------------------
  private val PrIters = 6

  def pr1PageRank(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("c"),
        (col("l_suppkey").cast("long") * 2 + 1).as("s"))
      .distinct()
    val edges = pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionAll(pairs.select(col("s").as("src"), col("c").as("dst")))
    graft.operators.PageRank.ranks(edges, PrIters)
      .select(col("node"), round(col("rank"), 6).as("rank"))
  }

  val pr1PageRankSql: String = {
    def iter(k: Int): String =
      s"""p$k AS (
         |  SELECT nodes.node,
         |    CAST(0.15 AS DOUBLE)/nn.n
         |      + CAST(0.85 AS DOUBLE)*COALESCE(c.s, CAST(0.0 AS DOUBLE)) AS rank
         |  FROM nodes CROSS JOIN nn LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(SUM(CAST(p.rank/d.outd AS DECIMAL(28,10))) AS DOUBLE) AS s
         |    FROM e JOIN d ON e.src = d.src JOIN p${k - 1} p ON p.node = e.src
         |    GROUP BY e.dst) c ON c.node = nodes.node)""".stripMargin
    s"""WITH pairs AS (
       |  SELECT DISTINCT CAST(o_custkey AS BIGINT)*2 AS c,
       |    CAST(l_suppkey AS BIGINT)*2 + 1 AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |e AS (SELECT c AS src, s AS dst FROM pairs
       |      UNION ALL SELECT s, c FROM pairs),
       |d AS (SELECT src, COUNT(*) AS outd FROM e GROUP BY src),
       |nodes AS (SELECT DISTINCT src AS node FROM e),
       |nn AS (SELECT COUNT(*) AS n FROM nodes),
       |p0 AS (SELECT node, CAST(1.0 AS DOUBLE)/nn.n AS rank
       |       FROM nodes CROSS JOIN nn),
       |${(1 to PrIters).map(iter).mkString(",\n")}
       |SELECT node, round(rank, 6) AS rank FROM p$PrIters""".stripMargin
  }

  // ---------------------------------------------------------------------
  // TOK4: BPE ENCODE — the apply half of the tokenizer loop tok3 trains.
  // The corpus is re-encoded under the trained merge table (which falls
  // out of the train loop for free: each round applies its winner before
  // the next count) and reduced to the post-merge token-frequency table —
  // the vocabulary histogram a tokenizer ships with. Same doubled-
  // separator left-scan merge semantics as tok3 on both engines; the
  // oracle replays the training CTE chain one round further (the final
  // apply) and counts tokens.
  // ---------------------------------------------------------------------
  def tok4BpeEncode(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Bpe.encodedCounts(
      Tables.documents(spark, sfDir), "text", Queries24.BpeRounds)

  val tok4BpeEncodeSql: String = {
    def doubledSql(t: String) =
      s"concat(' ', array_to_string(string_split_regex(trim($t), ' +'), '  '), ' ')"
    def pairsOf(rel: String, p: String, w: String) =
      s"""$p AS (
         |  SELECT s[1] AS a, s[2] AS b FROM (
         |    SELECT unnest(list_zip(l[1:len(l) - 1], l[2:len(l)])) AS s
         |    FROM (SELECT string_split_regex(trim(txt), ' +') AS l FROM $rel))),
         |$w AS (SELECT a, b, COUNT(*) AS n FROM $p GROUP BY a, b
         |       ORDER BY n DESC, a, b LIMIT 1)""".stripMargin
    def nextRound(prev: String, w: String, next: String) =
      s"""$next AS (
         |  SELECT ${doubledSql(s"replace(txt, (SELECT concat(' ', a, '  ', b, ' ') FROM $w), (SELECT concat(' ', a, '_', b, ' ') FROM $w))")} AS txt
         |  FROM $prev)""".stripMargin
    val r = Queries24.BpeRounds
    val ctes = Seq(
      s"r0 AS (SELECT ${doubledSql("text")} AS txt FROM documents)") ++
      (1 to r).flatMap { k =>
        Seq(pairsOf(s"r${k - 1}", s"p$k", s"w$k"),
          nextRound(s"r${k - 1}", s"w$k", s"r$k"))
      }
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM (
       |  SELECT unnest(string_split_regex(trim(txt), ' +')) AS token FROM r$r)
       |WHERE token <> '' GROUP BY token""".stripMargin
  }

  // ---------------------------------------------------------------------
  // SEM1: semantic dedup, SemDeDup-shaped (Abbas et al. 2023) — cluster
  // the embedding space with the trained k-means codebook (a7's), then
  // find near-duplicate pairs ONLY within clusters (exact cosine, the
  // d5 threshold) and drop every vector that has a lower-id qualifying
  // neighbor, reporting its keeper. The clustering turns the quadratic
  // all-pairs scan into per-cluster blocks — the blocking IS the scale
  // technique: at 100 TB, k grows with N to hold cluster sizes bounded,
  // clusters are partition keys, and the codebook stays k×dim driver
  // metadata. Output: (vec_id, keeper_id, cosine) per dropped vector,
  // keeper = lowest-id qualifying neighbor (deterministic survivorship).
  // ---------------------------------------------------------------------
  def sem1SemanticDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val embs = Tables.embeddings(spark, sfDir)
    semanticDedupWith(embs, graft.operators.Ann.kmeans(embs, k = 8, iters = 2))
  }

  /** The sem1 dataflow against a pre-trained codebook — Soak feeds it a
    * sample-trained codebook with k scaled to the corpus (bounded cluster
    * sizes are the whole technique; k, like d10's LSH bits, is the scale
    * knob). */
  private[graft] def semanticDedupWith(embs: DataFrame,
                                       codebook: Seq[Seq[Double]]): DataFrame = {
    import graft.operators.Ann
    import graft.functions.Similarity
    val v = embs.select(col("vec_id"), col("embedding"),
      Ann.assignToCodebook(col("embedding"), codebook).as("__c"))
    val pairs = v.as("a").join(v.as("b"),
        col("a.__c") === col("b.__c") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        Similarity.score("cosine", col("a.embedding"), col("b.embedding"))
          .as("__cos"))
      .where(col("__cos").isNotNull && col("__cos") >= 0.3)
    val byDropped = Window.partitionBy(col("id2")).orderBy(col("id1").asc)
    pairs.withColumn("__rn", row_number().over(byDropped))
      .where(col("__rn") === 1)
      .select(col("id2").as("vec_id"), col("id1").as("keeper_id"),
        round(col("__cos"), 6).as("cosine"))
  }

  val sem1SemanticDedupSql: String = {
    import graft.operators.AnnSql
    val c = Queries.sqlCosine("a.embedding", "b.embedding")
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
       |vv AS (SELECT av.cid, v.vec_id, v.embedding
       |       FROM av JOIN embeddings v USING (vec_id)),
       |p AS (
       |  SELECT a.vec_id AS id1, b.vec_id AS id2, $c AS cos
       |  FROM vv a JOIN vv b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE $c IS NOT NULL AND $c >= 0.3)
       |SELECT id2 AS vec_id, id1 AS keeper_id, round(cos, 6) AS cosine
       |FROM (SELECT id1, id2, cos,
       |        ROW_NUMBER() OVER (PARTITION BY id2 ORDER BY id1 ASC) AS rn
       |      FROM p)
       |WHERE rn = 1""".stripMargin
  }

  // ---------------------------------------------------------------------
  // TRN1: deterministic training order — the epoch-shuffle every training
  // pipeline needs, as a reproducible global permutation: order docs by
  // md5(doc_id || ':' || seed) (uniform, seed-controlled, identical on
  // any engine) and assign exact 1-based positions through the
  // distributed rank primitive (operators/Ranks: range partition +
  // per-partition window + offset metadata) — a shuffled epoch at any
  // corpus size with no single-partition sort. doc_id breaks the
  // (vanishingly unlikely) hash tie so the order is total.
  // ---------------------------------------------------------------------
  def trn1TrainingOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        md5(concat(col("doc_id").cast("string"), lit(":42"))).as("__k"))
    graft.operators.Ranks
      .withGlobalRank(keyed, "position", Seq(col("__k").asc, col("doc_id").asc))
      .select(col("position"), col("doc_id"))
  }

  val trn1TrainingOrderSql: String =
    """SELECT ROW_NUMBER() OVER (
      |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id)
      |  AS position, doc_id
      |FROM documents""".stripMargin

  // ---------------------------------------------------------------------
  // HITS1: hubs & authorities over the DIRECTED purchase bipartite graph
  // (customer → supplier, one edge per distinct trade) — the companion
  // centrality to pr1: hubs are broad buyers, authorities widely-bought-
  // from suppliers. Three full rounds, L1-normalized each half-step with
  // the normalizer as a broadcast 1-row aggregate (no per-iteration
  // collect); every cross-row sum DECIMAL-quantized. The oracle unrolls
  // the rounds as chained CTEs with scalar-subquery normalizers.
  // ---------------------------------------------------------------------
  private val HitsIters = 3

  def hits1HubsAuthorities(spark: SparkSession, sfDir: String): DataFrame = {
    val edges = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").cast("long").as("c"),
        col("l_suppkey").cast("long").as("s"))
    graft.operators.Hits.ranks(edges, HitsIters)
  }

  val hits1HubsAuthoritiesSql: String = {
    def round(k: Int): String =
      s"""ar$k AS (
         |  SELECT s, CAST(SUM(CAST(h AS DECIMAL(28,10))) AS DOUBLE) AS raw
         |  FROM e JOIN h${k - 1} USING (c) GROUP BY s),
         |a$k AS (
         |  SELECT s, raw / (SELECT CAST(SUM(CAST(raw AS DECIMAL(28,10)))
         |                   AS DOUBLE) FROM ar$k) AS a
         |  FROM ar$k),
         |hr$k AS (
         |  SELECT c, CAST(SUM(CAST(a AS DECIMAL(28,10))) AS DOUBLE) AS raw
         |  FROM e JOIN a$k USING (s) GROUP BY c),
         |h$k AS (
         |  SELECT c, raw / (SELECT CAST(SUM(CAST(raw AS DECIMAL(28,10)))
         |                   AS DOUBLE) FROM hr$k) AS h
         |  FROM hr$k)""".stripMargin
    s"""WITH e AS (
       |  SELECT DISTINCT CAST(o_custkey AS BIGINT) AS c,
       |    CAST(l_suppkey AS BIGINT) AS s
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |h0 AS (SELECT DISTINCT c, CAST(1.0 AS DOUBLE) AS h FROM e),
       |${(1 to HitsIters).map(round).mkString(",\n")}
       |SELECT 'hub' AS role, c AS node, round(h, 6) AS score FROM h$HitsIters
       |UNION ALL
       |SELECT 'auth' AS role, s AS node, round(a, 6) AS score FROM a$HitsIters""".stripMargin
  }

  // ---------------------------------------------------------------------
  // NDCG1: retrieval-quality eval — NDCG@10 of the brute-force cosine
  // ranking against label-match relevance (query's label == hit's label,
  // self excluded), per query. DCG terms rel/log2(pos+1) are written in
  // ln-form and DECIMAL-quantized before summing (10 doubles is already
  // an accumulation-order hazard); IDCG places the query's min(R, 10)
  // relevant docs in the top positions, R from one label-count
  // aggregate. The ranking cut follows h1's convention: rounded score
  // desc, id tie-break. Completes the retrieval eval family
  // (h1 fusion, a5/a8 recall, now graded ranking quality).
  // ---------------------------------------------------------------------
  def ndcg1RetrievalQuality(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.Similarity
    val mem = Tables.memories(spark, sfDir)
      .select(col("id"), col("label"), col("embedding"))
    val q = mem.where(col("id") < 5)
      .select(col("id").as("qid"), col("label").as("__ql"),
        col("embedding").as("__qv"))
    val ln2 = log(lit(2.0))
    val scored = mem.join(broadcast(q), col("id") =!= col("qid"))
      .select(col("qid"), col("__ql"), col("id"), col("label"),
        round(Similarity.score("cosine", col("embedding"), col("__qv")), 6)
          .as("__s"))
      .where(col("__s").isNotNull)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("__s").desc, col("id").asc)
    val dcg = scored.withColumn("__pos", row_number().over(w))
      .where(col("__pos") <= 10)
      .withColumn("__rel", (col("label") === col("__ql")).cast("long"))
      .withColumn("__term", (col("__rel").cast("double") * ln2 /
        log((col("__pos") + 1L).cast("double"))).cast("decimal(28,12)"))
      .groupBy(col("qid"))
      .agg(sum(col("__term")).cast("double").as("__dcg"),
        sum(col("__rel")).as("n_rel_topk"))
    val labCnt = mem.groupBy(col("label")).agg(count(lit(1)).as("__lc"))
    val r = q.join(labCnt, col("label") === col("__ql"))
      .select(col("qid"), (col("__lc") - 1L).as("__R"))
    val ideal = r.where(col("__R") >= 1L)
      .withColumn("__pos", explode(sequence(lit(1L), least(col("__R"), lit(10L)))))
      .withColumn("__term",
        (ln2 / log((col("__pos") + 1L).cast("double"))).cast("decimal(28,12)"))
      .groupBy(col("qid")).agg(sum(col("__term")).cast("double").as("__idcg"))
    dcg.join(ideal, Seq("qid"), "left")
      .select(col("qid"), col("n_rel_topk"),
        round(col("__dcg"), 6).as("dcg"),
        round(coalesce(col("__idcg"), lit(0.0)), 6).as("idcg"),
        round(when(coalesce(col("__idcg"), lit(0.0)) > 0.0,
          col("__dcg") / col("__idcg")).otherwise(lit(0.0)), 6).as("ndcg"))
  }

  val ndcg1RetrievalQualitySql: String = {
    val c = Queries.sqlCosine("m.embedding", "q.qv")
    s"""WITH mem AS (
       |  SELECT d.doc_id AS id, e.label, e.embedding
       |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
       |q AS (SELECT id AS qid, label AS ql, embedding AS qv
       |      FROM mem WHERE id < 5),
       |scored AS (
       |  SELECT q.qid, q.ql, m.id, m.label, round($c, 6) AS s
       |  FROM mem m, q WHERE m.id <> q.qid AND $c IS NOT NULL),
       |top AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY s DESC, id ASC) AS pos
       |  FROM scored),
       |dcg AS (
       |  SELECT qid,
       |    CAST(SUM(CAST((CASE WHEN label = ql THEN 1.0 ELSE 0.0 END)
       |      * ln(CAST(2 AS DOUBLE)) / ln(CAST(pos + 1 AS DOUBLE))
       |      AS DECIMAL(28,12))) AS DOUBLE) AS dcg_raw,
       |    CAST(SUM(CASE WHEN label = ql THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_rel_topk
       |  FROM top WHERE pos <= 10 GROUP BY qid),
       |lc AS (SELECT label, COUNT(*) AS c FROM mem GROUP BY label),
       |r AS (SELECT qid, c - 1 AS nrel FROM q JOIN lc ON lc.label = q.ql),
       |ideal AS (
       |  SELECT qid,
       |    CAST(SUM(CAST(ln(CAST(2 AS DOUBLE)) / ln(CAST(pos + 1 AS DOUBLE))
       |      AS DECIMAL(28,12))) AS DOUBLE) AS idcg_raw
       |  FROM r, range(1, 11) t(pos)
       |  WHERE nrel >= 1 AND pos <= least(nrel, 10) GROUP BY qid)
       |SELECT dcg.qid AS qid, n_rel_topk,
       |  round(dcg_raw, 6) AS dcg,
       |  round(COALESCE(idcg_raw, CAST(0.0 AS DOUBLE)), 6) AS idcg,
       |  round(CASE WHEN COALESCE(idcg_raw, CAST(0.0 AS DOUBLE)) > 0
       |        THEN dcg_raw / idcg_raw ELSE CAST(0.0 AS DOUBLE) END, 6) AS ndcg
       |FROM dcg LEFT JOIN ideal ON ideal.qid = dcg.qid""".stripMargin
  }

  // ---------------------------------------------------------------------
  // DEG1: degree distribution of the purchase graph — (degree, n_nodes,
  // ccdf) per distinct degree, ccdf = fraction of nodes with degree ≥ d
  // (the log-log power-law plot a graph engineer reads before choosing
  // skew strategies — exactly the statistic the adaptive triangle guard
  // and autoSaltedJoin consume). Node degrees are one keyed count; the
  // CCDF window runs over the DISTINCT-DEGREE table only (bounded by
  // max degree, not node count), so the global window is metadata-sized.
  // ---------------------------------------------------------------------
  def deg1DegreeDistribution(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"))
      .join(Tables.orders(spark, sfDir).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey").cast("long") * 2).as("c"),
        (col("l_suppkey").cast("long") * 2 + 1).as("s"))
      .distinct()
    val deg = pairs.select(col("c").as("node"))
      .unionAll(pairs.select(col("s").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
    val total = deg.agg(count(lit(1)).as("__n"))
    val fromHere = Window.orderBy(col("degree"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    hist.crossJoin(broadcast(total))
      .withColumn("ccdf",
        round(sum(col("n_nodes")).over(fromHere).cast("double") /
          col("__n").cast("double"), 6))
      .select(col("degree"), col("n_nodes"), col("ccdf"))
  }

  val deg1DegreeDistributionSql: String =
    """WITH pairs AS (
      |  SELECT DISTINCT CAST(o_custkey AS BIGINT)*2 AS c,
      |    CAST(l_suppkey AS BIGINT)*2 + 1 AS s
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      |deg AS (
      |  SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
      |    SELECT c AS node FROM pairs UNION ALL SELECT s FROM pairs)
      |  GROUP BY node),
      |hist AS (SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
      |         FROM deg GROUP BY degree),
      |t AS (SELECT COUNT(*) AS n FROM deg)
      |SELECT degree, n_nodes,
      |  round(CAST(SUM(n_nodes) OVER (ORDER BY degree
      |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS DOUBLE)
      |    / CAST(n AS DOUBLE), 6) AS ccdf
      |FROM hist, t""".stripMargin

  val all: Seq[Query] = Seq(
    Query("pr1_pagerank", pr1PageRank, pr1PageRankSql),
    Query("tok4_bpe_encode", tok4BpeEncode, tok4BpeEncodeSql),
    Query("sem1_semantic_dedup", sem1SemanticDedup, sem1SemanticDedupSql),
    Query("trn1_training_order", trn1TrainingOrder, trn1TrainingOrderSql),
    Query("hits1_hubs_authorities", hits1HubsAuthorities, hits1HubsAuthoritiesSql),
    Query("ndcg1_retrieval_quality", ndcg1RetrievalQuality, ndcg1RetrievalQualitySql),
    Query("deg1_degree_distribution", deg1DegreeDistribution, deg1DegreeDistributionSql))
}
