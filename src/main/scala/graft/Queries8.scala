package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Similarity, TextHash, TextHashSql}
import graft.operators.{Chunker, ChunkerSql, ContextPack}

/** Round-3 continuation: prompt/RAG plumbing and sequence analytics —
  * context packing under a token budget, overlapping document chunking,
  * and an event-transition (Markov) matrix. Same contract as [[Queries]]:
  * each Spark dataflow paired with DuckDB SQL computing the identical
  * result.
  */
object Queries8 {

  // ---------------------------------------------------------------------
  // CTX1: context assembly — for each of 5 query vectors, rank the rest
  // of the corpus by cosine, price each hit at its document's token
  // count, and keep the score-ordered prefix that fits a 500-token
  // budget. This is the step between "search returned hits" and "prompt
  // goes to the model" in an agent-memory runtime.
  // ---------------------------------------------------------------------
  def ctx1ContextPack(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val docTokens = Tables.documents(spark, sfDir)
      .select(col("doc_id"), size(TextHash.tokens(col("text"))).cast("long").as("n_tokens"))
    val cands = emb.where(col("vec_id") >= 5)
      .join(docTokens, col("vec_id") === col("doc_id"))
      .crossJoin(broadcast(queries))
      .withColumn("score", Similarity.cosine(col("embedding"), col("qvec")))
      .where(col("score").isNotNull)
    ContextPack.pack(cands, "qid", "vec_id", "score", "n_tokens", budget = 500L)
      .select(col("qid"), col("vec_id"), col("rank"),
        round(col("score"), 6).as("score"), col("n_tokens"), col("cum_tokens"))
  }

  val ctx1ContextPackSql: String = {
    val c = Queries.sqlCosine("v.embedding", "q.qvec")
    val tk = TextHashSql.tokens("text")
    s"""WITH dt AS (SELECT doc_id, CAST(len($tk) AS BIGINT) AS n_tokens FROM documents),
       |cand AS (
       |  SELECT q.qid AS qid, v.vec_id AS vec_id, $c AS score_raw, dt.n_tokens AS n_tokens
       |  FROM embeddings v
       |  JOIN dt ON dt.doc_id = v.vec_id,
       |       (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
       |        WHERE vec_id < 5) q
       |  WHERE v.vec_id >= 5 AND $c IS NOT NULL),
       |ranked AS (
       |  SELECT qid, vec_id, score_raw, n_tokens,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |                       ORDER BY score_raw DESC, vec_id ASC) AS rank,
       |    CAST(SUM(n_tokens) OVER (PARTITION BY qid
       |      ORDER BY score_raw DESC, vec_id ASC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
       |  FROM cand)
       |SELECT qid, vec_id, rank, round(score_raw, 6) AS score, n_tokens, cum_tokens
       |FROM ranked WHERE cum_tokens <= 500""".stripMargin
  }

  // ---------------------------------------------------------------------
  // CHUNK1: overlapping token-window chunking (window 32, stride 24) —
  // RAG ingestion granularity. Pure map-side; the oracle re-derives the
  // identical slices with 1-based list_slice.
  // ---------------------------------------------------------------------
  def chunk1Chunks(spark: SparkSession, sfDir: String): DataFrame =
    Chunker.chunk(Tables.documents(spark, sfDir), "doc_id", "text",
      window = 32, stride = 24)

  val chunk1ChunksSql: String =
    ChunkerSql.chunkFrom("documents", "doc_id", "text", window = 32, stride = 24)

  // ---------------------------------------------------------------------
  // MK1: first-order Markov transition matrix over per-user event
  // sequences — P(next event type | current), the standard sequence
  // model for behavioral analytics and synthetic-trace generation.
  // One window pass + one keyed aggregation.
  // ---------------------------------------------------------------------
  def mk1Transitions(spark: SparkSession, sfDir: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .withColumn("next_type", lead(col("event_type"), 1).over(seq))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("cur"), col("next_type").as("next"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p",
        round(col("n") / sum(col("n")).over(Window.partitionBy(col("cur"))), 6))
  }

  val mk1TransitionsSql: String =
    """WITH seq AS (
      |  SELECT event_type AS cur,
      |    LEAD(event_type, 1) OVER (PARTITION BY user_id
      |                              ORDER BY ts ASC, event_id ASC) AS next
      |  FROM events),
      |t AS (SELECT cur, next, count(*) AS n FROM seq
      |      WHERE next IS NOT NULL GROUP BY cur, next)
      |SELECT cur, next, n,
      |  round(n / CAST(SUM(n) OVER (PARTITION BY cur) AS DOUBLE), 6) AS p
      |FROM t""".stripMargin

  // ---------------------------------------------------------------------
  // PQ1: product-quantization ANN — per-subspace k-means codebooks
  // (4 subspaces × 16 dims, 8 centroids, 1 Lloyd iteration, same
  // deterministic init as a7), vectors encoded as 4 codes, queries
  // answered by asymmetric distance computation. The oracle re-derives
  // the whole pipeline — training, encoding, distance tables, top-10 —
  // in SQL, exactly as a7 does for IVF.
  // ---------------------------------------------------------------------
  private val PqM = 4
  private val PqSub = 16
  private val PqK = 8

  def pq1PqAdc(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ann
    val embs = Tables.embeddings(spark, sfDir)
    val queries = embs.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val books = Ann.pqTrain(embs, m = PqM, subDim = PqSub, k = PqK, iters = 1)
    Ann.pqAdcTopK(embs, queries, books, subDim = PqSub, k = 10)
      .select(col("qid"), col("vec_id"),
        round(col("approx_dist"), 6).as("approx_dist"))
  }

  val pq1PqAdcSql: String = {
    import graft.operators.AnnSql
    def off(s: Int) = s * PqSub
    def sliceOf(v: String, s: Int) =
      s"list_slice($v, ${off(s) + 1}, ${off(s) + PqSub})"
    def assign(cb: String, s: Int) =
      s"""SELECT vec_id, cid FROM (
         |  SELECT v.vec_id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY v.vec_id
         |      ORDER BY ${AnnSql.sqDist(sliceOf("v.embedding", s), "c.cvec")} ASC,
         |        c.cid ASC) AS rn
         |  FROM embeddings v, $cb c) WHERE rn = 1""".stripMargin
    def subspace(s: Int) =
      s"""cb0_$s AS (
         |  SELECT vec_id AS cid,
         |    list_transform(${sliceOf("embedding", s)}, x -> CAST(x AS DOUBLE)) AS cvec
         |  FROM embeddings WHERE vec_id < $PqK),
         |asg_$s AS (${assign(s"cb0_$s", s)}),
         |m_$s AS (
         |  SELECT a.cid, i AS dim,
         |    CAST(SUM(CAST(CAST(v.embedding[CAST(${off(s)} + i AS INT) + 1] AS DOUBLE)
         |      AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
         |  FROM asg_$s a JOIN embeddings v USING (vec_id), range(0, $PqSub) t(i)
         |  GROUP BY a.cid, i),
         |cb1_$s AS (
         |  SELECT c0.cid, COALESCE(c1.cvec, c0.cvec) AS cvec
         |  FROM cb0_$s c0 LEFT JOIN (
         |    SELECT cid, list(m ORDER BY dim) AS cvec FROM m_$s GROUP BY cid
         |  ) c1 USING (cid)),
         |code_$s AS (${assign(s"cb1_$s", s)}),
         |qt_$s AS (
         |  SELECT q.vec_id AS qid, c.cid,
         |    ${AnnSql.sqDist(sliceOf("q.embedding", s), "c.cvec")} AS d
         |  FROM embeddings q, cb1_$s c WHERE q.vec_id < 5)""".stripMargin
    val subs = (0 until PqM).map(subspace).mkString(",\n")
    val codeJoins = (1 until PqM)
      .map(s => s"JOIN code_$s c$s USING (vec_id)").mkString("\n  ")
    val qtJoins = (0 until PqM).map { s =>
      if (s == 0) s"JOIN qt_0 d0 ON d0.cid = c0.cid"
      else s"JOIN qt_$s d$s ON d$s.cid = c$s.cid AND d$s.qid = d0.qid"
    }.mkString("\n  ")
    val dsum = (0 until PqM).map(s => s"d$s.d").mkString(" + ")
    s"""WITH $subs
       |SELECT qid, vec_id, approx_dist FROM (
       |  SELECT d0.qid AS qid, c0.vec_id AS vec_id,
       |    round($dsum, 6) AS approx_dist,
       |    ROW_NUMBER() OVER (PARTITION BY d0.qid
       |                       ORDER BY $dsum ASC, c0.vec_id ASC) AS rn
       |  FROM code_0 c0
       |  $codeJoins
       |  $qtJoins)
       |WHERE rn <= 10""".stripMargin
  }

  // ---------------------------------------------------------------------
  // D10: embedding near-dup mining via signed-random-projection LSH —
  // the bucketed scale path for cosine near-dup (d5 keeps the blocked
  // exact baseline). 16 deterministic LCG hyperplanes → 16-bit sign
  // signature → 4 bands × 4 bits → band-key equi-join → exact cosine
  // verify at 0.4. The oracle mirrors the identical planes, signatures,
  // bands, and verify, so LSH's false negatives cancel exactly.
  // ---------------------------------------------------------------------
  def d10SrpNearDup(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Dedup.srpNearDups(
        Tables.embeddings(spark, sfDir), "vec_id", "embedding",
        threshold = 0.4, nPlanes = 16, bands = 4)
      .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))

  val d10SrpNearDupSql: String = {
    val c = Queries.sqlCosine("x.embedding", "y.embedding")
    s"""WITH planes AS (
       |  SELECT j, list((((1103515245 * (j * 64 + d) + 12345) % 2147483648)
       |                  % 1000 - 500) / 500.0 ORDER BY d) AS h
       |  FROM range(0, 16) tj(j), range(0, 64) td(d) GROUP BY j),
       |dots AS (
       |  SELECT e.vec_id, p.j,
       |    list_sum(list_transform(range(1, 65),
       |      i -> CAST(e.embedding[i] AS DOUBLE) * p.h[i])) AS dot
       |  FROM embeddings e, planes p),
       |sig AS (
       |  SELECT vec_id,
       |    CAST(SUM(CASE WHEN dot >= 0 THEN 1 << j ELSE 0 END) AS BIGINT) AS sig
       |  FROM dots GROUP BY vec_id),
       |banded AS (
       |  SELECT vec_id, b, (sig >> (b * 4)) & 15 AS key
       |  FROM sig, range(0, 4) tb(b)),
       |cands AS (
       |  SELECT DISTINCT a.vec_id AS id1, c.vec_id AS id2
       |  FROM banded a JOIN banded c
       |    ON a.b = c.b AND a.key = c.key AND a.vec_id < c.vec_id)
       |SELECT id1, id2, round($c, 6) AS cosine
       |FROM cands
       |JOIN embeddings x ON x.vec_id = id1
       |JOIN embeddings y ON y.vec_id = id2
       |WHERE $c IS NOT NULL AND $c >= 0.4""".stripMargin
  }

  // ---------------------------------------------------------------------
  // E12: hopping (sliding) windows — 1 h windows advancing every 30 min,
  // so each event lands in exactly two. The overlap factor is the state/
  // cost multiplier that distinguishes hopping from tumbling (e3) at
  // scale; the oracle derives both window starts per event explicitly.
  // ---------------------------------------------------------------------
  def e12HoppingWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  val e12HoppingWindowSql: String =
    """SELECT strftime(make_timestamp(s * 1000000), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM (
      |  SELECT event_type, value,
      |    unnest([CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800,
      |            CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800 - 1800]) AS s
      |  FROM events)
      |GROUP BY s, event_type""".stripMargin

  // ---------------------------------------------------------------------
  // PATH1: most common 3-step event paths per user sequence — the
  // sequence-mining staple behind funnel discovery. Two leads over one
  // keyed window, then a count; top-20 with a total tie-break order.
  // ---------------------------------------------------------------------
  def path1EventPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(spark, sfDir)
      .withColumn("__e2", lead(col("event_type"), 1).over(seq))
      .withColumn("__e3", lead(col("event_type"), 2).over(seq))
      .where(col("__e2").isNotNull && col("__e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("__e2"), col("__e3")).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path").asc)
      .limit(20)
  }

  val path1EventPathsSql: String =
    """SELECT path, COUNT(*) AS n FROM (
      |  SELECT event_type || '>' ||
      |    LEAD(event_type, 1) OVER w || '>' ||
      |    LEAD(event_type, 2) OVER w AS path
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
      |WHERE path IS NOT NULL
      |GROUP BY path ORDER BY n DESC, path ASC LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // W6: time-range window frame — each event's trailing-1h per-user value
  // sum (RANGE frame on epoch seconds, peer-inclusive so same-second
  // events agree regardless of intra-second order; DECIMAL sums for
  // order-proof totals). Complements w5's rows-frame moving average.
  // ---------------------------------------------------------------------
  def w6RangeWindow(spark: SparkSession, sfDir: String): DataFrame = {
    val frame = Window.partitionBy(col("user_id"))
      .orderBy(col("__sec")).rangeBetween(-3600L, 0L)
    Tables.events(spark, sfDir)
      .withColumn("__sec", col("ts").cast("long"))
      .withColumn("trail_sum",
        sum(col("value").cast("decimal(18,2)")).over(frame).cast("double"))
      .withColumn("trail_n", count(lit(1)).over(frame))
      .select(col("user_id"), col("event_id"), col("trail_sum"), col("trail_n"))
  }

  val w6RangeWindowSql: String =
    """SELECT user_id, event_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS trail_sum,
      |  COUNT(*) OVER w AS trail_n
      |FROM events
      |WINDOW w AS (PARTITION BY user_id
      |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
      |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin

  // ---------------------------------------------------------------------
  // AN1: event-rate anomaly days — flag (user, day) cells whose count
  // exceeds that user's mean by 2 population std-devs. The comparison is
  // algebraically cleared of sqrt and division — (n·D − S)² > 4(D·SS − S²)
  // over pure integer counts — so both engines compare exact longs and
  // no float rounding can flip a flag.
  // ---------------------------------------------------------------------
  def an1RateAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    val stats = daily.groupBy(col("user_id"))
      .agg(count(lit(1)).as("d"), sum(col("n")).as("s"),
        sum(col("n") * col("n")).as("ss"))
    daily.join(stats, "user_id")
      .where(col("n") * col("d") > col("s") &&
        (col("n") * col("d") - col("s")) * (col("n") * col("d") - col("s")) >
          lit(4L) * (col("d") * col("ss") - col("s") * col("s")))
      .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("n"), round(col("s").cast("double") / col("d"), 6).as("day_mean"))
  }

  val an1RateAnomalySql: String =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
      |  FROM events GROUP BY 1, 2),
      |stats AS (
      |  SELECT user_id, COUNT(*) AS d, SUM(n) AS s, SUM(n * n) AS ss
      |  FROM daily GROUP BY user_id)
      |SELECT daily.user_id AS user_id, strftime(day, '%Y-%m-%d') AS day, n,
      |  round(CAST(s AS DOUBLE) / d, 6) AS day_mean
      |FROM daily JOIN stats ON daily.user_id = stats.user_id
      |WHERE n * d > s
      |  AND (n * d - s) * (n * d - s) > 4 * (d * ss - s * s)""".stripMargin

  // ---------------------------------------------------------------------
  // TT1: leave-last-out temporal split — each user's latest event (ties
  // broken by event_id) becomes the eval row, everything earlier trains;
  // the standard recommender/eval holdout. One keyed window; summary
  // counts per split.
  // ---------------------------------------------------------------------
  def tt1TemporalSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(spark, sfDir)
      .withColumn("__rn", row_number().over(seq))
      .withColumn("split", when(col("__rn") === 1, "test").otherwise("train"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))
  }

  val tt1TemporalSplitSql: String =
    """SELECT CASE WHEN rn = 1 THEN 'test' ELSE 'train' END AS split,
      |  COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users
      |FROM (
      |  SELECT user_id, ROW_NUMBER() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // TOK1: adjacent-token pair counts — the statistic BPE tokenizer
  // training merges on. Map-side pair explode (no shuffle until the
  // count), top-50 with a total order.
  // ---------------------------------------------------------------------
  def tok1BpePairs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .withColumn("__toks", TextHash.tokens(col("text")))
      .where(size(col("__toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(__toks) - 1), " +
          "i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1)))"))
        .as("pair"))
      .groupBy(col("pair")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(50)

  val tok1BpePairsSql: String = {
    val tk = TextHashSql.tokens("text")
    s"""SELECT pair, COUNT(*) AS n FROM (
       |  SELECT toks[i] || ' ' || toks[i + 1] AS pair FROM (
       |    SELECT toks, unnest(range(1, len(toks))) AS i
       |    FROM (SELECT $tk AS toks FROM documents)
       |    WHERE len(toks) >= 2))
       |GROUP BY pair ORDER BY n DESC, pair ASC LIMIT 50""".stripMargin
  }

  // ---------------------------------------------------------------------
  // DP1: k-anonymity suppression — quasi-identifier cells (nation,
  // segment) in groups smaller than k are suppressed before release; the
  // release-gating primitive for sharing curated data. One keyed count
  // broadcast back over the scan.
  // ---------------------------------------------------------------------
  def dp1KAnonymity(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 8L
    val cust = Tables.customer(spark, sfDir)
    val groups = cust.groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("__gn"))
    cust.join(broadcast(groups), Seq("c_nationkey", "c_mktsegment"))
      .select(col("c_custkey"),
        when(col("__gn") >= k, col("c_nationkey").cast("string"))
          .otherwise(lit("*")).as("nation_out"),
        when(col("__gn") >= k, col("c_mktsegment"))
          .otherwise(lit("*")).as("segment_out"),
        (col("__gn") >= k).as("released"))
  }

  val dp1KAnonymitySql: String =
    """WITH g AS (
      |  SELECT c_nationkey, c_mktsegment, COUNT(*) AS gn
      |  FROM customer GROUP BY 1, 2)
      |SELECT c_custkey,
      |  CASE WHEN gn >= 8 THEN CAST(c.c_nationkey AS VARCHAR) ELSE '*' END AS nation_out,
      |  CASE WHEN gn >= 8 THEN c.c_mktsegment ELSE '*' END AS segment_out,
      |  gn >= 8 AS released
      |FROM customer c JOIN g
      |  ON c.c_nationkey = g.c_nationkey AND c.c_mktsegment = g.c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // IMP1: per-group mean imputation — nulls (synthesized deterministically:
  // every 13th event loses its value) are filled with the event-type mean
  // computed over the surviving values in DECIMAL. Group means are a tiny
  // broadcast; the fill is map-side.
  // ---------------------------------------------------------------------
  def imp1Imputation(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .withColumn("__v",
        when(col("event_id") % 13 === 0, lit(null).cast("double"))
          .otherwise(col("value")))
    val means = ev.where(col("__v").isNotNull)
      .groupBy(col("event_type"))
      .agg((sum(col("__v").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("__mean"))
    ev.where(col("__v").isNull)
      .join(broadcast(means), "event_type")
      .select(col("event_id"), col("event_type"),
        round(col("__mean"), 6).as("imputed"))
  }

  val imp1ImputationSql: String =
    """WITH ev AS (
      |  SELECT event_id, event_type,
      |    CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS v
      |  FROM events),
      |m AS (
      |  SELECT event_type,
      |    CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean
      |  FROM ev WHERE v IS NOT NULL GROUP BY event_type)
      |SELECT ev.event_id AS event_id, ev.event_type AS event_type,
      |  round(m.mean, 6) AS imputed
      |FROM ev JOIN m ON ev.event_type = m.event_type
      |WHERE ev.v IS NULL""".stripMargin

  val all: Seq[Query] = Seq(
    Query("dp1_k_anonymity", dp1KAnonymity, dp1KAnonymitySql),
    Query("imp1_imputation", imp1Imputation, imp1ImputationSql),
    Query("pq1_pq_adc", pq1PqAdc, pq1PqAdcSql),
    Query("d10_srp_neardup", d10SrpNearDup, d10SrpNearDupSql),
    Query("e12_hopping_window", e12HoppingWindow, e12HoppingWindowSql),
    Query("path1_event_paths", path1EventPaths, path1EventPathsSql),
    Query("w6_range_window", w6RangeWindow, w6RangeWindowSql),
    Query("an1_rate_anomaly", an1RateAnomaly, an1RateAnomalySql),
    Query("tt1_temporal_split", tt1TemporalSplit, tt1TemporalSplitSql),
    Query("tok1_bpe_pairs", tok1BpePairs, tok1BpePairsSql),
    Query("ctx1_context_pack", ctx1ContextPack, ctx1ContextPackSql),
    Query("chunk1_chunks", chunk1Chunks, chunk1ChunksSql),
    Query("mk1_transitions", mk1Transitions, mk1TransitionsSql))
}
