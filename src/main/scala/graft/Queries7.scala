package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{Boilerplate, Decontaminate, KeywordSearch, KeywordSearchSql, Pii, PiiSql, Scd, VectorSearch}

/** Round-3 query inventory: corpus-hygiene and retrieval operators —
  * PII redaction, boilerplate line removal, BM25 + hybrid RRF search,
  * bloom-prefiltered decontamination, SCD2 history, embedding-norm
  * outliers. Same contract as [[Queries]]: each Spark dataflow paired
  * with DuckDB SQL computing the identical result.
  */
object Queries7 {

  // ---------------------------------------------------------------------
  // PII1: detect + redact emails / IPv4s / phone numbers. The fixture
  // corpus carries no PII, so the query builds a deterministic augmented
  // view first (every 5th doc gains an email, 7th an IP, 11th a phone) —
  // identical string construction on both engines — then runs the real
  // operator over it. Map-side regex work only; no shuffle.
  // ---------------------------------------------------------------------
  private def piiDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      concat(
        col("text"),
        when(col("doc_id") % 5 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com now"))).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10."), (col("doc_id") % 200).cast("string"),
            lit(".0."), (col("doc_id") % 250).cast("string"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call +1555"),
            lpad((col("doc_id") % 10000).cast("string"), 7, "0")))
          .otherwise(lit(""))).as("text"))

  // NOTE: no line may BEGIN with '||' — this string is re-interpolated
  // into pii1RedactSql whose own stripMargin would eat the first pipe.
  private val piiDocsSql: String =
    """SELECT doc_id, text ||
      |  CASE WHEN doc_id % 5 = 0
      |       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
      |       ELSE '' END ||
      |  CASE WHEN doc_id % 7 = 0
      |       THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.' ||
      |            CAST(doc_id % 250 AS VARCHAR)
      |       ELSE '' END ||
      |  CASE WHEN doc_id % 11 = 0
      |       THEN ' call +1555' || lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0')
      |       ELSE '' END AS text
      |FROM documents""".stripMargin

  def pii1Redact(spark: SparkSession, sfDir: String): DataFrame =
    piiDocs(spark, sfDir).select(
      col("doc_id"),
      Pii.piiCount(col("text"), "email").as("n_emails"),
      Pii.piiCount(col("text"), "ip").as("n_ips"),
      Pii.piiCount(col("text"), "phone").as("n_phones"),
      Pii.redact(col("text")).as("redacted"))

  val pii1RedactSql: String =
    s"""SELECT doc_id,
       |  ${PiiSql.piiCount("text", "email")} AS n_emails,
       |  ${PiiSql.piiCount("text", "ip")} AS n_ips,
       |  ${PiiSql.piiCount("text", "phone")} AS n_phones,
       |  ${PiiSql.redact("text")} AS redacted
       |FROM ($piiDocsSql)""".stripMargin

  // ---------------------------------------------------------------------
  // L1: boilerplate line removal. The fixture text is single-line, so the
  // query first derives a multi-line view by turning two pivot words into
  // newlines (same regex, both engines), then strips every line that
  // recurs in >= 3 distinct documents and reassembles the rest in order.
  // ---------------------------------------------------------------------
  private def linedDocs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      regexp_replace(col("text"), " (table|value) ", "\n").as("text"))

  private val linedDocsSql: String =
    """SELECT doc_id,
      |  regexp_replace(text, ' (table|value) ', chr(10), 'g') AS text
      |FROM documents""".stripMargin

  def l1Boilerplate(spark: SparkSession, sfDir: String): DataFrame =
    Boilerplate.stripRecurringLines(
      linedDocs(spark, sfDir), "doc_id", "text", minDocs = 3)

  val l1BoilerplateSql: String =
    s"""WITH d AS ($linedDocsSql),
       |l AS (SELECT doc_id,
       |        unnest(string_split(text, chr(10))) AS line,
       |        generate_subscripts(string_split(text, chr(10)), 1) AS pos
       |      FROM d),
       |bp AS (SELECT line FROM l GROUP BY line
       |       HAVING COUNT(DISTINCT doc_id) >= 3)
       |SELECT l.doc_id,
       |  COUNT(*) AS n_lines,
       |  count(*) FILTER (WHERE bp.line IS NULL) AS n_kept,
       |  coalesce(string_agg(CASE WHEN bp.line IS NULL THEN l.line END,
       |    chr(10) ORDER BY l.pos), '') AS clean_text
       |FROM l LEFT JOIN bp ON l.line = bp.line
       |GROUP BY l.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // T12: BM25 keyword retrieval — top-20 documents for a fixed query-term
  // set. Corpus stats reduce to one broadcast row; scoring is map-side;
  // the cut orders by the ROUNDED score (both engines) so the limit falls
  // on a deterministic boundary.
  // ---------------------------------------------------------------------
  private val bmTerms = Seq("spark", "vector", "hash", "stream")

  def t12Bm25(spark: SparkSession, sfDir: String): DataFrame =
    KeywordSearch.bm25(Tables.documents(spark, sfDir), "doc_id", "text", bmTerms)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(20)

  val t12Bm25Sql: String =
    s"""WITH toks AS (${KeywordSearchSql.toksCte("doc_id")}),
       |stats AS (${KeywordSearchSql.statsCte(bmTerms)})
       |SELECT doc_id, round(${KeywordSearchSql.scoreExpr(bmTerms)}, 6) AS score
       |FROM toks, stats
       |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // H1: hybrid retrieval — reciprocal-rank fusion of the BM25 ranking and
  // the cosine (vector) ranking, joined on the shared id space
  // (doc_id = vec_id, Tables.memories). Both input rankings cut at 50 by
  // rounded score with id tiebreak; fusion arithmetic is 1/(60+rank) over
  // integer ranks — bit-deterministic.
  // ---------------------------------------------------------------------
  def h1HybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.queryVector(spark, sfDir, 0L)
    val wAll = Window.orderBy(col("score").desc, col("id"))
    val vec = VectorSearch.scored(Tables.embeddings(spark, sfDir), q)
      .select(col("vec_id").as("id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("id")).limit(50)
      .select(col("id"), row_number().over(wAll).as("rank"))
    val lex = KeywordSearch.bm25(
        Tables.documents(spark, sfDir), "doc_id", "text", bmTerms)
      .select(col("doc_id").as("id"), round(col("score"), 6).as("score"))
      .orderBy(col("score").desc, col("id")).limit(50)
      .select(col("id"), row_number().over(wAll).as("rank"))
    KeywordSearch.rrfFuse(vec, lex, "id")
      .select(col("id"), round(col("rrf"), 6).as("rrf"))
      .orderBy(col("rrf").desc, col("id")).limit(10)
  }

  val h1HybridRrfSql: String =
    s"""WITH vtop AS (
       |  SELECT vec_id AS id,
       |    round(${Queries.sqlCosine("e.embedding", "qv.q")}, 6) AS score
       |  FROM embeddings e,
       |    (SELECT embedding AS q FROM embeddings WHERE vec_id = 0) qv
       |  ORDER BY score DESC, id LIMIT 50),
       |vrank AS (SELECT id,
       |    row_number() OVER (ORDER BY score DESC, id) AS rank FROM vtop),
       |toks AS (${KeywordSearchSql.toksCte("doc_id")}),
       |stats AS (${KeywordSearchSql.statsCte(bmTerms)}),
       |ltop AS (
       |  SELECT doc_id AS id,
       |    round(${KeywordSearchSql.scoreExpr(bmTerms)}, 6) AS score
       |  FROM toks, stats ORDER BY score DESC, id LIMIT 50),
       |lrank AS (SELECT id,
       |    row_number() OVER (ORDER BY score DESC, id) AS rank FROM ltop)
       |SELECT id,
       |  round(coalesce(1.0 / (60 + v.rank), 0.0)
       |      + coalesce(1.0 / (60 + l.rank), 0.0), 6) AS rrf
       |FROM vrank v FULL OUTER JOIN lrank l USING (id)
       |ORDER BY rrf DESC, id LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // C2: bloom-prefiltered exact decontamination — drop corpus docs whose
  // text appears verbatim in the benchmark. The corpus deliberately
  // CONTAINS the benchmark split (the "eval set leaked into the crawl"
  // case), so the clean set provably shrinks. The bloom phase only routes
  // rows; the confirm join makes the result exact, so the oracle is the
  // plain anti-join.
  // ---------------------------------------------------------------------
  def c2BloomClean(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Decontaminate.bloomClean(
        docs,
        docs.where(col("doc_id") % 10 === 0),
        "doc_id", "text")
      .select(col("doc_id"))
  }

  val c2BloomCleanSql: String =
    """SELECT doc_id FROM documents
      |WHERE text NOT IN (SELECT text FROM documents WHERE doc_id % 10 = 0)""".stripMargin

  // ---------------------------------------------------------------------
  // SCD1: type-2 history build over the event stream — each user's value
  // timeline as validity intervals. One window shuffle on user_id.
  // ---------------------------------------------------------------------
  def scd1History(spark: SparkSession, sfDir: String): DataFrame =
    Scd.buildHistory(Tables.events(spark, sfDir),
      keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
      valueCols = Seq("value"))
      .select(col("user_id"), col("version"), col("valid_from"),
        col("valid_to"), col("is_current"), round(col("value"), 6).as("value"))

  val scd1HistorySql: String =
    """SELECT user_id,
      |  CAST(row_number() OVER w AS INT) AS version,
      |  ts AS valid_from,
      |  lead(ts, 1) OVER w AS valid_to,
      |  lead(ts, 1) OVER w IS NULL AS is_current,
      |  round(value, 6) AS value
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin

  // ---------------------------------------------------------------------
  // O1: embedding outliers by distance to the corpus centroid (the norms
  // themselves are unit — the fixture is normalized — so the meaningful
  // anomaly signal is angular drift from the center of mass). Centroid =
  // per-dim DECIMAL-exact mean (a6 pattern), driver-side index metadata
  // (64 doubles) like the IVF codebook; distances are ordered double
  // folds (the v1 cosine pattern); mean/std of the distances use the q14
  // DECIMAL moments; |z| > 2 flagged. The data-quality gate before
  // vectors enter an index.
  // ---------------------------------------------------------------------
  def o1EmbedOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val embs = Tables.embeddings(spark, sfDir)
    val cen: Seq[Double] = embs.select(posexplode(col("embedding")))
      .groupBy(col("pos"))
      .agg((sum(col("col").cast("double").cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("m"))
      .orderBy(col("pos")).collect().map(_.getDouble(1)).toSeq
    val dist = sqrt(aggregate(
      zip_with(col("embedding"), typedlit(cen),
        (x, m) => (x.cast("double") - m) * (x.cast("double") - m)),
      lit(0.0), (s, v) => s + v))
    val dd = embs.select(col("vec_id"), dist.as("__dist"))
    val stats = dd.agg(
      count(lit(1)).as("__n"),
      sum(col("__dist").cast("decimal(28,10)")).cast("double").as("__s"),
      sum((col("__dist") * col("__dist")).cast("decimal(28,8)")).cast("double")
        .as("__ss"))
      .select(
        (col("__s") / col("__n")).as("__mean"),
        sqrt(greatest(lit(0.0),
          col("__ss") / col("__n") -
            (col("__s") / col("__n")) * (col("__s") / col("__n")))).as("__std"))
    dd.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        round(col("__dist"), 6).as("dist"),
        round((col("__dist") - col("__mean")) / col("__std"), 6).as("z"),
        (abs((col("__dist") - col("__mean")) / col("__std")) > 2.0)
          .as("is_outlier"))
  }

  val o1EmbedOutliersSql: String =
    """WITH cen AS (
      |  SELECT list(m ORDER BY dim) AS c FROM (
      |    SELECT i AS dim,
      |      CAST(SUM(CAST(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
      |        AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS m
      |    FROM embeddings, range(0, 64) t(i) GROUP BY i)),
      |d AS (
      |  SELECT vec_id,
      |    sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |      i -> (CAST(embedding[i] AS DOUBLE) - c[i])
      |         * (CAST(embedding[i] AS DOUBLE) - c[i])))) AS dist
      |  FROM embeddings, cen),
      |st AS (SELECT
      |    CAST(SUM(CAST(dist AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS mean,
      |    sqrt(greatest(0.0,
      |      CAST(SUM(CAST(dist * dist AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*)
      |      - (CAST(SUM(CAST(dist AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*))
      |        * (CAST(SUM(CAST(dist AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*))))
      |      AS std
      |  FROM d)
      |SELECT vec_id, round(dist, 6) AS dist,
      |  round((dist - mean) / std, 6) AS z,
      |  abs((dist - mean) / std) > 2.0 AS is_outlier
      |FROM d, st""".stripMargin

  // ---------------------------------------------------------------------
  // T13: canonical text normalization — the pass every dedup key and
  // tokenizer input goes through. The fixture augments docs with mixed
  // case and punctuation deterministically (both engines) so the operator
  // has real work; map-side regex only.
  // ---------------------------------------------------------------------
  def t13Normalize(spark: SparkSession, sfDir: String): DataFrame = {
    val messy = Tables.documents(spark, sfDir).select(
      col("doc_id"),
      concat(upper(substring(col("text"), 1, 20)),
        substring(col("text"), 21, 1000000),
        lit("  -- (C) 2024, ALL rights RESERVED!!  ")).as("text"))
    messy.select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_before"),
      operators.TextAnalysis.normalize(col("text")).as("norm_text"))
      .withColumn("n_after", length(col("norm_text")).cast("long"))
  }

  val t13NormalizeSql: String = {
    val norm = operators.TextAnalysisSql.normalize("text")
    s"""SELECT doc_id, length(text) AS n_before, $norm AS norm_text,
       |  length($norm) AS n_after
       |FROM (SELECT doc_id,
       |        upper(substr(text, 1, 20)) || substr(text, 21)
       |          || '  -- (C) 2024, ALL rights RESERVED!!  ' AS text
       |      FROM documents)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Z1: Z-order (Morton) layout keys over (user bucket, hour bucket) —
  // the write-path clustering key that makes user+time predicates prune
  // row groups at 100 TB. Pure bit arithmetic per row; the derived
  // "file" assignment is the top 4 bits, i.e. the range partition a
  // zorder-sorted writer would produce.
  // ---------------------------------------------------------------------
  def z1ZorderKey(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(
      col("event_id"),
      (col("user_id") % 1024).as("__ub"),
      (floor(col("ts").cast("long") / 3600L) % 1024).cast("long").as("__hb"))
    ev.select(col("event_id"),
      operators.Layout.zOrderKey(col("__ub"), col("__hb"), bits = 10)
        .as("zkey"))
      .withColumn("file_bucket", shiftrightunsigned(col("zkey"), 16))
  }

  val z1ZorderKeySql: String = {
    val z = operators.LayoutSql.zOrderKey("ub", "hb", 10)
    s"""SELECT event_id, $z AS zkey,
       |  CAST($z >> 16 AS BIGINT) AS file_bucket
       |FROM (SELECT event_id, user_id % 1024 AS ub,
       |        CAST(floor(epoch(ts) / 3600) AS BIGINT) % 1024 AS hb
       |      FROM events)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // E9: streaming funnel replay — events as real micro-batches through the
  // per-user state machine; final state must equal the batch funnel, so
  // the oracle is f1's SQL verbatim (the e8 pattern for the funnel).
  // ---------------------------------------------------------------------
  def e9StreamFunnel(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayFunnel(Tables.events(spark, sfDir))

  val e9StreamFunnelSql: String = Queries6.f1FunnelSql

  // ---------------------------------------------------------------------
  // E11: windowed-aggregation replay in APPEND mode — windows emit only
  // when the watermark passes them (the production contract; e3 ran the
  // same plan in batch). A filtered-out sentinel flushes the tail. Oracle
  // is e3's SQL verbatim.
  // ---------------------------------------------------------------------
  def e11StreamWindow(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayWindowed(Tables.events(spark, sfDir))
      .select(
        date_format(col("window_start"), Queries.tsFmtSpark).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  val e11StreamWindowSql: String = Queries.e3EventWindowSql

  // ---------------------------------------------------------------------
  // SCD2-ASOF: time-travel read — the per-user state at the midpoint of
  // the event range, one map-side filter over the history table. The
  // as-of instant derives from the data identically on both engines
  // (integer second arithmetic).
  // ---------------------------------------------------------------------
  def scd2Asof(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val h = Scd.buildHistory(ev, "user_id", "ts", "event_id", Seq("value"))
    val b = ev.agg(min(col("ts").cast("long")), max(col("ts").cast("long"))).head()
    val atSec = (b.getLong(0) + b.getLong(1)) / 2  // snapshot instant: one scalar
    Scd.asOf(h, timestamp_seconds(lit(atSec)))
      .select(col("user_id"), col("version"), col("valid_from"),
        round(col("value"), 6).as("value"))
  }

  val scd2AsofSql: String =
    """WITH h AS (
      |  SELECT user_id, CAST(row_number() OVER w AS INT) AS version,
      |    ts AS valid_from, lead(ts, 1) OVER w AS valid_to, value
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |a AS (
      |  SELECT make_timestamp(((CAST(floor(epoch(MIN(ts))) AS BIGINT)
      |    + CAST(floor(epoch(MAX(ts))) AS BIGINT)) // 2) * 1000000) AS at
      |  FROM events)
      |SELECT user_id, version, valid_from, round(value, 6) AS value
      |FROM h, a
      |WHERE valid_from <= at AND (valid_to IS NULL OR at < valid_to)""".stripMargin

  // ---------------------------------------------------------------------
  // I1: incremental aggregate maintenance — a materialized per-(type,
  // week) summary of the first 80% of the stream merged with the delta
  // aggregate of the last 20%, proven equal to a full recompute by the
  // oracle. Counts merge by addition; value sums merge exactly because
  // they accumulate in DECIMAL (associative). At 100 TB this is the
  // pattern that avoids rescanning history on every refresh: the merge
  // touches only summary rows + the delta partition.
  // ---------------------------------------------------------------------
  def i1IncrementalAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(
      col("event_type"),
      floor(col("ts").cast("long") / 604800L).cast("long").as("week"),
      col("value"),
      col("ts").cast("long").as("__sec"))
    val b = ev.agg(min(col("__sec")), max(col("__sec"))).head()
    val cut = b.getLong(0) + (b.getLong(1) - b.getLong(0)) * 8 / 10
    def summarize(df: DataFrame) = df.groupBy(col("event_type"), col("week"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("__sv"))
    val history = summarize(ev.where(col("__sec") < cut))
    val delta = summarize(ev.where(col("__sec") >= cut))
    history.unionByName(delta)
      .groupBy(col("event_type"), col("week"))
      .agg(sum(col("n_events")).as("n_events"),
        sum(col("__sv")).cast("double").as("sum_value"))
  }

  val i1IncrementalAggSql: String =
    """SELECT event_type,
      |  CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // V13: MMR diversified retrieval — greedy maximal-marginal-relevance
  // over the distributed top-16 pool (lambda 0.7, k 8). The greedy is
  // driver-side rerank metadata; the oracle replays the identical greedy
  // as a recursive CTE with the same 6-dp rounding and id tie-breaks.
  // ---------------------------------------------------------------------
  def v13MmrRerank(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.queryVector(spark, sfDir, 0L)
    VectorSearch.mmrRerank(Tables.embeddings(spark, sfDir), q,
        poolSize = 16, k = 8, lambda = 0.7)
      .select(col("mmr_rank"), col("id"), round(col("mmr"), 6).as("mmr"))
  }

  val v13MmrRerankSql: String = {
    def c(a: String, b: String) = Queries.sqlCosine(a, b)
    s"""WITH RECURSIVE pool AS (
       |  SELECT e.vec_id AS id, round(${c("e.embedding", "qv.q")}, 6) AS rel,
       |    e.embedding AS emb
       |  FROM embeddings e,
       |    (SELECT embedding AS q FROM embeddings WHERE vec_id = 0) qv
       |  ORDER BY rel DESC, id LIMIT 16),
       |sel(step, ids, id, mmr) AS (
       |  (SELECT 1, [p.id], p.id, p.rel FROM pool p
       |   ORDER BY p.rel DESC, p.id LIMIT 1)
       |  UNION ALL
       |  SELECT s.step + 1, list_append(s.ids, pick.id), pick.id, pick.val
       |  FROM sel s, LATERAL (
       |    SELECT p.id AS id,
       |      round(0.7 * p.rel - (1.0 - 0.7) * (
       |        SELECT MAX(round(${c("p.emb", "q.emb")}, 6)) FROM pool q
       |        WHERE list_contains(s.ids, q.id)), 6) AS val
       |    FROM pool p WHERE NOT list_contains(s.ids, p.id)
       |    ORDER BY val DESC, id LIMIT 1) pick
       |  WHERE s.step < 8)
       |SELECT CAST(step AS INT) AS mmr_rank, id, round(mmr, 6) AS mmr
       |FROM sel""".stripMargin
  }

  // ---------------------------------------------------------------------
  // V14: the DISTRIBUTED MMR greedy — same selection as v13 but the pool
  // is never collected: each round broadcasts the ≤ k selected vectors
  // and takes the arg-max with a limit-1 TakeOrderedAndProject. The
  // pool-too-big-for-driver form; shares v13's recursive-CTE oracle
  // because the arithmetic is pinned identical.
  // ---------------------------------------------------------------------
  def v14MmrDistributed(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.queryVector(spark, sfDir, 0L)
    VectorSearch.mmrRerankDistributed(Tables.embeddings(spark, sfDir), q,
        poolSize = 16, k = 8, lambda = 0.7)
      .select(col("mmr_rank"), col("id"), round(col("mmr"), 6).as("mmr"))
  }

  val v14MmrDistributedSql: String = v13MmrRerankSql

  // ---------------------------------------------------------------------
  // SMP3: importance-weighted sampling — each document survives with
  // probability equal to its quality score, hash-deterministic by id.
  // Map-side only; at 100 TB this is the quality-curriculum downsampler.
  // ---------------------------------------------------------------------
  def smp3WeightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    import operators.{Sampling, TextAnalysis}
    Tables.documents(spark, sfDir)
      .where(Sampling.weightedKeep(col("doc_id"),
        TextAnalysis.qualityScore(col("text"))))
      .select(col("doc_id"))
  }

  val smp3WeightedSampleSql: String = {
    import operators.{SamplingSql, TextAnalysisSql}
    s"""SELECT doc_id FROM documents
       |WHERE ${SamplingSql.weightedKeep("doc_id", TextAnalysisSql.qualityScore("text"))}""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Q16: group-wise least squares — slope/intercept of value over time
  // per event type, from one aggregation pass of DECIMAL-exact moments
  // (n, Σx, Σy, Σxy, Σx²) with x offset from the stream start to keep
  // magnitudes inside the decimals. The trend-detection shape every
  // monitoring pipeline runs; moments merge associatively, so this is
  // also what an incremental refresh would maintain.
  // ---------------------------------------------------------------------
  def q16Regression(spark: SparkSession, sfDir: String): DataFrame = {
    val ev0 = Tables.events(spark, sfDir)
    val m = ev0.agg(min(col("ts").cast("long"))).head().getLong(0)
    val ev = ev0.select(col("event_type"),
      (col("ts").cast("long") - lit(m)).cast("double").as("x"),
      col("value").as("y"))
    ev.groupBy(col("event_type"))
      .agg(
        count(lit(1)).cast("double").as("__n"),
        sum(col("x").cast("decimal(28,6)")).cast("double").as("__sx"),
        sum(col("y").cast("decimal(18,2)")).cast("double").as("__sy"),
        sum((col("x") * col("y")).cast("decimal(28,8)")).cast("double").as("__sxy"),
        sum((col("x") * col("x")).cast("decimal(28,6)")).cast("double").as("__sxx"))
      .select(col("event_type"),
        col("__n").cast("long").as("n"),
        round((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("__n") * col("__sxx") - col("__sx") * col("__sx")), 6).as("slope_per_sec"),
        round((col("__sy") - ((col("__n") * col("__sxy") - col("__sx") * col("__sy")) /
          (col("__n") * col("__sxx") - col("__sx") * col("__sx"))) * col("__sx")) /
          col("__n"), 6).as("intercept"))
  }

  val q16RegressionSql: String =
    """WITH m AS (SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT) AS m0 FROM events),
      |e AS (SELECT event_type,
      |        CAST(CAST(floor(epoch(ts)) AS BIGINT) - m0 AS DOUBLE) AS x,
      |        value AS y
      |      FROM events, m),
      |s AS (SELECT event_type,
      |        CAST(COUNT(*) AS DOUBLE) AS n,
      |        CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
      |        CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) AS sy,
      |        CAST(SUM(CAST(x * y AS DECIMAL(28,8))) AS DOUBLE) AS sxy,
      |        CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE) AS sxx
      |      FROM e GROUP BY 1)
      |SELECT event_type, CAST(n AS BIGINT) AS n,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope_per_sec,
      |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
      |    AS intercept
      |FROM s""".stripMargin

  // ---------------------------------------------------------------------
  // T14: heavy-hitter tokens via a mergeable Misra-Gries sketch. The MG
  // pass keeps <= 33 counters per map task (partial agg), its candidate
  // set (sketch metadata, <= 32 tokens) routes a second exact-count pass
  // restricted to candidates, and the n/(k+1) guarantee makes the final
  // integer-compared set EXACTLY the true heavy hitters — so the oracle
  // is the plain exact GROUP BY/HAVING. At 100 TB the candidate filter is
  // what spares the full-token shuffle.
  // ---------------------------------------------------------------------
  def t14HeavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.{MgFrequent, TextHash}
    val toks = Tables.documents(spark, sfDir)
      .select(explode(TextHash.tokens(col("text"))).as("tok"))
    val row = toks.agg(MgFrequent(col("tok"), 32).as("cands"),
      count(lit(1)).as("n")).head()
    val n = row.getLong(1)
    val cands = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]](0)
      .map(_.getString(0)).toSeq
    toks.where(col("tok").isin(cands: _*))
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .where(col("freq") * 33 > lit(n))  // integer-exact threshold n/(k+1)
  }

  val t14HeavyHittersSql: String =
    s"""WITH t AS (
       |  SELECT unnest(${graft.functions.TextHashSql.tokens("text")}) AS tok
       |  FROM documents)
       |SELECT tok, COUNT(*) AS freq FROM t GROUP BY tok
       |HAVING COUNT(*) * 33 > (SELECT COUNT(*) FROM t)""".stripMargin

  // ---------------------------------------------------------------------
  // T15: bigram language-model quality score (the CCNet-style perplexity
  // proxy): corpus bigram/prefix counts with add-one smoothing, per-doc
  // mean log-probability. Count tables are tiny next to the corpus (they
  // are the model) and broadcast; per-term log-probs go through
  // DECIMAL(28,14) so the per-doc sum is order-proof, and engine ln
  // differences (<= 1 ulp per term) vanish under the 6-dp output
  // rounding. Docs with < 2 tokens have no bigrams and drop out.
  // ---------------------------------------------------------------------
  def t15LmScore(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextHash
    val toks = Tables.documents(spark, sfDir)
      .select(col("doc_id"), TextHash.tokens(col("text")).as("t"))
    val bi = toks
      .where(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(zip_with(
          slice(col("t"), lit(1), size(col("t")) - 1),
          slice(col("t"), lit(2), size(col("t")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val vocab = toks.select(explode(col("t")).as("w")).distinct().count()
    val uni = bi.groupBy(col("w1")).agg(count(lit(1)).as("cu"))
    val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cb"))
    bi.join(broadcast(bc), Seq("w1", "w2"))
      .join(broadcast(uni), Seq("w1"))
      .select(col("doc_id"),
        log((col("cb") + lit(1.0)) / (col("cu") + lit(vocab.toDouble)))
          .cast("decimal(28,14)").as("__lp"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("__lp")).cast("double") / count(lit(1)), 6).as("lm_score"))
  }

  val t15LmScoreSql: String = {
    val tk = graft.functions.TextHashSql.tokens("text")
    s"""WITH tk AS (SELECT doc_id, $tk AS t FROM documents),
       |bi AS (
       |  SELECT doc_id,
       |    unnest(t[1:len(t) - 1]) AS w1,
       |    unnest(t[2:len(t)]) AS w2
       |  FROM tk WHERE len(t) >= 2),
       |v AS (SELECT COUNT(DISTINCT w) AS vocab
       |      FROM (SELECT unnest(t) AS w FROM tk)),
       |uni AS (SELECT w1, COUNT(*) AS cu FROM bi GROUP BY w1),
       |bc AS (SELECT w1, w2, COUNT(*) AS cb FROM bi GROUP BY w1, w2)
       |SELECT doc_id, COUNT(*) AS n_bigrams,
       |  round(CAST(SUM(CAST(ln((cb + 1.0) / (cu + CAST(vocab AS DOUBLE)))
       |    AS DECIMAL(28,14))) AS DOUBLE) / COUNT(*), 6) AS lm_score
       |FROM bi JOIN bc USING (w1, w2) JOIN uni USING (w1), v
       |GROUP BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // E10: stream-stream interval join replay — purchase/click streams from
  // replayed micro-batches joined within 300 s, appended matches == the
  // batch interval join (the oracle). The hardest streaming shape under
  // hash-compare instead of spec assertion.
  // ---------------------------------------------------------------------
  def e10StreamJoin(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayFollows(Tables.events(spark, sfDir),
      windowSec = 14400)

  val e10StreamJoinSql: String =
    """SELECT p.event_id AS p_event_id, p.user_id AS p_user_id,
      |  p.ts AS p_ts, e.ts AS e_ts
      |FROM events p JOIN events e
      |  ON p.user_id = e.user_id
      | AND p.event_type = 'purchase' AND e.event_type = 'click'
      | AND e.ts > p.ts AND e.ts <= p.ts + INTERVAL '14400 seconds'""".stripMargin

  // ---------------------------------------------------------------------
  // Q17: Pearson correlation matrix over lineitem numerics from one
  // DECIMAL-moment pass per pair (q14/q16 machinery): corr = (nΣxy −
  // ΣxΣy) / sqrt(nΣx² − (Σx)²) / sqrt(nΣy² − (Σy)²).
  // ---------------------------------------------------------------------
  def q17Corr(spark: SparkSession, sfDir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val li = Tables.lineitem(spark, sfDir)
      .select(cols.map(c => col(c).cast("double").as(c)): _*)
    val pairs = for (a <- cols; b <- cols if a < b) yield (a, b)
    // ONE scan: every first/second moment (3 sums, 3 squares, 3 cross
    // products) in a single aggregation; the 1-row result is then
    // exploded into the pair rows — no per-pair rescan of lineitem.
    def s1(c: String) = sum(col(c).cast("decimal(28,10)")).cast("double").as(s"__s_$c")
    def s2(a: String, b: String) =
      sum((col(a) * col(b)).cast("decimal(28,8)")).cast("double").as(s"__s_${a}_$b")
    val momentAggs = cols.map(s1) ++
      (for (a <- cols; b <- cols if a <= b) yield s2(a, b))
    val m = li.agg(count(lit(1)).cast("double").as("__n"),
      momentAggs: _*)
    val pairStructs = pairs.map { case (a, b) =>
      val (n, sx, sy) = (col("__n"), col(s"__s_$a"), col(s"__s_$b"))
      val (sxy, sxx, syy) =
        (col(s"__s_${a}_$b"), col(s"__s_${a}_$a"), col(s"__s_${b}_$b"))
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        round((n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6).as("corr"))
    }
    m.select(explode(array(pairStructs: _*)).as("__r")).select(col("__r.*"))
  }

  val q17CorrSql: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount")
    val pairs = for (a <- cols; b <- cols if a < b) yield (a, b)
    pairs.map { case (a, b) =>
      def d(c: String) = s"CAST($c AS DOUBLE)"
      s"""SELECT '$a' AS col_x, '$b' AS col_y,
         |  round((n * sxy - sx * sy)
         |    / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr
         |FROM (SELECT
         |    CAST(COUNT(*) AS DOUBLE) AS n,
         |    CAST(SUM(CAST(${d(a)} AS DECIMAL(28,10))) AS DOUBLE) AS sx,
         |    CAST(SUM(CAST(${d(b)} AS DECIMAL(28,10))) AS DOUBLE) AS sy,
         |    CAST(SUM(CAST(${d(a)} * ${d(b)} AS DECIMAL(28,8))) AS DOUBLE) AS sxy,
         |    CAST(SUM(CAST(${d(a)} * ${d(a)} AS DECIMAL(28,8))) AS DOUBLE) AS sxx,
         |    CAST(SUM(CAST(${d(b)} * ${d(b)} AS DECIMAL(28,8))) AS DOUBLE) AS syy
         |  FROM lineitem)""".stripMargin
    }.mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------------
  // T16: token-entropy quality signal — Shannon entropy of each doc's
  // token distribution, H = ln(n) − (Σ c·ln c)/n over per-doc token
  // counts. Low entropy = repetitive/templated text (drop candidate).
  // Two keyed aggregations; ln terms go through DECIMAL(28,14) so the
  // per-doc sum is order-proof.
  // ---------------------------------------------------------------------
  def t16Entropy(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.TextHash
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).cast("double").as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast("long").as("n_tokens"),
        sum((col("c") * log(col("c"))).cast("decimal(28,14)")).as("__s"))
      .select(col("doc_id"), col("n_tokens"),
        round(log(col("n_tokens").cast("double")) -
          col("__s").cast("double") / col("n_tokens"), 6).as("entropy"))
  }

  val t16EntropySql: String = {
    val tk = graft.functions.TextHashSql.tokens("text")
    s"""WITH c AS (
       |  SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS c
       |  FROM (SELECT doc_id, unnest($tk) AS tok FROM documents)
       |  GROUP BY doc_id, tok)
       |SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |  round(ln(CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE))
       |    - CAST(SUM(CAST(c * ln(c) AS DECIMAL(28,14))) AS DOUBLE)
       |      / CAST(SUM(c) AS BIGINT), 6) AS entropy
       |FROM c GROUP BY doc_id""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("t16_entropy", t16Entropy, t16EntropySql),
    Query("t15_lm_score", t15LmScore, t15LmScoreSql),
    Query("e10_stream_join", e10StreamJoin, e10StreamJoinSql, lane = true),
    Query("q17_corr", q17Corr, q17CorrSql),
    Query("t14_heavy_hitters", t14HeavyHitters, t14HeavyHittersSql),
    Query("smp3_weighted_sample", smp3WeightedSample, smp3WeightedSampleSql),
    Query("q16_regression", q16Regression, q16RegressionSql),
    Query("v13_mmr_rerank", v13MmrRerank, v13MmrRerankSql),
    Query("v14_mmr_distributed", v14MmrDistributed, v14MmrDistributedSql),
    Query("scd2_asof", scd2Asof, scd2AsofSql),
    Query("i1_incremental_agg", i1IncrementalAgg, i1IncrementalAggSql),
    Query("e9_stream_funnel", e9StreamFunnel, e9StreamFunnelSql, lane = true),
    Query("e11_stream_window", e11StreamWindow, e11StreamWindowSql, lane = true),
    Query("t13_normalize", t13Normalize, t13NormalizeSql),
    Query("z1_zorder_key", z1ZorderKey, z1ZorderKeySql),
    Query("pii1_redact", pii1Redact, pii1RedactSql),
    Query("l1_boilerplate", l1Boilerplate, l1BoilerplateSql),
    Query("t12_bm25", t12Bm25, t12Bm25Sql),
    Query("h1_hybrid_rrf", h1HybridRrf, h1HybridRrfSql),
    Query("c2_bloom_clean", c2BloomClean, c2BloomCleanSql),
    Query("scd1_history", scd1History, scd1HistorySql),
    Query("o1_embed_outliers", o1EmbedOutliers, o1EmbedOutliersSql))
}
