package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Round-3 continuation: record linkage end-to-end and time-series
  * smoothing. Same contract as [[Queries]]: each Spark dataflow paired
  * with DuckDB SQL computing the identical result.
  */
object Queries12 {

  // ---------------------------------------------------------------------
  // ER1: entity resolution end-to-end — the blocked edit-distance pairs
  // (ed1) are not transitive, so matching records are clustered by
  // connected components and each cluster elects its minimum id as the
  // canonical entity: the complete record-linkage pipeline (block →
  // match → cluster → survivorship) in one dataflow. Oracle: recursive
  // transitive closure over the identical pair SQL.
  // ---------------------------------------------------------------------
  def er1EntityResolution(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = Queries9.ed1EditDistJoin(spark, sfDir)
    Dedup.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("component").as("entity_id"))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy(col("entity_id"))))
      .withColumn("is_canonical", col("doc_id") === col("entity_id"))
  }

  val er1EntityResolutionSql: String =
    s"""WITH RECURSIVE pairs AS (${Queries9.ed1EditDistJoinSql}),
       |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
       |          UNION SELECT id2 AS src, id1 AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, rr.r FROM edges e JOIN reach rr ON rr.id = e.dst),
       |comp AS (SELECT id AS doc_id, MIN(r) AS entity_id FROM reach GROUP BY id)
       |SELECT doc_id, entity_id,
       |  COUNT(*) OVER (PARTITION BY entity_id) AS n_members,
       |  doc_id = entity_id AS is_canonical
       |FROM comp""".stripMargin

  // ---------------------------------------------------------------------
  // EWMA1: per-user exponentially weighted moving average of event value
  // (α = 0.1) at the sequence end — the classic smoothed-rate feature.
  // The recursion s_t = αx_t + (1−α)s_{t−1} unrolls into one closed-form
  // weighted sum per event, so one keyed window pass replaces the
  // sequential scan; each term is quantized to DECIMAL(28,12) before the
  // sum, which makes the accumulation order-proof AND absorbs any
  // last-ulp pow() divergence between engines.
  // ---------------------------------------------------------------------
  private val Alpha = 0.1

  def ewma1UserSmoothing(spark: SparkSession, sfDir: String): DataFrame = {
    val seq = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val byUser = Window.partitionBy(col("user_id"))
    val coef = when(col("__rn") === 1,
      pow(lit(1.0 - Alpha), col("__n") - 1))
      .otherwise(lit(Alpha) * pow(lit(1.0 - Alpha), col("__n") - col("__rn")))
    Tables.events(spark, sfDir)
      .withColumn("__rn", row_number().over(seq))
      .withColumn("__n", count(lit(1)).over(byUser))
      .withColumn("__term", (col("value") * coef).cast("decimal(28,12)"))
      .groupBy(col("user_id"))
      .agg(max(col("__n")).as("n_events"),
        round(sum(col("__term")).cast("double"), 6).as("ewma"))
  }

  val ewma1UserSmoothingSql: String =
    s"""WITH seq AS (
       |  SELECT user_id, value,
       |    ROW_NUMBER() OVER w AS rn,
       |    COUNT(*) OVER (PARTITION BY user_id) AS n
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
       |SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_events,
       |  round(CAST(SUM(CAST(value * (CASE WHEN rn = 1
       |      THEN power(0.9, n - 1)
       |      ELSE 0.1 * power(0.9, n - rn) END) AS DECIMAL(28,12)))
       |    AS DOUBLE), 6) AS ewma
       |FROM seq GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // NV1: vocabulary novelty per ingestion batch — the fraction of token
  // instances in each batch (doc_id order, 100 docs per batch) whose
  // token first appears in that batch. The corpus-growth monitor: a
  // healthy crawl keeps finding new vocabulary, a looping one doesn't.
  // Token first-batch is one keyed min; the novelty join shuffles on the
  // token — both scale-safe. Integer division (`div`/`//`) on both sides
  // because Spark CAST truncates but DuckDB CAST rounds.
  // ---------------------------------------------------------------------
  def nv1VocabNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = Tables.documents(spark, sfDir)
      .select(expr("doc_id div 100").as("batch"),
        explode(graft.functions.TextHash.tokens(col("text"))).as("tok"))
    val firstB = tok.groupBy(col("tok")).agg(min(col("batch")).as("__fb"))
    tok.join(firstB, "tok")
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__fb") === col("batch"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_tokens"), 6))
  }

  val nv1VocabNoveltySql: String = {
    val tk = graft.functions.TextHashSql.tokens("text")
    s"""WITH tok AS (
       |  SELECT doc_id // 100 AS batch, unnest($tk) AS tok FROM documents),
       |fb AS (SELECT tok, MIN(batch) AS fb FROM tok GROUP BY tok)
       |SELECT batch, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(CASE WHEN fb = batch THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  round(CAST(SUM(CASE WHEN fb = batch THEN 1 ELSE 0 END) AS DOUBLE)
       |    / COUNT(*), 6) AS novelty
       |FROM tok JOIN fb USING (tok) GROUP BY batch""".stripMargin
  }

  // ---------------------------------------------------------------------
  // SQL1: the SQL API surface under oracle — the query is pure SQL text
  // through the registered native kernels (GraftFunctions/GraftExtensions),
  // proving a SQL-only user gets the same engine: simhash, shingle
  // cardinality, and the raw feature-hash embedding's first coordinate
  // (exact signed token counts — no float in play) through the SQL path.
  // ---------------------------------------------------------------------
  def sql1SqlApi(spark: SparkSession, sfDir: String): DataFrame = {
    GraftFunctions.register(spark)
    Tables.documents(spark, sfDir).createOrReplaceTempView("g_documents")
    spark.sql(
      """SELECT doc_id,
        |  simhash(text) AS sim,
        |  CAST(size(shingle_hashes(text, 2)) AS BIGINT) AS n_shingles,
        |  element_at(embed_text(text, 8, false), 1) AS emb0
        |FROM g_documents WHERE doc_id < 100""".stripMargin)
  }

  val sql1SqlApiSql: String = {
    import graft.operators.DedupSql
    import graft.functions.EmbedSql
    val sh = DedupSql.shingleSet("text", 2)
    s"""SELECT doc_id, ${DedupSql.simhash("text")} AS sim,
       |  CAST(len($sh) AS BIGINT) AS n_shingles,
       |  (${EmbedSql.embedRaw("text", 8)})[1] AS emb0
       |FROM documents WHERE doc_id < 100""".stripMargin
  }

  // ---------------------------------------------------------------------
  // GR1: user growth curve — per day: active users, first-seen (new)
  // users, and the running cumulative of known users. Running distinct
  // count without windowed-distinct: each user collapses to a first-day
  // row (keyed min), days aggregate map-side, and the cumulative is a
  // running sum over the tiny per-day table.
  // ---------------------------------------------------------------------
  def gr1UserGrowth(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("__day"))
    val active = ev.distinct()
      .groupBy(col("__day")).agg(count(lit(1)).as("active_users"))
    val firstDay = ev.groupBy(col("user_id")).agg(min(col("__day")).as("__day"))
      .groupBy(col("__day")).agg(count(lit(1)).as("new_users"))
    val run = Window.orderBy(col("__day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    active.join(firstDay, Seq("__day"), "left")
      .withColumn("new_users", coalesce(col("new_users"), lit(0L)))
      .withColumn("cum_users", sum(col("new_users")).over(run))
      .select(date_format(col("__day"), "yyyy-MM-dd").as("day"),
        col("active_users"), col("new_users"), col("cum_users"))
  }

  val gr1UserGrowthSql: String =
    """WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |act AS (SELECT day, COUNT(*) AS active_users FROM ev GROUP BY day),
      |fd AS (
      |  SELECT day, COUNT(*) AS new_users FROM (
      |    SELECT user_id, MIN(day) AS day FROM ev GROUP BY user_id)
      |  GROUP BY day)
      |SELECT strftime(act.day, '%Y-%m-%d') AS day, active_users,
      |  COALESCE(new_users, 0) AS new_users,
      |  CAST(SUM(COALESCE(new_users, 0)) OVER (ORDER BY act.day
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS cum_users
      |FROM act LEFT JOIN fd ON act.day = fd.day""".stripMargin

  // ---------------------------------------------------------------------
  // E14: hopping-window streaming replay — e12's sliding aggregation run
  // as real micro-batches in append mode: every event lives in two
  // overlapping windows, so this proves the 2× state bookkeeping emits
  // each (window, type) exactly once when the watermark passes it. The
  // oracle is e12's batch SQL verbatim.
  // ---------------------------------------------------------------------
  def e14StreamHopping(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayHopping(Tables.events(spark, sfDir))
      .select(
        date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  val e14StreamHoppingSql: String = Queries8.e12HoppingWindowSql

  // ---------------------------------------------------------------------
  // CM1: language-ID confusion matrix — the heuristic classifier (t1)
  // evaluated against the corpus ground-truth lang column: (true, pred, n,
  // row share). Eval-of-operator, one keyed count + a per-truth window.
  // ---------------------------------------------------------------------
  def cm1LangidConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val byTruth = Window.partitionBy(col("true_lang"))
    Tables.documents(spark, sfDir)
      .select(col("lang").as("true_lang"),
        graft.operators.TextAnalysis.langId(col("text")).as("pred_lang"))
      .groupBy(col("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share",
        round(col("n") / sum(col("n")).over(byTruth), 6))
  }

  val cm1LangidConfusionSql: String = {
    val lid = graft.operators.TextAnalysisSql.langId("text")
    s"""WITH p AS (SELECT lang AS true_lang, $lid AS pred_lang FROM documents),
       |c AS (SELECT true_lang, pred_lang, COUNT(*) AS n
       |      FROM p GROUP BY true_lang, pred_lang)
       |SELECT true_lang, pred_lang, n,
       |  round(n / CAST(SUM(n) OVER (PARTITION BY true_lang) AS DOUBLE), 6)
       |    AS share
       |FROM c""".stripMargin
  }

  // ---------------------------------------------------------------------
  // BP1: daily value quartile bands + IQR outlier counts — the box-plot
  // series a monitoring dashboard draws. Exact interpolated percentiles
  // (q10's pattern) per day, then each day's IQR fences count their own
  // day's outliers in a second conditional pass over the same groups.
  // ---------------------------------------------------------------------
  def bp1DailyQuartiles(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables.events(spark, sfDir)
      .select(to_date(col("ts")).as("__day"), col("value"))
    val bands = daily.groupBy(col("__day"))
      .agg(percentile(col("value"),
        array(lit(0.25), lit(0.5), lit(0.75))).as("__p"))
      .select(col("__day"),
        element_at(col("__p"), 1).as("__q1"),
        element_at(col("__p"), 2).as("__q2"),
        element_at(col("__p"), 3).as("__q3"))
    daily.join(bands, "__day")
      .groupBy(col("__day"), col("__q1"), col("__q2"), col("__q3"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("value") > col("__q3") +
          lit(1.5) * (col("__q3") - col("__q1")), 1L).otherwise(0L))
          .as("n_outliers"))
      .select(date_format(col("__day"), "yyyy-MM-dd").as("day"),
        col("n"), round(col("__q1"), 6).as("q1"),
        round(col("__q2"), 6).as("median"), round(col("__q3"), 6).as("q3"),
        col("n_outliers"))
  }

  val bp1DailyQuartilesSql: String =
    """WITH d AS (SELECT CAST(ts AS DATE) AS day, value FROM events),
      |b AS (
      |  SELECT day, quantile_cont(value, 0.25) AS q1,
      |    quantile_cont(value, 0.50) AS q2, quantile_cont(value, 0.75) AS q3
      |  FROM d GROUP BY day)
      |SELECT strftime(d.day, '%Y-%m-%d') AS day,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  round(b.q1, 6) AS q1, round(b.q2, 6) AS median, round(b.q3, 6) AS q3,
      |  CAST(SUM(CASE WHEN value > b.q3 + 1.5 * (b.q3 - b.q1)
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      |FROM d JOIN b ON d.day = b.day
      |GROUP BY d.day, b.q1, b.q2, b.q3""".stripMargin

  // ---------------------------------------------------------------------
  // A8: ANN recall-vs-probes tuning curve — mean recall@5 of sign-bucket
  // multiprobe against brute force as the probe count grows (1, 3, 5
  // buckets = 0, 2, 4 bit flips). The curve a user reads to pick the
  // recall/cost point; must be monotone non-decreasing by construction
  // (probe sets are nested). Recall is exact integer hits / 25.
  // ---------------------------------------------------------------------
  private val A8Flips = Seq(0, 2, 4)

  def a8RecallCurve(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.Ann
    val emb = Tables.embeddings(spark, sfDir)
    val queries = emb.where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Ann.bruteForceTopK(emb, queries, k = 5)
      .select(col("qid"), col("vec_id"))
    A8Flips.map { flips =>
      val approx = Ann.multiProbeTopK(emb, queries, k = 5, m = 4, flips = flips)
        .select(col("qid"), col("vec_id"), lit(1L).as("__hit"))
      exact.join(approx, Seq("qid", "vec_id"), "left")
        .agg(round(sum(coalesce(col("__hit"), lit(0L))) / 25.0d, 6).as("recall"))
        .select(lit(flips + 1L).as("n_probes"), col("recall"))
    }.reduce(_ unionByName _)
  }

  val a8RecallCurveSql: String = {
    import graft.operators.AnnSql
    val c = Queries.sqlCosine("v.embedding", "q.qvec")
    val vb = AnnSql.signBucket("v.embedding", 4)
    val qb = AnnSql.signBucket("q.qvec", 4)
    def approx(flips: Int) =
      s"""SELECT qid, vec_id FROM (
         |  SELECT q.qid AS qid, v.vec_id AS vec_id,
         |         ROW_NUMBER() OVER (PARTITION BY q.qid
         |                            ORDER BY $c DESC, v.vec_id ASC) AS rn
         |  FROM embeddings v,
         |       (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
         |        WHERE vec_id < 5) q
         |  WHERE ${AnnSql.multiProbePredicate(vb, qb, 4, flips)}
         |    AND $c IS NOT NULL
         |) WHERE rn <= 5""".stripMargin
    val arms = A8Flips.map { flips =>
      s"""SELECT CAST(${flips + 1} AS BIGINT) AS n_probes,
         |  round(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END)
         |    / 25.0, 6) AS recall
         |FROM exact e LEFT JOIN ap_$flips a
         |  ON a.qid = e.qid AND a.vec_id = e.vec_id""".stripMargin
    }.mkString("\nUNION ALL\n")
    val ctes = A8Flips.map(f => s"ap_$f AS (${approx(f)})").mkString(",\n")
    s"""WITH exact AS (${Queries.a1AnnBruteforceSql}),
       |$ctes
       |$arms""".stripMargin
  }

  val all: Seq[Query] = Seq(
    Query("er1_entity_resolution", er1EntityResolution, er1EntityResolutionSql),
    Query("ewma1_user_smoothing", ewma1UserSmoothing, ewma1UserSmoothingSql),
    Query("nv1_vocab_novelty", nv1VocabNovelty, nv1VocabNoveltySql),
    Query("sql1_sql_api", sql1SqlApi, sql1SqlApiSql),
    Query("gr1_user_growth", gr1UserGrowth, gr1UserGrowthSql),
    Query("e14_stream_hopping", e14StreamHopping, e14StreamHoppingSql, lane = true),
    Query("cm1_langid_confusion", cm1LangidConfusion, cm1LangidConfusionSql),
    Query("bp1_daily_quartiles", bp1DailyQuartiles, bp1DailyQuartilesSql),
    Query("a8_recall_curve", a8RecallCurve, a8RecallCurveSql))
}
