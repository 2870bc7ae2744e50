package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextHash, TextHashSql}
import graft.operators.{Ann, Joins, Quantization, QuantizationSql}

/** Round-2 query inventory extension: multidimensional aggregation (cube),
  * exact percentiles, distribution window functions, n-gram corpus stats,
  * bucketized range join, skew-salted join, int8 vector quantization, ANN
  * recall evaluation, first-touch attribution, and sketch aggregates.
  * Same contract as [[Queries]]: each Spark dataflow paired with DuckDB
  * SQL computing the identical result (except the sketch query, which is
  * engine-specific by nature and gets the driver's rows-only check).
  */
object Queries2 {

  // ---------------------------------------------------------------------
  // Q9: CUBE — all 2^2 grouping sets over (returnflag, linestatus)
  // ---------------------------------------------------------------------
  def q9Cube(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"))
  val q9CubeSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n,
      |  CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
      |  CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin

  // ---------------------------------------------------------------------
  // Q10: exact percentiles (linear interpolation in both engines)
  // ---------------------------------------------------------------------
  def q10Percentiles(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(percentile(col("l_quantity"),
        array(lit(0.25), lit(0.5), lit(0.75))).as("__p"))
      .select(col("l_returnflag"),
        round(element_at(col("__p"), 1), 6).as("p25"),
        round(element_at(col("__p"), 2), 6).as("p50"),
        round(element_at(col("__p"), 3), 6).as("p75"))
  val q10PercentilesSql: String =
    """SELECT l_returnflag,
      |  round(quantile_cont(l_quantity, 0.25), 6) AS p25,
      |  round(quantile_cont(l_quantity, 0.50), 6) AS p50,
      |  round(quantile_cont(l_quantity, 0.75), 6) AS p75
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // Q11: skew-salted join — result identical to the plain equi-join; only
  // the shuffle shape differs (Joins.saltedJoin spreads each hot key over
  // `salts` reducers). Oracle states the plain form.
  // ---------------------------------------------------------------------
  def q11SaltedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_suppkey").as("s_suppkey"), col("l_quantity"),
        col("l_linenumber"))
    val s = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_name"))
    Joins.saltedJoin(l, s, "s_suppkey", salts = 8,
        saltExpr = col("l_linenumber"))
      .groupBy(col("s_name"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
        .as("sum_qty"), count(lit(1)).as("n_items"))
  }
  val q11SaltedJoinSql: String =
    """SELECT s_name,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_name""".stripMargin

  // ---------------------------------------------------------------------
  // W3: distribution window functions — quartile, percent_rank, cume_dist,
  // first value per user ordered by (value, event_id)
  // ---------------------------------------------------------------------
  def w3WindowDist(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value"), col("event_id"))
    Tables.events(spark, sfDir)
      .where(col("user_id") < 10)
      .select(col("user_id"), col("event_id"),
        ntile(4).over(w).cast("long").as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cum_dist"),
        round(first(col("value")).over(w), 6).as("min_value"))
  }
  val w3WindowDistSql: String =
    """SELECT user_id, event_id,
      |  NTILE(4) OVER w AS quartile,
      |  round(PERCENT_RANK() OVER w, 6) AS pct_rank,
      |  round(CUME_DIST() OVER w, 6) AS cum_dist,
      |  round(FIRST_VALUE(value) OVER w, 6) AS min_value
      |FROM events WHERE user_id < 10
      |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""".stripMargin

  // ---------------------------------------------------------------------
  // T6: corpus n-gram frequency — top-50 2-gram shingles, total tie-break
  // ---------------------------------------------------------------------
  def t6NgramFreq(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(explode(
        graft.functions.Native.shingleStrings(col("text"), 2)).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("ngram").asc)
      .limit(50)
  val t6NgramFreqSql: String =
    s"""SELECT ngram, COUNT(*) AS n
       |FROM (SELECT unnest(${TextHashSql.shingles("text", 2)}) AS ngram
       |      FROM documents)
       |GROUP BY ngram ORDER BY n DESC, ngram ASC LIMIT 50""".stripMargin

  // ---------------------------------------------------------------------
  // X2: bucketized range join — events following a purchase by the same
  // user within 10 minutes. The naive form is a per-key theta join
  // (quadratic per user); Joins.rangeJoinPairs buckets both sides to the
  // window length so it runs as a plain equi-join + post-filter.
  // ---------------------------------------------------------------------
  def x2RangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"),
        col("ts").cast("long").as("sec"), col("event_type"))
    val purchases = ev.where(col("event_type") === "purchase")
    val follows = Joins.rangeJoinPairs(
        purchases, ev.select(col("user_id"), col("sec")),
        keyCol = "user_id", secCol = "sec", windowSec = 600L)
      .groupBy(col("l.event_id").as("event_id"))
      .agg(count(lit(1)).as("n"))
    purchases.select(col("event_id"), col("user_id"))
      .join(follows, Seq("event_id"), "left")
      .select(col("event_id"), col("user_id"),
        coalesce(col("n"), lit(0L)).as("n_follow"))
  }
  val x2RangeJoinSql: String =
    """SELECT p.event_id AS event_id, p.user_id AS user_id,
      |       CAST(COALESCE(c.n, 0) AS BIGINT) AS n_follow
      |FROM events p LEFT JOIN (
      |  SELECT b.event_id AS eid, COUNT(*) AS n
      |  FROM events b JOIN events e ON e.user_id = b.user_id
      |    AND floor(epoch(e.ts)) > floor(epoch(b.ts))
      |    AND floor(epoch(e.ts)) <= floor(epoch(b.ts)) + 600
      |  WHERE b.event_type = 'purchase'
      |  GROUP BY 1) c ON c.eid = p.event_id
      |WHERE p.event_type = 'purchase'""".stripMargin

  // ---------------------------------------------------------------------
  // V12: int8 vector quantization — compression stats per vector
  // ---------------------------------------------------------------------
  def v12Quantize(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        graft.functions.Native.quantizeStats(col("embedding")).as("__s"))
      .select(col("vec_id"),
        round(col("__s.max_abs"), 6).as("max_abs"),
        col("__s.sum_abs_q").as("sum_abs_q"),
        round(col("__s.mae"), 6).as("mae"))
  val v12QuantizeSql: String = {
    val q = QuantizationSql.quantize("embedding")
    s"""SELECT vec_id,
       |  round(${QuantizationSql.maxAbs("embedding")}, 6) AS max_abs,
       |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |    list_transform($q, x -> CAST(abs(x) AS BIGINT))),
       |    (s, x) -> s + x) AS BIGINT) AS sum_abs_q,
       |  round(${QuantizationSql.meanAbsError("embedding")}, 6) AS mae
       |FROM embeddings""".stripMargin
  }

  // ---------------------------------------------------------------------
  // A5: ANN recall evaluation — fraction of the exact top-5 that the
  // sign-bucketed probe recovers, per query. The evaluation harness every
  // approximate index needs before it replaces the exact scan.
  // ---------------------------------------------------------------------
  def a5AnnRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val queries = Tables.embeddings(spark, sfDir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Ann.bruteForceTopK(Tables.embeddings(spark, sfDir),
      queries, k = 5).select(col("qid"), col("vec_id"))
    val approx = Ann.bucketedTopK(Tables.embeddings(spark, sfDir),
      queries, k = 5, m = 4).select(col("qid"), col("vec_id"), lit(1).as("__hit"))
    exact.join(approx, Seq("qid", "vec_id"), "left")
      .groupBy(col("qid"))
      .agg(round(sum(coalesce(col("__hit"), lit(0))) / 5.0d, 6).as("recall"))
  }
  val a5AnnRecallSql: String =
    s"""WITH exact AS (${Queries.a1AnnBruteforceSql}),
       |approx AS (${Queries.a2AnnBucketedSql})
       |SELECT e.qid AS qid,
       |  round(SUM(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) / 5.0, 6)
       |    AS recall
       |FROM exact e LEFT JOIN approx a
       |  ON a.qid = e.qid AND a.vec_id = e.vec_id
       |GROUP BY e.qid""".stripMargin

  // ---------------------------------------------------------------------
  // E7: first-touch attribution — batch form of the mapGroupsWithState
  // streaming operator (EventStream.firstTouchStreaming; parity in spec)
  // ---------------------------------------------------------------------
  def e7FirstTouch(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.firstTouchBatch(Tables.events(spark, sfDir))
  val e7FirstTouchSql: String =
    """SELECT user_id, event_id AS first_event_id, event_type AS first_type,
      |       CAST(floor(epoch(ts)) AS BIGINT) AS first_sec
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) AS rn FROM events)
      |WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // T7: TF-IDF — top-100 (doc, term) scores with smooth idf. Plan shape:
  // one shuffle on (doc, tok) for tf, one on tok for df (window count
  // over the tf rows — vocabulary-sized, no second pass over the corpus),
  // corpus size broadcast as a 1-row frame; top-100 is a
  // TakeOrderedAndProject on the rounded score with a total tie-break.
  // ---------------------------------------------------------------------
  def t7Tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, sfDir)
      .select(col("doc_id"), explode(TextHash.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    val withDf = tf.withColumn("df",
      count(lit(1)).over(Window.partitionBy(col("tok"))))
    val n = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    withDf.crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"),
        round(col("cnt").cast("double") *
          (log((col("n_docs") + 1.0d) / (col("df") + 1.0d)) + 1.0d), 6)
          .as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id").asc, col("tok").asc)
      .limit(100)
  }
  val t7TfidfSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(${TextHashSql.tokens("text")}) AS tok
       |  FROM documents),
       |tf AS (SELECT doc_id, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents)
       |SELECT doc_id, tok,
       |  round(CAST(cnt AS DOUBLE) * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0), 6)
       |    AS tfidf
       |FROM (SELECT doc_id, tok, cnt,
       |        COUNT(*) OVER (PARTITION BY tok) AS df FROM tf), n
       |ORDER BY tfidf DESC, doc_id ASC, tok ASC LIMIT 100""".stripMargin

  // ---------------------------------------------------------------------
  // Q12: sketch aggregates — HLL++ distinct users and a quantile-sketch
  // median per event type. The sketch values themselves are
  // engine-specific, so the oracle is BOUND-style: the query also computes
  // the exact answers (portable in both engines) and derives booleans
  // asserting each sketch lands inside its published error bound — HLL++
  // within 3×rsd (rsd = 0.05 default) of the exact distinct count, and the
  // approx median inside the exact [p45, p55] quantile band. DuckDB emits
  // the same exact columns plus literal TRUE for the bound flags, so any
  // out-of-bound sketch hash-mismatches. SketchSpec keeps the tighter
  // engine-side error-bound assertions.
  // ---------------------------------------------------------------------
  def q12Sketch(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("__approx_users"),
        // accuracy 1000 (the Spark default): rank error <= 0.1% of rows,
        // two orders of magnitude tighter than the exact 45-55% band the
        // bound check asserts — 10x cheaper than accuracy 10000 with no
        // change in what the oracle verifies
        percentile_approx(col("value"), lit(0.5), lit(1000))
          .as("__approx_median"),
        countDistinct(col("user_id")).as("exact_users"),
        percentile(col("value"), array(lit(0.45), lit(0.5), lit(0.55)))
          .as("__band"))
      .select(col("event_type"), col("exact_users"),
        round(element_at(col("__band"), 2), 6).as("exact_median"),
        (abs(col("__approx_users") - col("exact_users")).cast("double") <=
          col("exact_users").cast("double") * 0.15d).as("users_in_bound"),
        (col("__approx_median") >= element_at(col("__band"), 1) &&
          col("__approx_median") <= element_at(col("__band"), 3))
          .as("median_in_band"))
      .orderBy(col("event_type"))
  val q12SketchSql: String =
    """SELECT event_type,
      |  COUNT(DISTINCT user_id) AS exact_users,
      |  round(quantile_cont(value, 0.5), 6) AS exact_median,
      |  TRUE AS users_in_bound,
      |  TRUE AS median_in_band
      |FROM events GROUP BY event_type""".stripMargin

  val all: Seq[Query] = Seq(
    Query("q9_cube", q9Cube, q9CubeSql),
    Query("q10_percentiles", q10Percentiles, q10PercentilesSql),
    Query("q11_salted_join", q11SaltedJoin, q11SaltedJoinSql),
    Query("w3_window_dist", w3WindowDist, w3WindowDistSql),
    Query("t6_ngram_freq", t6NgramFreq, t6NgramFreqSql),
    Query("t7_tfidf", t7Tfidf, t7TfidfSql),
    Query("x2_range_join", x2RangeJoin, x2RangeJoinSql),
    Query("v12_quantize", v12Quantize, v12QuantizeSql),
    Query("a5_ann_recall", a5AnnRecall, a5AnnRecallSql),
    Query("e7_first_touch", e7FirstTouch, e7FirstTouchSql),
    Query("q12_sketch", q12Sketch, q12SketchSql))
}
