package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-2 query inventory, fifth batch: event-sequence analytics —
  * funnel progression (order-sensitive state fold) and cohort retention.
  * Same contract as [[Queries]]: each Spark dataflow paired with DuckDB
  * SQL computing the identical result.
  */
object Queries6 {

  // ---------------------------------------------------------------------
  // F1: funnel analysis — how far each user progresses through
  // view -> click -> purchase, in event-time order. The per-user fold is
  // a sequential state machine over the ordered event-code list (both
  // engines fold left-to-right, so the oracle matches exactly); one
  // shuffle keyed by user. Event times are µs-identical on both sides
  // (Tables.normalizeEventTs), so (ts, event_id) orders identically.
  // ---------------------------------------------------------------------
  private def stageCode(c: Column): Column =
    when(c === "view", 1).when(c === "click", 2)
      .when(c === "purchase", 3).otherwise(0)

  def f1Funnel(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(
      col("user_id"),
      struct(col("ts"), col("event_id"), stageCode(col("event_type")).as("code"))
        .as("e"))
    ev.groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("e"))).as("__seq"))
      .select(col("user_id"),
        aggregate(transform(col("__seq"), e => e.getField("code")),
          lit(0),
          (s, x) => when(s === 0 && x === 1, 1)
            .when(s === 1 && x === 2, 2)
            .when(s === 2 && x === 3, 3)
            .otherwise(s)).as("funnel_stage"))
  }
  val f1FunnelSql: String =
    """SELECT user_id,
      |  list_reduce(
      |    list_prepend(0, list(CASE event_type WHEN 'view' THEN 1
      |        WHEN 'click' THEN 2 WHEN 'purchase' THEN 3 ELSE 0 END
      |      ORDER BY ts, event_id)),
      |    (s, x) -> CASE WHEN s = 0 AND x = 1 THEN 1
      |      WHEN s = 1 AND x = 2 THEN 2
      |      WHEN s = 2 AND x = 3 THEN 3 ELSE s END) AS funnel_stage
      |FROM events GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // R1: cohort retention — users grouped by their first active week;
  // (cohort_week, week, n_users) counts how many of each cohort return
  // each week. Two keyed aggregations + one join, all integer counts.
  // ---------------------------------------------------------------------
  def r1Retention(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
      .select(col("user_id"),
        floor(col("ts").cast("long") / 604800L).cast("long").as("week"))
      .distinct()
    val cohort = ev.groupBy(col("user_id"))
      .agg(min(col("week")).as("cohort_week"))
    ev.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"), col("week"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }
  val r1RetentionSql: String =
    """WITH ev AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
      |  FROM events),
      |c AS (SELECT user_id, MIN(week) AS cohort_week FROM ev GROUP BY 1)
      |SELECT c.cohort_week, e.week, COUNT(DISTINCT e.user_id) AS n_users
      |FROM ev e JOIN c USING (user_id)
      |GROUP BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // PIPE1: the corpus-curation funnel end to end — the composite a
  // training-data pipeline actually runs, with a count at every stage:
  //   raw -> nonempty (A1 validation) -> exact (one survivor per distinct
  //   text) -> neardup (MinHash-verified higher-id drop) -> clean
  //   (benchmark contamination <= 0.3).
  // Every stage is the already-oracle-checked operator, composed; the
  // oracle composes the same CTEs. All counts integer-exact.
  // ---------------------------------------------------------------------
  def pipe1CorpusFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.{Decontaminate, Dedup}
    val docs = Tables.documents(spark, sfDir)
    val s2 = docs.where(length(trim(col("text"))) > 0)
    val keep3 = s2.groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val s3 = s2.join(keep3, Seq("doc_id"), "left_semi")
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      threshold = 0.5, nPerm = 16, bands = 8, shingleN = 2)
    val s4 = Dedup.applySurvivors(s3, pairs, "doc_id")
    val drop5 = Decontaminate.ngramOverlap(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "doc_id", "text", shingleN = 3)
      .where(col("contamination") > 0.3).select(col("doc_id"))
    val s5 = s4.join(drop5, Seq("doc_id"), "left_anti")
    def cnt(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n_docs"))
        .select(lit(name).as("stage"), col("n_docs"))
    cnt("1_raw", docs)
      .unionByName(cnt("2_nonempty", s2))
      .unionByName(cnt("3_exact", s3))
      .unionByName(cnt("4_neardup", s4))
      .unionByName(cnt("5_clean", s5))
  }
  val pipe1CorpusFunnelSql: String =
    s"""WITH s2 AS (SELECT * FROM documents WHERE trim(text) <> ''),
       |keep3 AS (SELECT MIN(doc_id) AS doc_id FROM s2 GROUP BY md5(text)),
       |s3 AS (SELECT s2.* FROM s2 JOIN keep3 USING (doc_id)),
       |pairs AS (${Queries.d2MinhashPairsSql}),
       |s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN
       |  (SELECT DISTINCT id2 FROM pairs)),
       |cont AS (${Queries3.c1ContaminationSql}),
       |s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN
       |  (SELECT doc_id FROM cont WHERE contamination > 0.3))
       |SELECT '1_raw' AS stage, COUNT(*) AS n_docs FROM documents
       |UNION ALL SELECT '2_nonempty', COUNT(*) FROM s2
       |UNION ALL SELECT '3_exact', COUNT(*) FROM s3
       |UNION ALL SELECT '4_neardup', COUNT(*) FROM s4
       |UNION ALL SELECT '5_clean', COUNT(*) FROM s5""".stripMargin

  // ---------------------------------------------------------------------
  // Q14: data profiling — count / mean / population-std / min / max per
  // numeric lineitem column, the describe() every ingest pipeline runs
  // first. One aggregation pass per column over a pruned scan, unioned.
  // Determinism: sums and sums-of-squares accumulate in exact DECIMAL
  // (x*x is one IEEE double multiply — identical everywhere — and DECIMAL
  // addition is associative); mean/std derive in double at the end.
  // sqrt IS correctly rounded under IEEE-754 (unlike ln), so it is
  // oracle-safe.
  // ---------------------------------------------------------------------
  private def profileOne(df: DataFrame, c: String): DataFrame = {
    val d = col(c).cast("double")
    df.agg(
      count(lit(1)).as("n"),
      sum(d.cast("decimal(28,10)")).cast("double").as("__s"),
      sum((d * d).cast("decimal(28,8)")).cast("double").as("__ss"),
      min(d).as("min_val"),
      max(d).as("max_val"))
      .select(lit(c).as("column"), col("n"),
        round(col("__s") / col("n"), 6).as("mean"),
        round(sqrt(greatest(lit(0.0),
          col("__ss") / col("n") -
            (col("__s") / col("n")) * (col("__s") / col("n")))), 6).as("std"),
        round(col("min_val"), 6).as("min_val"),
        round(col("max_val"), 6).as("max_val"))
  }

  def q14Profile(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    Seq("l_quantity", "l_extendedprice", "l_discount")
      .map(profileOne(li, _))
      .reduce(_.unionByName(_))
  }
  val q14ProfileSql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS "column", COUNT(*) AS n,
         |  round(CAST(SUM(CAST(CAST($c AS DOUBLE) AS DECIMAL(28,10)))
         |    AS DOUBLE) / COUNT(*), 6) AS mean,
         |  round(sqrt(greatest(0.0,
         |    CAST(SUM(CAST(CAST($c AS DOUBLE) * CAST($c AS DOUBLE)
         |      AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*)
         |    - (CAST(SUM(CAST(CAST($c AS DOUBLE) AS DECIMAL(28,10)))
         |        AS DOUBLE) / COUNT(*))
         |      * (CAST(SUM(CAST(CAST($c AS DOUBLE) AS DECIMAL(28,10)))
         |        AS DOUBLE) / COUNT(*)))), 6) AS std,
         |  round(MIN(CAST($c AS DOUBLE)), 6) AS min_val,
         |  round(MAX(CAST($c AS DOUBLE)), 6) AS max_val
         |FROM lineitem""".stripMargin
    Seq("l_quantity", "l_extendedprice", "l_discount")
      .map(one).mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------------
  // W5: moving average — 3-row trailing mean of event values per user,
  // the sliding-frame window shape (w1 covers the running/unbounded
  // frame). Frame sums in exact DECIMAL so the 2-or-3-value addition is
  // order-proof.
  // ---------------------------------------------------------------------
  def w5MovingAvg(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 0)
    Tables.events(spark, sfDir).select(
      col("event_id"), col("user_id"),
      round(sum(col("value").cast("decimal(18,6)")).over(w).cast("double") /
        count(lit(1)).over(w), 6).as("mov_avg"))
  }
  val w5MovingAvgSql: String =
    """SELECT event_id, user_id,
      |  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
      |    / (COUNT(*) OVER w), 6) AS mov_avg
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin

  // ---------------------------------------------------------------------
  // Q15: correlated-subquery shape — orders priced above their
  // priority's average. The decorrelated plan Catalyst would produce for
  // `WHERE price > (SELECT AVG(...) WHERE same priority)`: one tiny
  // per-priority aggregate broadcast back to the fact scan. Averages from
  // DECIMAL sums.
  // ---------------------------------------------------------------------
  def q15AboveAvg(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val avgs = orders.groupBy(col("o_orderpriority"))
      .agg((sum(col("o_totalprice").cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as("__avg"))
    orders.join(broadcast(avgs), Seq("o_orderpriority"))
      .where(col("o_totalprice") > col("__avg"))
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"), round(col("__avg"), 6).as("prio_avg"))
  }
  val q15AboveAvgSql: String =
    """SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice,
      |  round(a.avg_p, 6) AS prio_avg
      |FROM orders o JOIN (
      |  SELECT o_orderpriority,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(28,10))) AS DOUBLE)
      |      / COUNT(*) AS avg_p
      |  FROM orders GROUP BY 1) a USING (o_orderpriority)
      |WHERE o.o_totalprice > a.avg_p""".stripMargin

  // ---------------------------------------------------------------------
  // P3: caller-supplied-id validation in the ingest pipeline — malformed
  // UUIDs rejected BEFORE any content check, the batch analog of the
  // reference's deserialization-time rejection (src/routes.rs:193-195
  // `id: Option<Uuid>`). Fixture: every 7th id is garbage, every 13th a
  // truncated UUID, the rest canonical; text/reserved-key/FK faults from
  // the p1/p2 fixture stay in, so the reason column also pins the
  // precedence uuid > empty-text > reserved-key > missing-session.
  // ---------------------------------------------------------------------
  private def uuidOf(c: Column): Column =
    format_string("%08x-0000-4000-8000-%012x", c, c)

  def p3IngestBadIds(spark: SparkSession, sfDir: String): DataFrame = {
    val existing = Tables.embeddings(spark, sfDir).select(
      uuidOf(col("vec_id")).as("id"),
      col("label").cast("long").as("session_id"),
      col("embedding"))
    val incoming = Tables.documents(spark, sfDir).select(
      when(col("doc_id") % 7 === 0, concat(lit("bad:"), col("doc_id")))
        .when(col("doc_id") % 13 === 0, substring(uuidOf(col("doc_id")), 1, 35))
        .otherwise(uuidOf(col("doc_id"))).as("id"),
      when(col("doc_id") % 50 === 0, lit("")).otherwise(col("text")).as("text"),
      map(when(col("doc_id") % 40 === 0, lit("text")).otherwise(lit("topic")),
        col("source")).as("metadata"),
      (col("doc_id") % 15).as("session_id"))
    val sessions = Tables.customer(spark, sfDir)
      .where(col("c_custkey") < 10).select(col("c_custkey").as("id"))
    graft.operators.Pipeline.ingest(existing, incoming, sessions, dim = 64,
      requireUuidIds = true).rejects
  }
  val p3IngestBadIdsSql: String =
    """SELECT id,
      |  CASE WHEN NOT regexp_matches(id,
      |         '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$')
      |         THEN 'Invalid id: ''' || id || ''' is not a valid UUID'
      |       WHEN length(trim(text)) = 0 THEN 'Field ''text'' must not be empty'
      |       WHEN reserved THEN 'metadata key ''text'' is reserved'
      |       ELSE 'Session ''' || CAST(session_id AS VARCHAR) || ''' not found'
      |  END AS reason
      |FROM (SELECT
      |        CASE WHEN doc_id % 7 = 0 THEN 'bad:' || doc_id
      |             WHEN doc_id % 13 = 0
      |               THEN substr(printf('%08x-0000-4000-8000-%012x', doc_id, doc_id), 1, 35)
      |             ELSE printf('%08x-0000-4000-8000-%012x', doc_id, doc_id)
      |        END AS id,
      |        CASE WHEN doc_id % 50 = 0 THEN '' ELSE text END AS text,
      |        doc_id % 40 = 0 AS reserved,
      |        doc_id % 15 AS session_id
      |      FROM documents)
      |WHERE NOT regexp_matches(id,
      |        '^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$')
      |   OR length(trim(text)) = 0 OR reserved
      |   OR session_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey < 10)""".stripMargin

  val all: Seq[Query] = Seq(
    Query("f1_funnel", f1Funnel, f1FunnelSql),
    Query("r1_retention", r1Retention, r1RetentionSql),
    Query("pipe1_funnel", pipe1CorpusFunnel, pipe1CorpusFunnelSql),
    Query("q14_profile", q14Profile, q14ProfileSql),
    Query("w5_moving_avg", w5MovingAvg, w5MovingAvgSql),
    Query("q15_above_avg", q15AboveAvg, q15AboveAvgSql),
    Query("p3_ingest_bad_ids", p3IngestBadIds, p3IngestBadIdsSql))
}
