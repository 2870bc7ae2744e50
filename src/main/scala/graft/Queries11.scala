package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Expectations

/** Round-3 continuation: declarative data-quality expectations — the
  * pipeline-gate rule suite. Same contract as [[Queries]]: Spark dataflow
  * paired with DuckDB SQL computing the identical result.
  */
object Queries11 {

  // ---------------------------------------------------------------------
  // DQ1: expectation suite over lineitem — five predicate rules counted
  // in ONE shared scan (conditional sums, not one job per rule) plus a
  // referential rule as a counted anti-join. One row per rule:
  // (rule, n_violations, pass) — the table a deployment gate consumes.
  // The discount-policy rule fires by design; the rest hold.
  // ---------------------------------------------------------------------
  def dq1Expectations(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables.lineitem(spark, sfDir)
    val inScan = Expectations.check(li, Seq(
      "quantity_in_range" -> (col("l_quantity") < 1 || col("l_quantity") > 50),
      "price_positive" -> (col("l_extendedprice") <= 0),
      "discount_unit_interval" -> (col("l_discount") < 0 || col("l_discount") > 0.1),
      "discount_policy_5pct" -> (col("l_discount") > 0.05),
      "shipdate_nonnull" -> col("l_shipdate").isNull))
    val fk = Expectations.fkCheck("orderkey_fk",
      li, col("l_orderkey"),
      Tables.orders(spark, sfDir), col("o_orderkey"))
    inScan.unionByName(fk)
  }

  val dq1ExpectationsSql: String =
    """WITH c AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50
      |             THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
      |    CAST(SUM(CASE WHEN l_extendedprice <= 0
      |             THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
      |    CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1
      |             THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
      |    CAST(SUM(CASE WHEN l_discount > 0.05
      |             THEN 1 ELSE 0 END) AS BIGINT) AS v_policy,
      |    CAST(SUM(CASE WHEN l_shipdate IS NULL
      |             THEN 1 ELSE 0 END) AS BIGINT) AS v_ship
      |  FROM lineitem),
      |fk AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS v FROM lineitem l
      |  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  WHERE l.l_orderkey IS NOT NULL AND o.o_orderkey IS NULL)
      |SELECT 'quantity_in_range' AS rule, v_range AS n_violations,
      |       v_range = 0 AS pass FROM c
      |UNION ALL SELECT 'price_positive', v_price, v_price = 0 FROM c
      |UNION ALL SELECT 'discount_unit_interval', v_disc, v_disc = 0 FROM c
      |UNION ALL SELECT 'discount_policy_5pct', v_policy, v_policy = 0 FROM c
      |UNION ALL SELECT 'shipdate_nonnull', v_ship, v_ship = 0 FROM c
      |UNION ALL SELECT 'orderkey_fk', v, v = 0 FROM fk""".stripMargin

  // ---------------------------------------------------------------------
  // E13: streaming exactly-once dedup replay — every third event is
  // re-delivered 30 min late (same event_id), the stream drops retries
  // with watermark-bounded dedup state, and the emitted rows must equal
  // the clean base table exactly: at-least-once delivery in, exactly-once
  // table out. See EventStream.replayDedup for the state-bound argument.
  // ---------------------------------------------------------------------
  def e13StreamDedup(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayDedup(Tables.events(spark, sfDir))

  val e13StreamDedupSql: String =
    "SELECT event_id, user_id, event_type, value FROM events"

  // ---------------------------------------------------------------------
  // MLT1: unpivot/melt — wide measure columns to long (measure, value)
  // rows, then per-measure DECIMAL profiles. The inverse of q8's pivot;
  // melt is map-side (each row emits k rows, no shuffle until the agg).
  // ---------------------------------------------------------------------
  def mlt1Unpivot(spark: SparkSession, sfDir: String): DataFrame =
    Tables.lineitem(spark, sfDir)
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "measure", "v")
      .groupBy(col("measure"))
      .agg(count(lit(1)).as("n"),
        sum(col("v").cast("decimal(18,2)")).cast("double").as("total"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"))

  val mlt1UnpivotSql: String = {
    def arm(c: String) =
      s"""SELECT '$c' AS measure, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS total,
         |  MIN($c) AS vmin, MAX($c) AS vmax FROM lineitem""".stripMargin
    Seq("l_quantity", "l_discount", "l_tax").map(arm)
      .mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------------
  // TRI1: triangles in the near-dup graph — clique evidence that tells a
  // curation pipeline a duplicate cluster is dense (mutual near-dups)
  // rather than a chain of borderline pairs. Node-iterator shape: wedge
  // join (b matches) + closing-edge join — the classic distributed
  // triangle enumeration, two equi-joins over the (small) edge list,
  // never touching the document table again. Edges are d3's banded
  // SimHash pairs, so the whole path is bucketed end-to-end.
  // ---------------------------------------------------------------------
  def tri1DupTriangles(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.GraphOps.triangles(
      graft.operators.Dedup.simhashPairs(
        Tables.documents(spark, sfDir), "doc_id", "text", maxDist = 3))

  val tri1DupTrianglesSql: String =
    s"""WITH e AS (${Queries.d3SimhashPairsSql})
       |SELECT x.id1 AS a, x.id2 AS b, y.id2 AS c
       |FROM e x
       |JOIN e y ON x.id2 = y.id1
       |JOIN e z ON z.id1 = x.id1 AND z.id2 = y.id2""".stripMargin

  // ---------------------------------------------------------------------
  // DRF2: embedding-space drift — per-label centroid shift between two
  // deterministic halves of the corpus (vec_id parity stands in for
  // batch-over-batch). Per-dim means accumulate in DECIMAL so both
  // engines derive identical centroids; the L2 shift then compares
  // identical doubles. Completes the drift family: ks1/psi1 watch scalar
  // metrics, this watches the embedding space itself.
  // ---------------------------------------------------------------------
  def drf2EmbeddingShift(spark: SparkSession, sfDir: String): DataFrame = {
    val x = Tables.embeddings(spark, sfDir)
      .select(col("label"), (col("vec_id") % 2 === 0).as("__a"),
        posexplode(col("embedding")).as(Seq("dim", "__x")))
      .select(col("label"), col("__a"), col("dim"),
        col("__x").cast("double").as("__x"))
    val cent = x.groupBy(col("label"), col("__a"), col("dim"))
      .agg((sum(col("__x").cast("decimal(28,10)")).cast("double") /
        count(lit(1))).as("__m"))
    val a = cent.where(col("__a")).select(col("label"), col("dim"), col("__m").as("__ma"))
    val b = cent.where(!col("__a")).select(col("label"), col("dim"), col("__m").as("__mb"))
    a.join(b, Seq("label", "dim"))
      .groupBy(col("label"))
      .agg(round(sqrt(sum((col("__ma") - col("__mb")) *
        (col("__ma") - col("__mb")))), 6).as("centroid_shift"))
  }

  val drf2EmbeddingShiftSql: String =
    """WITH x AS (
      |  SELECT label, vec_id % 2 = 0 AS a, CAST(i - 1 AS BIGINT) AS dim,
      |    CAST(e.embedding[i] AS DOUBLE) AS x
      |  FROM embeddings e, range(1, 65) t(i)),
      |cent AS (
      |  SELECT label, a, dim,
      |    CAST(SUM(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*) AS m
      |  FROM x GROUP BY label, a, dim)
      |SELECT ca.label AS label,
      |  round(sqrt(SUM((ca.m - cb.m) * (ca.m - cb.m))), 6) AS centroid_shift
      |FROM cent ca JOIN cent cb
      |  ON ca.label = cb.label AND ca.dim = cb.dim AND ca.a AND NOT cb.a
      |GROUP BY ca.label""".stripMargin

  // ---------------------------------------------------------------------
  // SKW1: key-skew diagnosis — the report that tells you whether a join
  // or aggregation key needs salting before you burn a cluster on it:
  // per candidate key, rows, distinct keys, the hottest key's share, and
  // the max/mean skew factor. Two-level aggregation per key column, all
  // exact integer ratios.
  // ---------------------------------------------------------------------
  def skw1KeySkew(spark: SparkSession, sfDir: String): DataFrame = {
    def profile(df: DataFrame, key: String, table: String): DataFrame =
      df.groupBy(col(key)).agg(count(lit(1)).as("__n"))
        .agg(sum(col("__n")).as("rows"), count(lit(1)).as("n_keys"),
          max(col("__n")).as("max_key_rows"))
        .select(lit(s"$table.$key").as("key"), col("rows"), col("n_keys"),
          col("max_key_rows"),
          round(col("max_key_rows") * col("n_keys") /
            col("rows").cast("double"), 6).as("skew_factor"))
    profile(Tables.lineitem(spark, sfDir), "l_orderkey", "lineitem")
      .unionByName(profile(Tables.events(spark, sfDir), "user_id", "events"))
      .unionByName(profile(Tables.events(spark, sfDir), "event_type", "events"))
  }

  val skw1KeySkewSql: String = {
    def arm(table: String, key: String) =
      s"""SELECT '$table.$key' AS key, CAST(SUM(n) AS BIGINT) AS rows,
         |  CAST(COUNT(*) AS BIGINT) AS n_keys,
         |  CAST(MAX(n) AS BIGINT) AS max_key_rows,
         |  round(MAX(n) * COUNT(*) / CAST(SUM(n) AS DOUBLE), 6) AS skew_factor
         |FROM (SELECT $key, COUNT(*) AS n FROM $table GROUP BY $key)""".stripMargin
    Seq(("lineitem", "l_orderkey"), ("events", "user_id"),
      ("events", "event_type")).map { case (t, k) => arm(t, k) }
      .mkString("\nUNION ALL\n")
  }

  // ---------------------------------------------------------------------
  // SLT1: skew-ROUTED join — skw1's measurement wired into the plan
  // decision. events.event_type is a classic hot key (a handful of types
  // over millions of rows): autoSaltedJoin measures the hottest-key
  // share and picks the salted shuffle shape; results are identical to
  // the plain join the oracle states. The per-type above-average counter
  // is the usual fact ⋈ small-aggregate enrichment this pattern guards.
  // ---------------------------------------------------------------------
  def slt1AutoSalted(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir).select(col("event_type"), col("value"))
    val dim = ev.groupBy(col("event_type"))
      .agg((sum(col("value").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("avg_v"))
    graft.operators.Joins.autoSaltedJoin(ev, dim, "event_type",
        saltExpr = xxhash64(col("value")))
      .groupBy(col("event_type"))
      .agg(sum(when(col("value") > col("avg_v"), 1L).otherwise(0L)).as("n_above"),
        count(lit(1)).as("n_rows"))
  }

  val slt1AutoSaltedSql: String =
    """WITH dim AS (
      |  SELECT event_type,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_v
      |  FROM events GROUP BY event_type)
      |SELECT e.event_type AS event_type,
      |  CAST(SUM(CASE WHEN e.value > d.avg_v THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_above,
      |  COUNT(*) AS n_rows
      |FROM events e JOIN dim d ON e.event_type = d.event_type
      |GROUP BY e.event_type""".stripMargin

  val all: Seq[Query] = Seq(
    Query("dq1_expectations", dq1Expectations, dq1ExpectationsSql),
    Query("slt1_auto_salted", slt1AutoSalted, slt1AutoSaltedSql),
    Query("e13_stream_dedup", e13StreamDedup, e13StreamDedupSql, lane = true),
    Query("mlt1_unpivot", mlt1Unpivot, mlt1UnpivotSql),
    Query("tri1_dup_triangles", tri1DupTriangles, tri1DupTrianglesSql),
    Query("drf2_embedding_shift", drf2EmbeddingShift, drf2EmbeddingShiftSql),
    Query("skw1_key_skew", skw1KeySkew, skw1KeySkewSql))
}
