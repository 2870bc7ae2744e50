package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Embed, EmbedSql, TextHashSql}
import graft.operators.{Ann, AnnSql, AsOfJoin, Dedup, DedupSql, MemoryOps, Multimodal, MultimodalSql, Pipeline, Sampling, SamplingSql, SessionOps, TextAnalysis, TextAnalysisSql, VectorSearch}

/** The oracle-checked query inventory. Each entry pairs a Spark dataflow
  * with ANSI SQL (DuckDB dialect) computing the identical result over the
  * same parquet, per the driver contract. Column names and rounding are
  * deliberately identical on both sides.
  *
  * Determinism rules (SURVEY.md §7.4): cast f32 -> double before folds,
  * left-to-right array folds, total tie-break ordering, round floating
  * scores to 6 dp, exact DECIMAL accumulation for money sums.
  */
object Queries {

  /** DuckDB SQL fragment: cosine similarity between list expressions,
    * cast-then-fold in double — the mirror of [[graft.functions.Similarity.cosine]]. */
  private[graft] def sqlCosine(a: String, q: String): String = {
    def sq(v: String) =
      s"sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    s"(list_sum(list_transform(range(1, len($a) + 1), i -> CAST($a[i] AS DOUBLE) * CAST($q[i] AS DOUBLE))) / (${sq(a)} * ${sq(q)}))"
  }

  /** One-row relation holding the query vector (embedding of vec_id 0) —
    * the SQL analog of the collected literal in Tables.queryVector. */
  private val qv = "(SELECT embedding AS q FROM embeddings WHERE vec_id = 0) qv"

  // ---------------------------------------------------------------------
  // V1: scalar cosine scoring over the whole table
  // ---------------------------------------------------------------------
  def v1Cosine(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.queryVector(spark, sfDir, 0L)
    VectorSearch.scored(Tables.embeddings(spark, sfDir), q)
      .select(col("vec_id"), round(col("score"), 6).as("score"))
  }
  val v1CosineSql: String =
    s"""SELECT e.vec_id AS vec_id, round(${sqlCosine("e.embedding", "qv.q")}, 6) AS score
       |FROM embeddings e, $qv""".stripMargin

  // ---------------------------------------------------------------------
  // V2-V7: top-k KNN with session filter (label = session tag)
  // ---------------------------------------------------------------------
  def v2KnnTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.queryVector(spark, sfDir, 0L)
    VectorSearch.topK(Tables.embeddings(spark, sfDir), q, k = 10,
        predicate = Some(col("label") === 2))
      .select(col("vec_id"), col("label"), round(col("score"), 6).as("score"))
  }
  val v2KnnTopkSql: String =
    s"""SELECT vec_id, label, score FROM (
       |  SELECT e.vec_id AS vec_id, e.label AS label,
       |         round(${sqlCosine("e.embedding", "qv.q")}, 6) AS score
       |  FROM embeddings e, $qv
       |  WHERE e.label = 2
       |) WHERE score IS NOT NULL
       |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin

  // ---------------------------------------------------------------------
  // V5/V6: threshold + default-limit search (the /api/search shape)
  // ---------------------------------------------------------------------
  def v5KnnThreshold(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.queryVector(spark, sfDir, 0L)
    VectorSearch.topK(Tables.embeddings(spark, sfDir), q, k = 5,
        threshold = Some(0.2))
      .select(col("vec_id"), round(col("score"), 6).as("score"))
  }
  val v5KnnThresholdSql: String =
    s"""SELECT vec_id, score FROM (
       |  SELECT e.vec_id AS vec_id, round(${sqlCosine("e.embedding", "qv.q")}, 6) AS score
       |  FROM embeddings e, $qv
       |) WHERE score IS NOT NULL AND score >= 0.2
       |ORDER BY score DESC, vec_id ASC LIMIT 5""".stripMargin

  // ---------------------------------------------------------------------
  // General aggregation (engine extension; exercises shuffle agg + exact
  // decimal accumulation so the oracle hash is order-independent)
  // ---------------------------------------------------------------------
  def q1Agg(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "decimal(18,2)"
    val li = Tables.lineitem(spark, sfDir)
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(dec)).cast("double").as("sum_base_price"),
        sum(col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))).cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }
  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------------
  // V8: append (insert batch into the keyed table)
  // ---------------------------------------------------------------------
  def v8Append(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val fresh = Tables.embeddings(spark, sfDir).where(col("vec_id") < 10)
      .select((col("vec_id") + 100000).as("vec_id"), lit(99).as("label"))
    MemoryOps.append(base, fresh)
  }
  val v8AppendSql: String =
    """SELECT vec_id, label FROM embeddings
      |UNION ALL
      |SELECT vec_id + 100000 AS vec_id, 99 AS label FROM embeddings WHERE vec_id < 10""".stripMargin

  // ---------------------------------------------------------------------
  // V9: last-write-wins upsert by id
  // ---------------------------------------------------------------------
  def v9Upsert(spark: SparkSession, sfDir: String): DataFrame = {
    val existing = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val incoming = Tables.embeddings(spark, sfDir).where(col("vec_id") < 50)
      .select(col("vec_id"), (col("label") + 100).as("label"))
    MemoryOps.upsertById(existing, incoming, "vec_id")
  }
  val v9UpsertSql: String =
    """SELECT vec_id, label FROM (
      |  SELECT vec_id, label,
      |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY v DESC) AS rn
      |  FROM (
      |    SELECT vec_id, label, 0 AS v FROM embeddings
      |    UNION ALL
      |    SELECT vec_id, label + 100 AS label, 1 AS v FROM embeddings WHERE vec_id < 50
      |  )
      |) WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------------------
  // V10: batch delete by id (anti-join)
  // ---------------------------------------------------------------------
  def v10Delete(spark: SparkSession, sfDir: String): DataFrame = {
    val table = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("label"))
    val ids = table.where(col("vec_id") % 7 === 0).select(col("vec_id"))
    MemoryOps.deleteByIds(table, ids, "vec_id")
  }
  val v10DeleteSql: String =
    """SELECT vec_id, label FROM embeddings e
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM embeddings d WHERE d.vec_id % 7 = 0 AND d.vec_id = e.vec_id)""".stripMargin

  // ---------------------------------------------------------------------
  // S1-S4: session catalog over the orders table
  // (id = o_orderkey, created_at = o_orderdate)
  // ---------------------------------------------------------------------
  private[graft] val tsFmtSpark = "yyyy-MM-dd HH:mm:ss"
  private val tsFmtDuck = "%Y-%m-%d %H:%M:%S"

  def s1SessionCreate(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sessions = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("id"), col("o_orderdate").as("created_at"))
    val row = Seq((999999999L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
      .toDF("id", "created_at")
    SessionOps.createWith(sessions, row)
      .select(col("id"), date_format(col("created_at"), tsFmtSpark).as("created_at"))
  }
  val s1SessionCreateSql: String =
    s"""SELECT id, strftime(created_at, '$tsFmtDuck') AS created_at FROM (
       |  SELECT o_orderkey AS id, o_orderdate AS created_at FROM orders
       |  UNION ALL
       |  SELECT 999999999 AS id, TIMESTAMP '2026-01-01 00:00:00' AS created_at
       |)""".stripMargin

  def s2SessionGet(spark: SparkSession, sfDir: String): DataFrame =
    SessionOps.get(
        Tables.orders(spark, sfDir).select(
          col("o_orderkey").as("id"),
          date_format(col("o_orderdate"), tsFmtSpark).as("created_at"),
          col("o_orderstatus").as("status")),
        "id", 42L)
  val s2SessionGetSql: String =
    s"""SELECT o_orderkey AS id, strftime(o_orderdate, '$tsFmtDuck') AS created_at,
       |       o_orderstatus AS status
       |FROM orders WHERE o_orderkey = 42 LIMIT 1""".stripMargin

  def s3SessionList(spark: SparkSession, sfDir: String): DataFrame = {
    val sessions = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("id"), col("o_orderdate").as("created_at"))
    SessionOps.list(sessions, limit = Some(50), offset = 10)
      .select(col("id"), date_format(col("created_at"), tsFmtSpark).as("created_at"))
  }
  val s3SessionListSql: String =
    s"""SELECT o_orderkey AS id, strftime(o_orderdate, '$tsFmtDuck') AS created_at
       |FROM orders
       |ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 50 OFFSET 10""".stripMargin

  def s4SessionTouch(spark: SparkSession, sfDir: String): DataFrame = {
    val sessions = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("id"), col("o_orderdate").as("updated_at"))
    SessionOps.touch(sessions, "id", 42L,
        ts = java.sql.Timestamp.valueOf("2026-02-02 12:00:00"))
      .select(col("id"), date_format(col("updated_at"), tsFmtSpark).as("updated_at"))
  }
  val s4SessionTouchSql: String =
    s"""SELECT o_orderkey AS id,
       |  strftime(CASE WHEN o_orderkey = 42 THEN TIMESTAMP '2026-02-02 12:00:00'
       |                ELSE o_orderdate END, '$tsFmtDuck') AS updated_at
       |FROM orders""".stripMargin

  // ---------------------------------------------------------------------
  // S5: referential integrity — orders link to a session catalog of the
  // first 50 customers; semi-join accepts, anti-join rejects with the
  // reference's error message
  // ---------------------------------------------------------------------
  def s5FkAccept(spark: SparkSession, sfDir: String): DataFrame = {
    val memories = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey").as("session_id"))
    val sessions = Tables.customer(spark, sfDir)
      .where(col("c_custkey") < 50).select(col("c_custkey").as("id"))
    val (accepted, _) = MemoryOps.validateSessionLink(memories, sessions)
    accepted.select(col("o_orderkey"), col("session_id"))
  }
  val s5FkAcceptSql: String =
    """SELECT o_orderkey, o_custkey AS session_id FROM orders
      |WHERE EXISTS (SELECT 1 FROM customer
      |              WHERE c_custkey = o_custkey AND c_custkey < 50)""".stripMargin

  def s5FkReject(spark: SparkSession, sfDir: String): DataFrame = {
    val memories = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey").as("session_id"))
    val sessions = Tables.customer(spark, sfDir)
      .where(col("c_custkey") < 50).select(col("c_custkey").as("id"))
    val (_, rejected) = MemoryOps.validateSessionLink(memories, sessions)
    rejected.select(col("o_orderkey"), col("session_id"), col("reason"))
  }
  val s5FkRejectSql: String =
    """SELECT o_orderkey, o_custkey AS session_id,
      |       'Session ''' || CAST(o_custkey AS VARCHAR) || ''' not found' AS reason
      |FROM orders
      |WHERE NOT EXISTS (SELECT 1 FROM customer
      |                  WHERE c_custkey = o_custkey AND c_custkey < 50)""".stripMargin

  // ---------------------------------------------------------------------
  // A1/A2: validation splits
  // ---------------------------------------------------------------------
  def a1ValidateText(spark: SparkSession, sfDir: String): DataFrame = {
    val (accepted, _) = MemoryOps.validateText(Tables.documents(spark, sfDir))
    accepted.select(col("doc_id"), col("n_chars"))
  }
  val a1ValidateTextSql: String =
    "SELECT doc_id, n_chars FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0"

  def a2ReservedKeys(spark: SparkSession, sfDir: String): DataFrame = {
    // Synthesized metadata: every 17th doc smuggles the reserved "text" key.
    val docs = Tables.documents(spark, sfDir).withColumn("metadata",
      map(when(col("doc_id") % 17 === 0, lit("text")).otherwise(lit("topic")),
        col("source")))
    val (_, rejected) = MemoryOps.validateReservedKeys(docs)
    rejected.select(col("doc_id"), col("reason"))
  }
  val a2ReservedKeysSql: String =
    """SELECT doc_id, 'metadata key ''text'' is reserved' AS reason
      |FROM documents WHERE doc_id % 17 = 0""".stripMargin

  // ---------------------------------------------------------------------
  // T1-T4: text analysis over documents
  // ---------------------------------------------------------------------
  def t1LangId(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      TextAnalysis.langId(col("text")).as("lang_guess"))
  val t1LangIdSql: String =
    s"SELECT doc_id, ${TextAnalysisSql.langId("text")} AS lang_guess FROM documents"

  def t2Quality(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      round(TextAnalysis.avgWordLen(col("text")), 6).as("avg_word_len"),
      round(TextAnalysis.qualityScore(col("text")), 6).as("quality"))
  val t2QualitySql: String =
    s"""SELECT doc_id,
       |  ${TextAnalysisSql.tokenCount("text")} AS n_tokens,
       |  round(${TextAnalysisSql.avgWordLen("text")}, 6) AS avg_word_len,
       |  round(${TextAnalysisSql.qualityScore("text")}, 6) AS quality
       |FROM documents""".stripMargin

  def t3TokenCount(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"),
      TextAnalysis.subwordCount(col("text")).as("n_subwords"))
  val t3TokenCountSql: String =
    s"""SELECT doc_id,
       |  ${TextAnalysisSql.tokenCount("text")} AS n_tokens,
       |  ${TextAnalysisSql.subwordCount("text")} AS n_subwords
       |FROM documents""".stripMargin

  def t4Fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      TextAnalysis.fingerprint(col("text")).as("fp"))
  val t4FingerprintSql: String =
    s"SELECT doc_id, ${TextAnalysisSql.fingerprint("text")} AS fp FROM documents"

  // ---------------------------------------------------------------------
  // E1/E2: deterministic feature-hash embedding + full text->vector->search
  // lifecycle (store-then-search with zero network)
  // ---------------------------------------------------------------------
  def e1Embed(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).where(col("doc_id") < 50)
      .select(col("doc_id"), posexplode(Embed.embedRaw(col("text"), 8)))
      .select(col("doc_id"), col("pos").cast("long").as("dim_idx"), col("col").as("val"))
  val e1EmbedSql: String =
    s"""SELECT doc_id, i AS dim_idx, vec[CAST(i AS INT) + 1] AS val FROM
       |  (SELECT doc_id, ${EmbedSql.embedRaw("text", 8)} AS vec
       |   FROM documents WHERE doc_id < 50), range(0, 8) t(i)""".stripMargin

  def e2EmbedSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = 16
    val docs = Embed.withEmbedding(
        Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
        "text", "emb", dim)
      .select(col("doc_id"), col("emb"))
    val q = docs.where(col("doc_id") === 0).select(col("emb").as("q"))
    docs.crossJoin(broadcast(q))
      .withColumn("score", graft.functions.Similarity.cosine(col("emb"), col("q")))
      .where(col("score").isNotNull)
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(10)
      .select(col("doc_id"), round(col("score"), 6).as("score"))
  }
  val e2EmbedSearchSql: String = {
    val emb = EmbedSql.embed("text", 16)
    s"""SELECT doc_id, score FROM (
       |  SELECT d.doc_id AS doc_id, round(${sqlCosine("d.emb", "qv.q")}, 6) AS score
       |  FROM (SELECT doc_id, $emb AS emb FROM documents) d,
       |       (SELECT $emb AS q FROM documents WHERE doc_id = 0) qv
       |) WHERE score IS NOT NULL
       |ORDER BY score DESC, doc_id ASC LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------------
  // D1-D5: deduplication family over documents/embeddings
  // ---------------------------------------------------------------------

  /** Re-crawl simulation: documents plus a copy of the first 30 under new
    * ids — gives exact dedup real duplicate groups to collapse. */
  private def recrawl(spark: SparkSession, sfDir: String): DataFrame = {
    val d = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    d.unionByName(d.where(col("doc_id") < 30)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  def d1ExactDedup(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exactDedup(recrawl(spark, sfDir), "doc_id", "text")
  val d1ExactDedupSql: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_dupes FROM (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 30
      |) GROUP BY md5(text)""".stripMargin

  def d2MinhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.minhashNearDups(Tables.documents(spark, sfDir), "doc_id", "text",
        threshold = 0.5, nPerm = 16, bands = 8, shingleN = 2)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  val d2MinhashPairsSql: String = {
    val sh = DedupSql.shingleSet("text", 2)
    val sig = DedupSql.minhashSignature("text", 16, 2)
    s"""WITH base AS (
       |  SELECT * FROM (SELECT doc_id, $sh AS sh, $sig AS sig FROM documents)
       |  WHERE len(sh) > 0),
       |banded AS (
       |  SELECT doc_id, b, ${DedupSql.bandKey("sig", "b", 2)} AS key
       |  FROM base, range(0, 8) t(b)),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
       |  FROM banded a JOIN banded b2
       |    ON a.b = b2.b AND a.key = b2.key AND a.doc_id < b2.doc_id)
       |SELECT c.id1, c.id2, round(${DedupSql.jaccard("x.sh", "y.sh")}, 6) AS jaccard
       |FROM cands c JOIN base x ON x.doc_id = c.id1 JOIN base y ON y.doc_id = c.id2
       |WHERE ${DedupSql.jaccard("x.sh", "y.sh")} >= 0.5""".stripMargin
  }

  def d3Simhash(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"), graft.functions.Native.simhash(col("text")).as("simhash"))
  val d3SimhashSql: String =
    s"SELECT doc_id, ${DedupSql.simhash("text")} AS simhash FROM documents"

  /** Band-join candidates + hamming verify; the oracle states the
    * equivalent brute-force semantics (banding has no false negatives by
    * pigeonhole, so the results coincide). */
  def d3SimhashPairs(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(spark, sfDir), "doc_id", "text",
      maxDist = 3)
  val d3SimhashPairsSql: String = {
    val sim = DedupSql.simhash("text")
    s"""WITH sh AS (SELECT doc_id, $sim AS simhash FROM documents
       |            WHERE len(${TextHashSql.shingles("text", 2)}) > 0)
       |SELECT a.doc_id AS id1, b.doc_id AS id2,
       |       ${DedupSql.hamming("a.simhash", "b.simhash")} AS hamming
       |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |WHERE ${DedupSql.hamming("a.simhash", "b.simhash")} <= 3""".stripMargin
  }

  // Plain posting-list join here: at t=0.2 the prefix keeps ~80% of
  // postings, so the filter's df-aggregate + rank window cost more than
  // they prune (measured 1.9 s vs 1.1 s at sf0.1). The prefix-filtered
  // form is the production path for selective thresholds — d6 (t=0.5)
  // runs it, and DedupSpec pins prefix == indexed exactly.
  def d4JaccardPairs(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.jaccardPairsIndexed(
        Tables.documents(spark, sfDir).where(col("doc_id") < 1000),
        "doc_id", "text", threshold = 0.2, shingleN = 2)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  val d4JaccardPairsSql: String = {
    val sh = DedupSql.shingleSet("text", 2)
    s"""WITH sets AS (
       |  SELECT * FROM (SELECT doc_id, $sh AS sh FROM documents WHERE doc_id < 1000)
       |  WHERE len(sh) > 0)
       |SELECT a.doc_id AS id1, b.doc_id AS id2,
       |       round(${DedupSql.jaccard("a.sh", "b.sh")}, 6) AS jaccard
       |FROM sets a JOIN sets b ON a.doc_id < b.doc_id
       |WHERE ${DedupSql.jaccard("a.sh", "b.sh")} >= 0.2""".stripMargin
  }

  /** D9 — the prefix-filtered production Jaccard path under oracle: each
    * doc posts only its ⌈(1−t)·n⌉+1 rarest shingles, candidates verified
    * on full sets (Dedup.jaccardPairsPrefix). Same brute-force oracle as
    * d4 at t=0.5 — the prefix filter is exact, so results must be
    * identical pairs. */
  def d9PrefixJaccard(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.jaccardPairsPrefix(
        Tables.documents(spark, sfDir).where(col("doc_id") < 1000),
        "doc_id", "text", threshold = 0.5, shingleN = 2)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  val d9PrefixJaccardSql: String = {
    val sh = DedupSql.shingleSet("text", 2)
    s"""WITH sets AS (
       |  SELECT * FROM (SELECT doc_id, $sh AS sh FROM documents WHERE doc_id < 1000)
       |  WHERE len(sh) > 0)
       |SELECT a.doc_id AS id1, b.doc_id AS id2,
       |       round(${DedupSql.jaccard("a.sh", "b.sh")}, 6) AS jaccard
       |FROM sets a JOIN sets b ON a.doc_id < b.doc_id
       |WHERE ${DedupSql.jaccard("a.sh", "b.sh")} >= 0.5""".stripMargin
  }

  /** D6 — apply dedup decisions: drop every doc that is the higher-id
    * member of a verified near-dup pair (deterministic lowest-id-survives
    * policy; transitive chains collapse because each non-minimal member
    * pairs with an earlier one or its own predecessor). */
  def d6DedupApply(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).where(col("doc_id") < 1000)
    val pairs = Dedup.jaccardPairsIndexed(docs, "doc_id", "text",
      threshold = 0.5, shingleN = 2)
    Dedup.applySurvivors(docs, pairs, "doc_id")
      .select(col("doc_id"), col("n_chars"))
  }
  val d6DedupApplySql: String = {
    val sh = DedupSql.shingleSet("text", 2)
    s"""WITH sets AS (
       |  SELECT * FROM (SELECT doc_id, $sh AS sh FROM documents WHERE doc_id < 1000)
       |  WHERE len(sh) > 0),
       |dropped AS (
       |  SELECT DISTINCT b.doc_id AS doc_id
       |  FROM sets a JOIN sets b ON a.doc_id < b.doc_id
       |  WHERE ${DedupSql.jaccard("a.sh", "b.sh")} >= 0.5)
       |SELECT doc_id, n_chars FROM documents
       |WHERE doc_id < 1000 AND doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin
  }

  def d5EmbedNearDup(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.embeddingNearDups(
        Tables.embeddings(spark, sfDir).where(col("vec_id") < 250),
        "vec_id", "embedding", threshold = 0.3)
      .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
  val d5EmbedNearDupSql: String = {
    val c = sqlCosine("a.embedding", "b.embedding")
    s"""SELECT a.vec_id AS id1, b.vec_id AS id2, round($c, 6) AS cosine
       |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |WHERE a.vec_id < 250 AND b.vec_id < 250 AND $c IS NOT NULL AND $c >= 0.3""".stripMargin
  }

  // ---------------------------------------------------------------------
  // A-NN: batch similarity search — brute-force and sign-bucketed
  // ---------------------------------------------------------------------
  private def annQueries(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir).where(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))

  def a1AnnBruteforce(spark: SparkSession, sfDir: String): DataFrame =
    Ann.bruteForceTopK(Tables.embeddings(spark, sfDir),
        annQueries(spark, sfDir), k = 5)
      .select(col("qid"), col("vec_id"), round(col("score"), 6).as("score"))
  val a1AnnBruteforceSql: String = {
    val c = sqlCosine("v.embedding", "q.qvec")
    s"""SELECT qid, vec_id, score FROM (
       |  SELECT q.qid AS qid, v.vec_id AS vec_id, round($c, 6) AS score,
       |         ROW_NUMBER() OVER (PARTITION BY q.qid
       |                            ORDER BY $c DESC, v.vec_id ASC) AS rn
       |  FROM embeddings v,
       |       (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
       |        WHERE vec_id < 5) q
       |  WHERE $c IS NOT NULL
       |) WHERE rn <= 5""".stripMargin
  }

  def a2AnnBucketed(spark: SparkSession, sfDir: String): DataFrame =
    Ann.bucketedTopK(Tables.embeddings(spark, sfDir),
        annQueries(spark, sfDir), k = 5, m = 4)
      .select(col("qid"), col("vec_id"), round(col("score"), 6).as("score"))
  val a2AnnBucketedSql: String = {
    val c = sqlCosine("v.embedding", "q.qvec")
    val vb = AnnSql.signBucket("v.embedding", 4)
    val qb = AnnSql.signBucket("q.qvec", 4)
    s"""SELECT qid, vec_id, score FROM (
       |  SELECT q.qid AS qid, v.vec_id AS vec_id, round($c, 6) AS score,
       |         ROW_NUMBER() OVER (PARTITION BY q.qid
       |                            ORDER BY $c DESC, v.vec_id ASC) AS rn
       |  FROM embeddings v,
       |       (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
       |        WHERE vec_id < 5) q
       |  WHERE $vb = $qb AND $c IS NOT NULL
       |) WHERE rn <= 5""".stripMargin
  }

  def a3AnnMultiprobe(spark: SparkSession, sfDir: String): DataFrame =
    Ann.multiProbeTopK(Tables.embeddings(spark, sfDir),
        annQueries(spark, sfDir), k = 5, m = 4)
      .select(col("qid"), col("vec_id"), round(col("score"), 6).as("score"))
  val a3AnnMultiprobeSql: String = {
    val c = sqlCosine("v.embedding", "q.qvec")
    val vb = AnnSql.signBucket("v.embedding", 4)
    val qb = AnnSql.signBucket("q.qvec", 4)
    s"""SELECT qid, vec_id, score FROM (
       |  SELECT q.qid AS qid, v.vec_id AS vec_id, round($c, 6) AS score,
       |         ROW_NUMBER() OVER (PARTITION BY q.qid
       |                            ORDER BY $c DESC, v.vec_id ASC) AS rn
       |  FROM embeddings v,
       |       (SELECT vec_id AS qid, embedding AS qvec FROM embeddings
       |        WHERE vec_id < 5) q
       |  WHERE ${AnnSql.multiProbePredicate(vb, qb, 4)} AND $c IS NOT NULL
       |) WHERE rn <= 5""".stripMargin
  }

  /** A4 — IVF probe search with a fixed sampled codebook (embeddings of
    * vec_id < 8): inverted-list assignment, 2-probe, exact re-rank. The
    * trained-codebook path is [[graft.operators.Ann.kmeans]] (AnnSpec);
    * the oracle uses the sampled codebook so results are deterministic. */
  def a4IvfTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val codebook = Tables.embeddings(spark, sfDir)
      .where(col("vec_id") < 8).orderBy(col("vec_id"))
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toSeq).toSeq
    Ann.ivfTopK(Tables.embeddings(spark, sfDir),
        annQueries(spark, sfDir), codebook, k = 5, nProbe = 2)
      .select(col("qid"), col("vec_id"), round(col("score"), 6).as("score"))
  }
  val a4IvfTopkSql: String = {
    val c = sqlCosine("v.embedding", "p.qvec")
    s"""WITH cb AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings
       |            WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, cb.cid,
       |      ROW_NUMBER() OVER (PARTITION BY v.vec_id
       |        ORDER BY ${AnnSql.sqDist("v.embedding", "cb.cvec")} ASC, cb.cid ASC) AS rn
       |    FROM embeddings v, cb) WHERE rn = 1),
       |probes AS (
       |  SELECT qid, qvec, cid FROM (
       |    SELECT q.vec_id AS qid, q.embedding AS qvec, cb.cid,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${AnnSql.sqDist("q.embedding", "cb.cvec")} ASC, cb.cid ASC) AS rn
       |    FROM embeddings q, cb WHERE q.vec_id < 5) WHERE rn <= 2)
       |SELECT qid, vec_id, score FROM (
       |  SELECT p.qid AS qid, v.vec_id AS vec_id, round($c, 6) AS score,
       |    ROW_NUMBER() OVER (PARTITION BY p.qid
       |                       ORDER BY $c DESC, v.vec_id ASC) AS rn
       |  FROM probes p JOIN assign a ON a.cid = p.cid
       |  JOIN embeddings v ON v.vec_id = a.vec_id
       |  WHERE $c IS NOT NULL) WHERE rn <= 5""".stripMargin
  }

  // ---------------------------------------------------------------------
  // M1/M2: multimodal binary-column plumbing (decode stage stubbed — see
  // Multimodal.stubDecode; the formula below is that stub's contract)
  // ---------------------------------------------------------------------
  def m1MediaMeta(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.mediaMeta(Multimodal.mediaTable(Tables.documents(spark, sfDir)))
  val m1MediaMetaSql: String =
    s"""SELECT doc_id AS media_id, ${MultimodalSql.kindExpr} AS kind,
       |       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       |       sha256(text) AS sha256
       |FROM documents""".stripMargin

  def m2MediaDecode(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.decodeFeatures(
        Multimodal.mediaTable(Tables.documents(spark, sfDir)))
      .toDF()
  val m2MediaDecodeSql: String =
    s"""SELECT doc_id AS media_id, kind, n AS n_bytes,
       |  CAST(16 + (n * 7) % 240 AS INT) AS width,
       |  CAST(16 + (n * 13) % 240 AS INT) AS height,
       |  CAST(CASE WHEN kind = 'video' THEN 1 + n % 30 ELSE 1 END AS INT) AS n_frames,
       |  CASE WHEN kind = 'image' THEN 0 ELSE n * 3 END AS duration_ms
       |FROM (SELECT doc_id, ${MultimodalSql.kindExpr} AS kind,
       |             CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n
       |      FROM documents)""".stripMargin

  // ---------------------------------------------------------------------
  // E3/E4: event-stream transforms, batch forms (the same plans run under
  // Structured Streaming — see graft.streaming.EventStream and its spec)
  // ---------------------------------------------------------------------
  def e3EventWindow(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.windowedAgg(Tables.events(spark, sfDir))
      .select(
        date_format(col("window_start"), tsFmtSpark).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
  val e3EventWindowSql: String =
    s"""SELECT strftime(date_trunc('hour', ts), '$tsFmtDuck') AS window_start,
       |       event_type, COUNT(*) AS n_events,
       |       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       |FROM events GROUP BY 1, 2""".stripMargin

  def e4Sessionize(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.sessionizeBatch(Tables.events(spark, sfDir))
  val e4SessionizeSql: String =
    """SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions,
      |       COUNT(*) AS n_events
      |FROM (
      |  SELECT user_id,
      |         CASE WHEN prev IS NULL
      |                OR CAST(floor(epoch(ts)) AS BIGINT)
      |                   - CAST(floor(epoch(prev)) AS BIGINT) > 1800
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM (SELECT user_id, ts,
      |               LAG(ts) OVER (PARTITION BY user_id
      |                             ORDER BY ts, event_id) AS prev
      |        FROM events))
      |GROUP BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // E8: file-stream replay — the events table replayed through the
  // stateful streaming sessionizer as 8 real micro-batches; the FINAL
  // state table must equal the batch mirror, so the oracle is e4's SQL
  // verbatim. This is the stream-equals-batch guarantee under oracle
  // instead of only spec assertion.
  // ---------------------------------------------------------------------
  def e8StreamReplay(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replaySessionize(Tables.events(spark, sfDir))
  val e8StreamReplaySql: String = e4SessionizeSql

  // ---------------------------------------------------------------------
  // E5: semi-structured JSON metadata (the Qdrant arbitrary-payload model:
  // HashMap<String, serde_json::Value>, src/routes.rs:199-203) — extract,
  // type, aggregate
  // ---------------------------------------------------------------------
  def e5PropsExtract(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))
  val e5PropsExtractSql: String =
    """SELECT event_type,
      |  COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
      |  MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT event_type,
      |             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // W1: general window functions — per-user running value + global rank
  // ---------------------------------------------------------------------
  def w1RunningWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(spark, sfDir)
      .where(col("user_id") < 10)
      .select(
        col("user_id"), col("event_id"),
        sum(col("value").cast("decimal(18,2)")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_value"),
        row_number().over(byUser).cast("long").as("event_seq"))
  }
  val w1RunningWindowSql: String =
    """SELECT user_id, event_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
      |    PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value,
      |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS event_seq
      |FROM events WHERE user_id < 10""".stripMargin

  // ---------------------------------------------------------------------
  // M3: frame sampling — explode video payloads into every-5th-frame rows
  // (the decode fan-out shape of a multimodal feature pipeline)
  // ---------------------------------------------------------------------
  def m3FrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    val feats = Multimodal.decodeFeatures(
        Multimodal.mediaTable(Tables.documents(spark, sfDir))).toDF()
    feats.where(col("kind") === "video")
      .select(col("media_id"), col("n_frames"),
        posexplode(sequence(lit(0), col("n_frames") - 1, lit(5))))
      .select(col("media_id"), col("n_frames"),
        col("col").cast("long").as("frame_idx"))
  }
  val m3FrameSampleSql: String =
    s"""SELECT media_id, n_frames, CAST(f AS BIGINT) AS frame_idx FROM (
       |  SELECT doc_id AS media_id,
       |         CAST(1 + CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) % 30 AS INT) AS n_frames
       |  FROM documents WHERE ${MultimodalSql.kindExpr} = 'video'),
       |  LATERAL unnest(range(0, n_frames, 5)) t(f)""".stripMargin

  // ---------------------------------------------------------------------
  // T5: deterministic train/val/test split (reproducible across engines,
  // partitionings, and cluster sizes — unlike seed-based sample())
  // ---------------------------------------------------------------------
  def t5Split(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir).select(
      col("doc_id"),
      Sampling.splitAssign(col("doc_id")).as("split"))
  val t5SplitSql: String =
    s"SELECT doc_id, ${SamplingSql.splitAssign("doc_id")} AS split FROM documents"

  // ---------------------------------------------------------------------
  // Q7: histogram binning over event values
  // ---------------------------------------------------------------------
  def q7Histogram(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(floor(col("value") / 5).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("bin_sum"))
      .orderBy(col("bin"))
  val q7HistogramSql: String =
    """SELECT CAST(floor(value / 5) AS BIGINT) AS bin, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS bin_sum
      |FROM events GROUP BY 1 ORDER BY bin""".stripMargin

  // ---------------------------------------------------------------------
  // Q8: pivot — events-per-type matrix per user
  // ---------------------------------------------------------------------
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  def q8Pivot(spark: SparkSession, sfDir: String): DataFrame = {
    val pivoted = Tables.events(spark, sfDir).where(col("user_id") < 25)
      .groupBy(col("user_id"))
      .pivot("event_type", eventTypes)
      .count()
    eventTypes.foldLeft(pivoted)((d, t) =>
      d.withColumn(t, coalesce(col(t), lit(0L))))
      .orderBy(col("user_id"))
  }
  val q8PivotSql: String = {
    val cols = eventTypes.map(t =>
      s"COUNT(*) FILTER (WHERE event_type = '$t') AS $t").mkString(",\n  ")
    s"""SELECT user_id,
       |  $cols
       |FROM events WHERE user_id < 25 GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // W2: ranking-window breadth — rank / dense_rank / lag per customer
  // ---------------------------------------------------------------------
  def w2Rank(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(spark, sfDir).where(col("o_custkey") < 20)
      .select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        lag(col("o_orderkey"), 1).over(w).as("prev_order"))
  }
  val w2RankSql: String =
    """SELECT o_custkey, o_orderkey,
      |  RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
      |  LAG(o_orderkey, 1) OVER w AS prev_order
      |FROM orders WHERE o_custkey < 20
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin

  // ---------------------------------------------------------------------
  // X1: backward as-of join — each purchase matched to the user's latest
  // prior (or simultaneous) view; DuckDB's native ASOF JOIN is the oracle
  // ---------------------------------------------------------------------
  def x1AsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"), col("ts"))
    // dedupe right to one row per (key, ts) for deterministic equal-ts picks
    val views = ev.where(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("view_id"))
    AsOfJoin.backward(purchases, views, "user_id", "ts", Seq("view_id"))
      .select(col("purchase_id"), col("user_id"), col("view_id"))
  }
  val x1AsofJoinSql: String =
    """WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
      |           WHERE event_type = 'purchase'),
      |v AS (SELECT user_id, ts, max(event_id) AS view_id FROM events
      |      WHERE event_type = 'view' GROUP BY user_id, ts)
      |SELECT p.purchase_id, p.user_id, v.view_id
      |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts""".stripMargin

  // ---------------------------------------------------------------------
  // Q2: date-filtered pricing summary — the timestamp predicate reaches
  // the parquet scan (PushedFilters, guarded in PlanSpec)
  // ---------------------------------------------------------------------
  def q2DateFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "decimal(18,2)"
    Tables.lineitem(spark, sfDir)
      .where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
  }
  val q2DateFilterSql: String =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------------
  // Q4/Q5: exact distinct aggregation + set operations
  // ---------------------------------------------------------------------
  def q6Rollup(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)
  val q6RollupSql: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  def q4CountDistinct(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  val q4CountDistinctSql: String =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  def q5SetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.events(spark, sfDir)
    val buyers = ev.where(col("event_type") === "purchase").select(col("user_id"))
    val errored = ev.where(col("event_type") === "error").select(col("user_id"))
    buyers.intersect(errored)                       // bought AND hit an error
      .unionByName(buyers.exceptAll(buyers))        // (empty; exercises except)
      .distinct()
      .orderBy(col("user_id"))
  }
  val q5SetOpsSql: String =
    """SELECT DISTINCT user_id FROM (
      |  SELECT user_id FROM events WHERE event_type = 'purchase'
      |  INTERSECT
      |  SELECT user_id FROM events WHERE event_type = 'error')
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // E6: native session windows (gap close 30 min) — the streaming-native
  // sessionization; oracle reconstructs sessions via lag + cumulative sum
  // ---------------------------------------------------------------------
  def e6SessionWindow(spark: SparkSession, sfDir: String): DataFrame =
    Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("session_start"),
        col("n_events"))
  val e6SessionWindowSql: String =
    """SELECT user_id, strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
      |       COUNT(*) AS n_events
      |FROM (
      |  SELECT user_id, ts,
      |         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           AS session_id
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |           CASE WHEN prev IS NULL
      |                  OR epoch(ts) - epoch(prev) >= 1800.0 THEN 1 ELSE 0 END AS new_s
      |    FROM (SELECT user_id, ts, event_id,
      |                 LAG(ts) OVER (PARTITION BY user_id
      |                               ORDER BY ts, event_id) AS prev
      |          FROM events)))
      |GROUP BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------------
  // P1/P2: flagship write pipeline (§3.2) — validate -> FK -> embed ->
  // LWW merge -> touch, one job, accepted + rejected outputs
  // ---------------------------------------------------------------------
  private def ingestParts(spark: SparkSession, sfDir: String) = {
    val existing = Tables.embeddings(spark, sfDir).select(
      col("vec_id").as("id"),
      col("label").cast("long").as("session_id"),
      col("embedding"))
    // synthetic write batch: every 50th doc has empty text, every 40th a
    // reserved metadata key, session_id 10..14 missing from the catalog
    val incoming = Tables.documents(spark, sfDir).select(
      col("doc_id").as("id"),
      when(col("doc_id") % 50 === 0, lit("")).otherwise(col("text")).as("text"),
      map(when(col("doc_id") % 40 === 0, lit("text")).otherwise(lit("topic")),
        col("source")).as("metadata"),
      (col("doc_id") % 15).as("session_id"))
    val sessions = Tables.customer(spark, sfDir)
      .where(col("c_custkey") < 10).select(col("c_custkey").as("id"))
    Pipeline.ingest(existing, incoming, sessions, dim = 64)
  }

  def p1IngestTable(spark: SparkSession, sfDir: String): DataFrame =
    ingestParts(spark, sfDir).table.select(col("id"), col("session_id"))
  val p1IngestTableSql: String =
    """WITH incoming AS (
      |  SELECT doc_id AS id,
      |         CASE WHEN doc_id % 50 = 0 THEN '' ELSE text END AS text,
      |         doc_id % 40 = 0 AS reserved,
      |         doc_id % 15 AS session_id
      |  FROM documents),
      |accepted AS (
      |  SELECT id, session_id FROM incoming
      |  WHERE length(trim(text)) > 0 AND NOT reserved
      |    AND session_id IN (SELECT c_custkey FROM customer WHERE c_custkey < 10))
      |SELECT id, session_id FROM (
      |  SELECT id, session_id,
      |         ROW_NUMBER() OVER (PARTITION BY id ORDER BY v DESC) AS rn
      |  FROM (
      |    SELECT vec_id AS id, CAST(label AS BIGINT) AS session_id, 0 AS v FROM embeddings
      |    UNION ALL
      |    SELECT id, session_id, 1 AS v FROM accepted)
      |) WHERE rn = 1""".stripMargin

  def p2IngestRejects(spark: SparkSession, sfDir: String): DataFrame =
    ingestParts(spark, sfDir).rejects
  val p2IngestRejectsSql: String =
    """SELECT id,
      |  CASE WHEN length(trim(text)) = 0 THEN 'Field ''text'' must not be empty'
      |       WHEN reserved THEN 'metadata key ''text'' is reserved'
      |       ELSE 'Session ''' || CAST(session_id AS VARCHAR) || ''' not found'
      |  END AS reason
      |FROM (SELECT doc_id AS id,
      |             CASE WHEN doc_id % 50 = 0 THEN '' ELSE text END AS text,
      |             doc_id % 40 = 0 AS reserved,
      |             doc_id % 15 AS session_id
      |      FROM documents)
      |WHERE length(trim(text)) = 0 OR reserved
      |   OR session_id NOT IN (SELECT c_custkey FROM customer WHERE c_custkey < 10)""".stripMargin

  // ---------------------------------------------------------------------
  // V11: pluggable distance metrics (euclid inverted, dot) — the Qdrant
  // collection-level distance config
  // ---------------------------------------------------------------------
  def v11EuclidTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.queryVector(spark, sfDir, 0L)
    VectorSearch.topK(Tables.embeddings(spark, sfDir), q, k = 10, metric = "euclid")
      .select(col("vec_id"), round(col("score"), 6).as("score"))
  }
  val v11EuclidTopkSql: String = {
    val diff = "list_sum(list_transform(range(1, len(e.embedding) + 1), " +
      "i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(qv.q[i] AS DOUBLE)) * " +
      "(CAST(e.embedding[i] AS DOUBLE) - CAST(qv.q[i] AS DOUBLE))))"
    s"""SELECT vec_id, score FROM (
       |  SELECT e.vec_id AS vec_id,
       |         round(1.0 / (1.0 + sqrt($diff)), 6) AS score
       |  FROM embeddings e, $qv
       |) WHERE score IS NOT NULL
       |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin
  }

  def v11DotTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.queryVector(spark, sfDir, 0L)
    VectorSearch.topK(Tables.embeddings(spark, sfDir), q, k = 10, metric = "dot")
      .select(col("vec_id"), round(col("score"), 6).as("score"))
  }
  val v11DotTopkSql: String = {
    val dot = "list_sum(list_transform(range(1, len(e.embedding) + 1), " +
      "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qv.q[i] AS DOUBLE)))"
    s"""SELECT vec_id, score FROM (
       |  SELECT e.vec_id AS vec_id, round($dot, 6) AS score
       |  FROM embeddings e, $qv
       |) WHERE score IS NOT NULL
       |ORDER BY score DESC, vec_id ASC LIMIT 10""".stripMargin
  }

  // ---------------------------------------------------------------------
  // G1: per-group top-k — "top-3 memories per session" in one pass
  // (window + filter; the per-group form of the reference's KNN)
  // ---------------------------------------------------------------------
  def g1GroupedTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = Tables.queryVector(spark, sfDir, 0L)
    val w = Window.partitionBy(col("label"))
      .orderBy(col("score").desc, col("vec_id").asc)
    VectorSearch.scored(Tables.embeddings(spark, sfDir), q)
      .where(col("score").isNotNull)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("label"), col("vec_id"), round(col("score"), 6).as("score"))
  }
  val g1GroupedTopkSql: String = {
    val c = sqlCosine("e.embedding", "qv.q")
    s"""SELECT label, vec_id, score FROM (
       |  SELECT e.label AS label, e.vec_id AS vec_id, round($c, 6) AS score,
       |         ROW_NUMBER() OVER (PARTITION BY e.label
       |                            ORDER BY $c DESC, e.vec_id ASC) AS rn
       |  FROM embeddings e, $qv
       |  WHERE $c IS NOT NULL
       |) WHERE rn <= 3""".stripMargin
  }

  /** G2 — same semantics as g1 via the TopKScored partial aggregate (only
    * k rows per group cross the shuffle); the oracle is therefore g1's. */
  def g2TopkAgg(spark: SparkSession, sfDir: String): DataFrame = {
    val q = Tables.queryVector(spark, sfDir, 0L)
    val scored = VectorSearch.scored(Tables.embeddings(spark, sfDir), q)
      .select(col("label"), col("vec_id"), col("score"))
    scored.groupBy(col("label"))
      .agg(graft.functions.TopKScored(col("score"), col("vec_id"), 3).as("__topk"))
      .select(col("label"), posexplode(col("__topk")))
      .select(col("label"), col("col.id").as("vec_id"),
        round(col("col.score"), 6).as("score"))
  }
  val g2TopkAggSql: String = g1GroupedTopkSql

  // ---------------------------------------------------------------------
  // Q3: broadcast-join analytics (shipped-revenue per market segment)
  // ---------------------------------------------------------------------
  def q3Join(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "decimal(18,2)"
    val c = Tables.customer(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val l = Tables.lineitem(spark, sfDir)
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(
        sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec))).cast("decimal(38,4)"))
          .cast("double").as("revenue"),
        countDistinct(col("o_orderkey")).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }
  val q3JoinSql: String =
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
      |  COUNT(DISTINCT o_orderkey) AS n_orders
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment
      |ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------------
  // Registry
  // ---------------------------------------------------------------------
  val all: Seq[Query] = Seq(
    Query("v1_cosine", v1Cosine, v1CosineSql),
    Query("v2_knn_topk", v2KnnTopk, v2KnnTopkSql),
    Query("v5_knn_threshold", v5KnnThreshold, v5KnnThresholdSql),
    Query("v8_append", v8Append, v8AppendSql),
    Query("v9_upsert", v9Upsert, v9UpsertSql),
    Query("v10_delete", v10Delete, v10DeleteSql),
    Query("s1_session_create", s1SessionCreate, s1SessionCreateSql),
    Query("s2_session_get", s2SessionGet, s2SessionGetSql),
    Query("s3_session_list", s3SessionList, s3SessionListSql),
    Query("s4_session_touch", s4SessionTouch, s4SessionTouchSql),
    Query("s5_fk_accept", s5FkAccept, s5FkAcceptSql),
    Query("s5_fk_reject", s5FkReject, s5FkRejectSql),
    Query("a1_validate_text", a1ValidateText, a1ValidateTextSql),
    Query("a2_reserved_keys", a2ReservedKeys, a2ReservedKeysSql),
    Query("t1_langid", t1LangId, t1LangIdSql),
    Query("t2_quality", t2Quality, t2QualitySql),
    Query("t3_tokencount", t3TokenCount, t3TokenCountSql),
    Query("t4_fingerprint", t4Fingerprint, t4FingerprintSql),
    Query("e1_embed", e1Embed, e1EmbedSql),
    Query("e2_embed_search", e2EmbedSearch, e2EmbedSearchSql),
    Query("d1_exact_dedup", d1ExactDedup, d1ExactDedupSql),
    Query("d2_minhash_pairs", d2MinhashPairs, d2MinhashPairsSql),
    Query("d3_simhash", d3Simhash, d3SimhashSql),
    Query("d3_simhash_pairs", d3SimhashPairs, d3SimhashPairsSql),
    Query("d4_jaccard_pairs", d4JaccardPairs, d4JaccardPairsSql),
    Query("d9_prefix_jaccard", d9PrefixJaccard, d9PrefixJaccardSql),
    Query("d5_embed_neardup", d5EmbedNearDup, d5EmbedNearDupSql),
    Query("d6_dedup_apply", d6DedupApply, d6DedupApplySql),
    Query("q6_rollup", q6Rollup, q6RollupSql),
    Query("a1_ann_bruteforce", a1AnnBruteforce, a1AnnBruteforceSql),
    Query("a2_ann_bucketed", a2AnnBucketed, a2AnnBucketedSql),
    Query("a3_ann_multiprobe", a3AnnMultiprobe, a3AnnMultiprobeSql),
    Query("a4_ivf_topk", a4IvfTopk, a4IvfTopkSql),
    Query("m1_media_meta", m1MediaMeta, m1MediaMetaSql),
    Query("m2_media_decode", m2MediaDecode, m2MediaDecodeSql),
    Query("e3_event_window", e3EventWindow, e3EventWindowSql),
    Query("e4_sessionize", e4Sessionize, e4SessionizeSql),
    Query("e8_stream_replay", e8StreamReplay, e8StreamReplaySql, lane = true),
    Query("p1_ingest_table", p1IngestTable, p1IngestTableSql),
    Query("p2_ingest_rejects", p2IngestRejects, p2IngestRejectsSql),
    Query("v11_euclid_topk", v11EuclidTopk, v11EuclidTopkSql),
    Query("v11_dot_topk", v11DotTopk, v11DotTopkSql),
    Query("g1_grouped_topk", g1GroupedTopk, g1GroupedTopkSql),
    Query("g2_topk_agg", g2TopkAgg, g2TopkAggSql),
    Query("e5_props_extract", e5PropsExtract, e5PropsExtractSql),
    Query("e6_session_window", e6SessionWindow, e6SessionWindowSql),
    Query("w1_running_window", w1RunningWindow, w1RunningWindowSql),
    Query("x1_asof_join", x1AsofJoin, x1AsofJoinSql),
    Query("t5_split", t5Split, t5SplitSql),
    Query("q7_histogram", q7Histogram, q7HistogramSql),
    Query("q8_pivot", q8Pivot, q8PivotSql),
    Query("w2_rank", w2Rank, w2RankSql),
    Query("m3_frame_sample", m3FrameSample, m3FrameSampleSql),
    Query("q1_agg", q1Agg, q1AggSql),
    Query("q2_date_filter", q2DateFilter, q2DateFilterSql),
    Query("q3_join", q3Join, q3JoinSql),
    Query("q4_count_distinct", q4CountDistinct, q4CountDistinctSql),
    Query("q5_setops", q5SetOps, q5SetOpsSql))
}
