package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{TextHash, TextHashSql}
import graft.operators.{Dedup, DedupSql}

/** Round-4 continuation: dedup yield accounting, class-based TF-IDF
  * topic terms, and incremental (batch-vs-corpus) near-dup. Same
  * contract as [[Queries]].
  */
object Queries24 {

  // ---------------------------------------------------------------------
  // D12: dedup yield curve — what deduplication would actually SAVE.
  // From d7's duplicate clusters: per cluster size, how many clusters,
  // how many docs the lowest-id-survives policy removes, and how many
  // tokens those removals reclaim. The capacity-planning report run
  // before burning a cluster on the real dedup; composes the banded
  // miner, connected components, and the token counter — all existing
  // scale paths, plus one broadcast-able join against per-doc counts.
  // ---------------------------------------------------------------------
  def d12DedupYield(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
      threshold = 0.5, nPerm = 16, bands = 8, shingleN = 2)
    val clusters = Dedup.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
    // tokenize AFTER the membership join: only cluster members contribute
    // to the yield, and near-dup clusters cover a small fraction of the
    // corpus — counting tokens for every document first did the expensive
    // work mostly to throw it away at the join
    clusters.join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .withColumn("__ntok", size(TextHash.tokens(col("text"))).cast("long"))
      .drop("text")
      .withColumn("__removed", (col("doc_id") =!= col("cluster_id")).cast("long"))
      .groupBy(col("cluster_size"))
      .agg(
        countDistinct(col("cluster_id")).as("n_clusters"),
        sum(col("__removed")).as("docs_removed"),
        sum(col("__removed") * col("__ntok")).as("tokens_removed"))
  }

  val d12DedupYieldSql: String = {
    val tk = TextHashSql.tokens("text")
    s"""WITH RECURSIVE pairs AS (${Queries.d2MinhashPairsSql}),
       |edges AS (SELECT id1 AS src, id2 AS dst FROM pairs
       |          UNION SELECT id2 AS src, id1 AS dst FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, rr.r FROM edges e JOIN reach rr ON rr.id = e.dst),
       |comp AS (SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |sized AS (
       |  SELECT doc_id, cluster_id,
       |    COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |  FROM comp),
       |tk AS (SELECT doc_id, CAST(len($tk) AS BIGINT) AS ntok FROM documents)
       |SELECT cluster_size,
       |  CAST(COUNT(DISTINCT cluster_id) AS BIGINT) AS n_clusters,
       |  CAST(SUM(CASE WHEN s.doc_id <> cluster_id THEN 1 ELSE 0 END) AS BIGINT)
       |    AS docs_removed,
       |  CAST(SUM(CASE WHEN s.doc_id <> cluster_id THEN ntok ELSE 0 END) AS BIGINT)
       |    AS tokens_removed
       |FROM sized s JOIN tk ON tk.doc_id = s.doc_id
       |GROUP BY cluster_size""".stripMargin
  }

  // ---------------------------------------------------------------------
  // CTF1: class-based TF-IDF (the BERTopic c-TF-IDF shape) — per source,
  // the top-5 terms weighted by in-class term count x smooth class-IDF
  // (rarity ACROSS classes, not documents): the per-class vocabulary
  // fingerprint used to label corpus slices. Two keyed aggregates (term
  // instances per class, class-df per term), one broadcast class count,
  // one rank window over a vocabulary-sized table — nothing doc-pair-
  // shaped anywhere.
  // ---------------------------------------------------------------------
  def ctf1ClassTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val terms = docs.select(col("source"),
        explode(TextHash.tokens(col("text"))).as("tok"))
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("__n"))
    val classDf = terms.groupBy(col("tok"))
      .agg(count(lit(1)).as("__cdf"))
    val nClasses = docs.agg(countDistinct(col("source")).as("__nc"))
    val weighted = terms.join(classDf, Seq("tok"))
      .crossJoin(broadcast(nClasses))
      .withColumn("weight",
        round(col("__n").cast("double") *
          (log((col("__nc") + 1.0d) / (col("__cdf") + 1.0d)) + 1.0d), 6))
    val byClass = Window.partitionBy(col("source"))
      .orderBy(col("weight").desc, col("tok"))
    weighted
      .withColumn("rank", row_number().over(byClass).cast("long"))
      .where(col("rank") <= 5)
      .select(col("source"), col("rank"), col("tok"), col("weight"))
  }

  val ctf1ClassTfidfSql: String = {
    val tk = TextHashSql.tokens("text")
    s"""WITH terms AS (
       |  SELECT source, tok, COUNT(*) AS n FROM (
       |    SELECT source, unnest($tk) AS tok FROM documents)
       |  GROUP BY source, tok),
       |cdf AS (SELECT tok, COUNT(*) AS cdf FROM terms GROUP BY tok),
       |nc AS (SELECT COUNT(DISTINCT source) AS nc FROM documents),
       |w AS (
       |  SELECT source, t.tok AS tok,
       |    round(CAST(n AS DOUBLE) * (ln((nc + 1.0) / (cdf + 1.0)) + 1.0), 6)
       |      AS weight
       |  FROM terms t JOIN cdf ON cdf.tok = t.tok, nc)
       |SELECT source, rank, tok, weight FROM (
       |  SELECT source, tok, weight,
       |    ROW_NUMBER() OVER (PARTITION BY source
       |                       ORDER BY weight DESC, tok) AS rank
       |  FROM w) WHERE rank <= 5""".stripMargin
  }

  // ---------------------------------------------------------------------
  // D13: incremental near-dup — the ingest-time dedup shape: the newest
  // slice (doc_id % 7 = 3 plays the incoming crawl batch) checked against
  // the already-accepted corpus via the banded MinHash index, corpus
  // never self-joined. Exact Jaccard verify on the candidates only.
  // ---------------------------------------------------------------------
  def d13IncrementalNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    Dedup.minhashNearDupsAgainst(
        corpus = docs.where(col("doc_id") % 7 =!= 3),
        batch = docs.where(col("doc_id") % 7 === 3),
        idCol = "doc_id", textCol = "text",
        threshold = 0.5, nPerm = 16, bands = 8, shingleN = 2)
      .select(col("batch_id"), col("corpus_id"),
        round(col("jaccard"), 6).as("jaccard"))
  }

  val d13IncrementalNearDupSql: String = {
    val sh = DedupSql.shingleSet("text", 2)
    val sig = DedupSql.minhashSignature("text", 16, 2)
    s"""WITH base AS (
       |  SELECT * FROM (SELECT doc_id, doc_id % 7 = 3 AS is_batch,
       |                        $sh AS sh, $sig AS sig FROM documents)
       |  WHERE len(sh) > 0),
       |banded AS (
       |  SELECT doc_id, is_batch, b, ${DedupSql.bandKey("sig", "b", 2)} AS key
       |  FROM base, range(0, 8) t(b)),
       |cands AS (
       |  SELECT DISTINCT p.doc_id AS batch_id, c.doc_id AS corpus_id
       |  FROM banded p JOIN banded c
       |    ON p.b = c.b AND p.key = c.key AND p.is_batch AND NOT c.is_batch)
       |SELECT cd.batch_id, cd.corpus_id,
       |  round(${DedupSql.jaccard("x.sh", "y.sh")}, 6) AS jaccard
       |FROM cands cd JOIN base x ON x.doc_id = cd.batch_id
       |              JOIN base y ON y.doc_id = cd.corpus_id
       |WHERE ${DedupSql.jaccard("x.sh", "y.sh")} >= 0.5""".stripMargin
  }

  // ---------------------------------------------------------------------
  // TOK3: BPE-style merge TRAINING — k rounds of (count adjacent token
  // pairs -> pick the most frequent, ties lexicographic -> apply the
  // merge corpus-wide), the word-level shape of the tokenizer-training
  // loop. Each round is one keyed count (map-side partial) plus a 1-row
  // winner collect (merge-table METADATA, like a codebook); the merge
  // itself is a map-side string replace.
  //
  // The greedy left-scan, non-overlapping merge semantics ("a a a" with
  // merge (a,a) -> [a_a, a]) are encoded identically on BOTH engines by
  // the doubled-separator trick: tokens joined with two spaces and the
  // line padded, so replacing " A  B " with " A_B " consumes each token's
  // inner separator exactly once and a chain merges left-to-right; the
  // text is re-normalized (split on space runs, re-doubled) every round.
  // Output: the merge table (round, lhs, rhs, n_before).
  // ---------------------------------------------------------------------
  private[graft] val BpeRounds = 3

  def tok3BpeTrain(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Bpe.train(
      Tables.documents(spark, sfDir), "text", BpeRounds)

  val tok3BpeTrainSql: String = {
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
    val rounds = (1 to BpeRounds)
    val ctes = Seq(
      s"r0 AS (SELECT ${doubledSql("text")} AS txt FROM documents)") ++
      rounds.flatMap { k =>
        val pw = pairsOf(s"r${k - 1}", s"p$k", s"w$k")
        if (k < BpeRounds) Seq(pw, nextRound(s"r${k - 1}", s"w$k", s"r$k"))
        else Seq(pw)
      }
    val arms = rounds.map(k =>
      s"SELECT CAST($k AS BIGINT) AS round, a AS lhs, b AS rhs, CAST(n AS BIGINT) AS n_before FROM w$k")
    s"""WITH ${ctes.mkString(",\n")}
       |${arms.mkString("\nUNION ALL\n")}""".stripMargin
  }

  // ---------------------------------------------------------------------
  // CUR1: quality-decile curriculum report — the corpus sliced into 10
  // exact quality deciles (ntile over (score, doc_id) — the id tie-break
  // makes the cut deterministic), each reporting doc count, token volume,
  // mean quality, and mean repetition. The table a curriculum scheduler
  // consumes to decide per-decile sampling rates. One window over the
  // scored corpus + one keyed aggregate; the scoring itself is the
  // codegen'd map-side kernel set.
  // ---------------------------------------------------------------------
  def cur1QualityDeciles(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val scored = Tables.documents(spark, sfDir).select(
      col("doc_id"),
      round(TextAnalysis.qualityScore(col("text")), 6).as("__q"),
      size(TextHash.tokens(col("text"))).cast("long").as("__ntok"),
      graft.functions.Native.shingleStrings(col("text"), 2).as("__sh"))
    val withRep = scored.withColumn("__rep",
      round(when(size(col("__sh")) === 0, lit(0.0)).otherwise(
        lit(1.0) - size(array_distinct(col("__sh"))).cast("double") /
          size(col("__sh")).cast("double")), 6))
    // exact NTILE via the distributed rank primitive — no single-partition
    // global sort at any corpus size (Ranks.withNtile: range partition +
    // per-partition window + offset metadata)
    graft.operators.Ranks.withNtile(withRep, "decile", 10,
        Seq(col("__q"), col("doc_id")))
      .groupBy(col("decile"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__ntok")).as("n_tokens"),
        round(sum(col("__q").cast("decimal(28,10)")).cast("double") /
          count(lit(1)), 6).as("avg_quality"),
        round(sum(col("__rep").cast("decimal(28,10)")).cast("double") /
          count(lit(1)), 6).as("avg_repetition"))
  }

  val cur1QualityDecilesSql: String = {
    import graft.operators.TextAnalysisSql
    val tk = TextHashSql.tokens("text")
    val sh = TextHashSql.shingles("text", 2)
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    round(${TextAnalysisSql.qualityScore("text")}, 6) AS q,
       |    CAST(len($tk) AS BIGINT) AS ntok,
       |    round(CASE WHEN len($sh) = 0 THEN 0.0
       |      ELSE 1.0 - CAST(len(list_distinct($sh)) AS DOUBLE) /
       |        CAST(len($sh) AS DOUBLE) END, 6) AS rep
       |  FROM documents),
       |tiled AS (
       |  SELECT *, CAST(NTILE(10) OVER (ORDER BY q, doc_id) AS BIGINT)
       |    AS decile
       |  FROM scored)
       |SELECT decile, COUNT(*) AS n_docs,
       |  CAST(SUM(ntok) AS BIGINT) AS n_tokens,
       |  round(CAST(SUM(CAST(q AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6)
       |    AS avg_quality,
       |  round(CAST(SUM(CAST(rep AS DECIMAL(28,10))) AS DOUBLE) / COUNT(*), 6)
       |    AS avg_repetition
       |FROM tiled GROUP BY decile""".stripMargin
  }

  // ---------------------------------------------------------------------
  // Q18: the TPC-H Q5 shape — six-way star join (region -> nation ->
  // customer/supplier -> orders -> lineitem) with the local-supplier
  // condition (c_nationkey = s_nationkey), a region filter that prunes
  // through two broadcast dims, and a pushed orderdate range. Revenue per
  // nation in DECIMAL. The relational stress test: the fact table joins
  // once by shuffle (orders), everything else broadcasts, and the region/
  // date predicates reach the scans.
  // ---------------------------------------------------------------------
  def q18Star5(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = "decimal(18,2)"
    val n = Tables.nation(spark, sfDir)
      .join(broadcast(Tables.region(spark, sfDir)
        .where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val c = Tables.customer(spark, sfDir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val o = Tables.orders(spark, sfDir)
      .where(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1999-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val s = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val l = Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_suppkey"),
        col("l_extendedprice"), col("l_discount"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice").cast(dec) *
          (lit(1).cast(dec) - col("l_discount").cast(dec)))
          .cast("decimal(38,4)"))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  val q18Star5Sql: String =
    """SELECT n_name,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |    AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o_orderdate < TIMESTAMP '1999-01-01'
      |GROUP BY n_name""".stripMargin

  // ---------------------------------------------------------------------
  // E15: streaming replay of d13 — the new-crawl slice as real
  // micro-batches, each deduped against the static corpus in
  // foreachBatch; the accumulated pair table must equal the one-shot
  // batch join, so the oracle is d13's SQL verbatim.
  // ---------------------------------------------------------------------
  def e15StreamNearDup(spark: SparkSession, sfDir: String): DataFrame =
    graft.streaming.EventStream.replayIncrementalDedup(
        Tables.documents(spark, sfDir))
      .select(col("batch_id"), col("corpus_id"),
        round(col("jaccard"), 6).as("jaccard"))

  val e15StreamNearDupSql: String = d13IncrementalNearDupSql

  val all: Seq[Query] = Seq(
    Query("q18_star5", q18Star5, q18Star5Sql),
    Query("e15_stream_neardup", e15StreamNearDup, e15StreamNearDupSql, lane = true),
    Query("tok3_bpe_train", tok3BpeTrain, tok3BpeTrainSql),
    Query("cur1_quality_deciles", cur1QualityDeciles, cur1QualityDecilesSql),
    Query("d12_dedup_yield", d12DedupYield, d12DedupYieldSql),
    Query("ctf1_class_tfidf", ctf1ClassTfidf, ctf1ClassTfidfSql),
    Query("d13_incremental_neardup", d13IncrementalNearDup, d13IncrementalNearDupSql))
}
