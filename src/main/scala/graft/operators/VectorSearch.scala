package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Similarity

/** Brute-force scored top-k KNN over a vector table — the reference's
  * flagship read path (reference: src/memory.rs:99-136, src/routes.rs:429-453
  * and the Qdrant variant src/vector_store.rs:265-310).
  *
  * Logical plan:
  *   Scan -> Filter(predicates) -> Project(+score) -> Filter(score IS NOT NULL
  *   [AND score >= threshold]) -> Sort(score DESC, id ASC) -> Limit(k)
  *
  * Catalyst compiles the sort+limit to `TakeOrderedAndProjectExec`: a bounded
  * priority queue per partition merged on the driver — the same O(N log k)
  * algorithm the reference hand-codes with a min-heap (src/memory.rs:93-95),
  * but parallel over partitions, so it scales linearly with executors at
  * 100 TB. The session filter runs *before* scoring (predicate ordering the
  * reference also hand-codes, src/memory.rs:112-116) — Catalyst pushes the
  * cheap equality predicate into the parquet scan.
  */
object VectorSearch {

  /** Attach a similarity score column against a literal query vector. */
  def scored(
      df: DataFrame,
      queryVec: Seq[Float],
      metric: String = "cosine",
      embeddingCol: String = "embedding",
      scoreCol: String = "score"): DataFrame =
    df.withColumn(scoreCol,
      Similarity.score(metric, col(embeddingCol), typedlit(queryVec)))

  /** Full top-k search. `predicate` is the optional session/metadata filter
    * (NULL never matches, matching reference src/memory.rs:112-116 — SQL
    * three-valued logic gives this for free). `threshold` keeps
    * score >= t (reference: src/routes.rs:305-307).
    */
  def topK(
      df: DataFrame,
      queryVec: Seq[Float],
      k: Int,
      idCol: String = "vec_id",
      metric: String = "cosine",
      predicate: Option[Column] = None,
      threshold: Option[Double] = None,
      embeddingCol: String = "embedding",
      scoreCol: String = "score"): DataFrame = {
    val filtered = predicate.fold(df)(df.filter)
    val s = scored(filtered, queryVec, metric, embeddingCol, scoreCol)
      .where(col(scoreCol).isNotNull)
    val t = threshold.fold(s)(th => s.where(col(scoreCol) >= lit(th)))
    // Total order: score DESC then id ASC — deterministic tie-break (the
    // reference leaves ties arbitrary, src/memory.rs:132-135; we pin them
    // for oracle reproducibility).
    t.orderBy(col(scoreCol).desc, col(idCol).asc).limit(k)
  }

  /** Contrastive hard-negative mining: for each row of a (small) query
    * block, the top-`k` most-similar corpus rows carrying a DIFFERENT
    * label — the standard negative-selection step for contrastive /
    * embedding training data (highest-scoring wrong-label neighbours are
    * the informative negatives). Extension surface — no reference
    * counterpart (SURVEY.md §2.5).
    *
    * Scale posture: the query block is bounded and broadcast, so the
    * plan is a broadcast nested-loop over the corpus scan — corpus-linear
    * with |block| kernel evaluations per row, never corpus×corpus (the
    * caller mines negatives for one bounded batch at a time, the shape
    * contrastive training actually consumes). The per-query top-k is a
    * window argmax keyed by query id; invalid scores (dim mismatch /
    * zero magnitude) drop by the V4 null rule.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int,
      idCol: String = "vec_id",
      labelCol: String = "label",
      embeddingCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(
      col(idCol).as("qid"), col(labelCol).as("__qlabel"),
      col(embeddingCol).as("__qemb"))
    val scored = corpus
      .join(broadcast(q), col("__qlabel") =!= col(labelCol))
      .withColumn("score",
        Similarity.cosine(col(embeddingCol), col("__qemb")))
      .where(col("score").isNotNull)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col(idCol).asc)
    scored.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= k)
      .select(col("qid"), col(idCol).as("neg_id"),
        col("__rn").as("rank"), round(col("score"), 6).as("score"))
  }

  /** Distributed MMR for pools too big to collect: the candidate pool
    * stays a DataFrame; each of the k greedy rounds scores every
    * remaining row against the (≤ k, driver-held) SELECTED embeddings —
    * broadcast as literals — and takes the arg-max with one
    * TakeOrderedAndProject(limit=1). Driver state is k vectors (selection
    * metadata); the pool itself is never collected, so poolSize can be
    * millions. Identical arithmetic to [[mmrRerank]] (round-6 HALF_UP,
    * id tie-breaks, same cosine fold order) — the spec pins equality.
    */
  def mmrRerankDistributed(
      df: DataFrame,
      queryVec: Seq[Float],
      poolSize: Int,
      k: Int,
      lambda: Double,
      idCol: String = "vec_id",
      embeddingCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    // pinned: re-scored k times; localCheckpoint cuts the topK lineage so
    // round r doesn't re-run the retrieval r times
    val pool = topK(df, queryVec, poolSize, idCol, embeddingCol = embeddingCol)
      .select(col(idCol).as("__id"), round(col("score"), 6).as("__rel"),
        col(embeddingCol).as("__emb"))
      .localCheckpoint(true)
    val selected =
      scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double, Seq[Float])]
    var remaining = pool
    var step = 1
    var exhausted = false
    while (step <= k && !exhausted) {
      val scoreCol =
        if (selected.isEmpty) col("__rel")
        else {
          val sims = selected.toSeq.map(s =>
            round(graft.functions.Native.cosineSim(
              col("__emb"), typedlit(s._4)), 6))
          val maxSim = if (sims.size == 1) sims.head else greatest(sims: _*)
          round(lit(lambda) * col("__rel") - lit(1.0 - lambda) * maxSim, 6)
        }
      val win = remaining.withColumn("__mmr", scoreCol)
        .orderBy(col("__mmr").desc, col("__id").asc).limit(1)
        .select(col("__id"), col("__mmr"), col("__emb"))
        .collect() // ONE winner row per round — selection metadata
      if (win.isEmpty) exhausted = true
      else {
        val w = win.head
        selected += ((step, w.getLong(0), w.getDouble(1), w.getSeq[Float](2)))
        remaining = remaining.where(col("__id") =!= lit(w.getLong(0)))
        step += 1
      }
    }
    import spark.implicits._
    selected.toSeq.map(s => (s._1, s._2, s._3)).toDF("mmr_rank", "id", "mmr")
  }

  /** Maximal-marginal-relevance rerank: from the top-`poolSize` candidates
    * by relevance, greedily select `k` maximizing
    * `lambda*rel - (1-lambda)*max_sim_to_already_selected` — the standard
    * diversification pass on a retrieval result.
    *
    * Scale posture: candidate retrieval is the distributed [[topK]]; the
    * greedy runs on the collected pool — poolSize*(dim+2) values, rerank
    * METADATA like the IVF codebook, not a data-path collect (every real
    * retrieval stack reranks a bounded pool on one node). All comparisons
    * use 6-dp HALF_UP rounding with id tie-breaks so the selection is
    * bit-reproducible (and oracle-mirrored by a recursive CTE).
    */
  def mmrRerank(
      df: DataFrame,
      queryVec: Seq[Float],
      poolSize: Int,
      k: Int,
      lambda: Double,
      idCol: String = "vec_id",
      embeddingCol: String = "embedding"): DataFrame = {
    val spark = df.sparkSession
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pool = topK(df, queryVec, poolSize, idCol, embeddingCol = embeddingCol)
      .select(col(idCol), round(col("score"), 6).as("rel"), col(embeddingCol))
      .orderBy(col("rel").desc, col(idCol))
      .collect()
      .map(row => (row.getLong(0), row.getDouble(1),
        row.getSeq[Float](2).toArray))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; sa += x * x; sb += y * y; i += 1
      }
      dot / (math.sqrt(sa) * math.sqrt(sb))
    }
    val embOf = pool.map(p => p._1 -> p._3).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    val remaining = scala.collection.mutable.LinkedHashMap(
      pool.map(p => p._1 -> p._2): _*)
    (1 to math.min(k, pool.length)).foreach { step =>
      val best = remaining.map { case (id, rel) =>
        val score =
          if (selected.isEmpty) rel
          else {
            val maxSim =
              selected.map(s => r6(cos(embOf(id), embOf(s._2)))).max
            r6(lambda * rel - (1 - lambda) * maxSim)
          }
        (id, score)
      }.minBy { case (id, s) => (-s, id) }
      selected += ((step, best._1, best._2))
      remaining.remove(best._1)
    }
    import spark.implicits._
    selected.toSeq.toDF("mmr_rank", "id", "mmr")
  }
}
