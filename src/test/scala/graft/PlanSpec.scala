package graft

/** Physical-plan regression guards: the scale-critical plan shapes recorded
  * in BASELINE.md must not silently degrade (lost pushdown, lost broadcast,
  * a sort-limit that stops compiling to TakeOrderedAndProject, ...).
  */
class PlanSpec extends SparkSpec {

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, sf001).queryExecution.executedPlan.toString

  test("v2_knn_topk: session predicate pushed to the parquet scan, heap top-k") {
    val p = plan("v2_knn_topk")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("PushedFilters: [IsNotNull(label), EqualTo(label,2)"))
  }

  test("q1_agg: map-side partial aggregation before the single exchange") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"))
    // pruned scan: only the 5 referenced lineitem columns are read
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_returnflag:string,l_linestatu"))
  }

  test("q2_date_filter: the timestamp predicate is pushed to the parquet scan") {
    val p = plan("q2_date_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("e2_embed_search: the query vector is broadcast, not shuffled") {
    assert(plan("e2_embed_search").contains("BroadcastExchange"))
  }

  test("s3_session_list: offset+limit compile into one TakeOrderedAndProject") {
    assert(plan("s3_session_list").contains("TakeOrderedAndProject(limit=60, offset=10"))
  }

  test("a2_ann_bucketed: bucket probe is a hash equi-join, not a nested loop") {
    val p = plan("a2_ann_bucketed")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("s5_fk_accept: referential integrity is a broadcast semi-join") {
    val p = plan("s5_fk_accept")
    assert(p.contains("LeftSemi") && p.contains("Broadcast"))
  }

  test("x2_range_join: interval join runs as an equi-join, not a nested loop") {
    val p = plan("x2_range_join")
    assert(!p.contains("NestedLoop") && !p.contains("CartesianProduct"))
  }

  test("q11_salted_join: joins on (key, salt) — no broadcast of the fact side") {
    val p = plan("q11_salted_join")
    // the salted dimension explode must sit under the join, and the join
    // keys must include the salt column
    assert(p.contains("__salt"))
    assert(p.contains("partial_sum")) // aggregation still map-side partial
  }

  test("q9_cube: expand + partial aggregation before the exchange") {
    val p = plan("q9_cube")
    assert(p.contains("Expand"))
    assert(p.contains("partial_sum"))
  }

  test("t6_ngram_freq: top-50 compiles to TakeOrderedAndProject over partial counts") {
    val p = plan("t6_ngram_freq")
    assert(p.contains("TakeOrderedAndProject"))
    assert(p.contains("partial_count") || p.contains("count(1)"))
  }

  test("e7_first_touch: single partial-aggregating shuffle, no window sort") {
    val p = plan("e7_first_touch")
    assert(p.contains("partial_min") || p.contains("partial_"))
    assert(!p.contains("Window"))
  }

  test("v12_quantize: pure map-side projection — no shuffle at all") {
    val p = plan("v12_quantize")
    assert(!p.contains("Exchange"))
  }

  test("q13_grouping_sets: one Expand + partial aggregation, single exchange") {
    val p = plan("q13_grouping_sets")
    assert(p.contains("Expand"))
    assert(p.contains("partial_sum"))
  }

  test("t9_rarity: the vocabulary side is broadcast, not shuffled") {
    assert(plan("t9_rarity").contains("BroadcastHashJoin"))
  }

  test("a6_centroids: partial aggregation below the (label, dim) exchange") {
    val p = plan("a6_centroids")
    assert(p.contains("partial_sum"))
    assert(p.contains("Generate explode") || p.contains("posexplode"))
  }

  test("smp1_stratified_sample: map-side filter, no shuffle at all") {
    assert(!plan("smp1_stratified_sample").contains("Exchange"))
  }

  test("mix1_domain_mixture: thresholds broadcast back to the corpus scan") {
    assert(plan("mix1_domain_mixture").contains("BroadcastHashJoin"))
  }

  test("c1_contamination: benchmark shingle set is a broadcast semi-join") {
    val p = plan("c1_contamination")
    assert(p.contains("LeftSemi") && p.contains("Broadcast"))
  }

  test("q18_star5: dims broadcast, orderdate range pushed to the scan") {
    val p = plan("q18_star5")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), s"date not pushed:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"))
  }

  // The round-6 fusion bought pr1 6.80 -> 3.0 s by collapsing two
  // edge-sized joins per iteration into one; these pins are the guard
  // the `inflow` factoring promised (PageRank.scala doc) against a
  // silent de-fusion. Both pr1 and ppr1 iterate through this exact
  // function, so pinning it pins them.
  test("PageRank.inflow (broadcast node side): one join, map-side partial" +
      " aggregation, one shuffle") {
    import org.apache.spark.sql.functions.{broadcast, col, lit}
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val rank = Seq((1L, 2L, 0.4), (2L, 1L, 0.3), (3L, 1L, 0.3))
      .toDF("node", "__outd", "rank")
    val p = operators.PageRank.inflow(e, rank, broadcast)
      .queryExecution.executedPlan.toString
    assert("Join".r.findAllIn(p).size == 1, s"expected exactly one join:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"node side not broadcast:\n$p")
    assert(p.contains("partial_sum"), s"no map-side partial agg:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one shuffle (the node-keyed aggregate):\n$p")
  }

  test("PageRank.inflow (shuffled node side, the beyond-broadcast scale" +
      " path): still exactly one join") {
    import spark.implicits._
    val e = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val rank = Seq((1L, 1L, 0.5), (2L, 1L, 0.5)).toDF("node", "__outd", "rank")
    val p = operators.PageRank.inflow(e, rank, identity)
      .queryExecution.executedPlan.toString
    assert("Join".r.findAllIn(p).size == 1, s"expected exactly one join:\n$p")
    assert(p.contains("partial_sum"), s"no map-side partial agg:\n$p")
  }

  test("src2_scored_topk: TopN + score + threshold absorb into the DSv2" +
      " scan — no Spark-side sort over the store") {
    val p = plan("src2_scored_topk")
    assert(p.contains("PushedTopN: ORDER BY [score DESC, id ASC] LIMIT 15"),
      s"scored TopN not delegated to the store:\n$p")
    assert(p.contains("PushedScore: cosine(embedding"),
      s"scoring not delegated to the store:\n$p")
    assert(p.contains("GreaterThanOrEqual(score,0.05)"),
      s"threshold not pushed:\n$p")
    // Spark's only sort is the nBuckets*k-row merge heap; a range
    // exchange would mean the full store is being globally sorted
    assert(p.contains("TakeOrderedAndProject"))
    assert(!p.contains("Exchange rangepartitioning"),
      s"global sort over the store:\n$p")
  }

  test("src4_stats_broadcast: the store's reported statistics reach the" +
      " logical plan and the join broadcasts") {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
    val df = SparkEntry.queries("src4_stats_broadcast")(spark, sf001)
    val rel = df.queryExecution.optimizedPlan.collectFirst {
      case r: DataSourceV2ScanRelation => r
    }.getOrElse(fail("no DSv2 scan in src4's optimized plan"))
    // the planner must see the store's own numbers, not defaultSizeInBytes
    assert(rel.stats.rowCount.isDefined,
      "scan statistics missing a row count")
    assert(rel.stats.sizeInBytes <
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        .stripSuffix("b").toLong,
      s"reported size ${rel.stats.sizeInBytes} would never broadcast")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"join did not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side shuffled:\n$p")
  }

  test("kw1_kruskal_wallis: data-sized stages are partial-aggregated" +
      " equi-joins — no cartesian, no data-sized nested loop") {
    val p = plan("kw1_kruskal_wallis")
    assert(p.contains("partial_sum") || p.contains("partial_count"),
      s"no map-side partial aggregation:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in the plan:\n$p")
    // the only nested loops allowed are the one-row scalar broadcasts
    // (the crossJoin(broadcast(...)) idiom); the rank join must be hashed
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      s"rank join is not an equi-join:\n$p")
  }
}
