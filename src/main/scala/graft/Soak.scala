package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.MemoryBucketSource

/** Dev main: 100× soak of the heaviest PRODUCTION-PATH queries (d2
  * minhash-LSH pairs, d10 SRP pairs, a7 trained IVF, sp2 prefix-filtered
  * sparse cosine) — one more decade past the 10× scaling probe
  * (BASELINE.md "Scaling probe (round 3, 10x replicated sf0.1)").
  *
  * Replica construction differs from that probe's on purpose: pair miners
  * measure WORK, so replicas must be mutually independent, not mutual
  * near-dups (which would grow the true answer — and any exact
  * algorithm's cost — quadratically in the factor, by construction):
  *  - documents: replica i > 0 suffixes EVERY token with `_r<i>` — zero
  *    cross-replica shingle/token overlap, intra-replica dup structure
  *    identical to the base corpus;
  *  - embeddings: replica i > 0 flips component signs by a per-(replica,
  *    dim) hash — cosines WITHIN a replica are exactly preserved
  *    (s_j² = 1), cross-replica cosines of identical base vectors land
  *    near 0 with high probability.
  *
  * d10's LSH band bits are RIGHT-SIZED per scale (log₂ growth: 16/28/40
  * planes at 1×/10×/100×, 4 bands) — operating an LSH index at 100× the
  * data with 1× the bits makes bucket size, hence candidate count, grow
  * linearly with N and the join quadratically; sizing bits to N is what
  * a production deployment does, and is itself part of the scale story.
  *
  * Usage: runMain graft.Soak [factors...] (default: 10 100). Every soak
  * recorded in BASELINE.md ran with SPARK_GRAFT_CPUS=32.
  */
object Soak {

  def buildSoak(spark: SparkSession, baseDir: String, outDir: String,
                factor: Int): Unit = {
    new java.io.File(outDir).mkdirs()
    // per-table guards: later rounds add tables to soak dirs built by
    // earlier runs without rebuilding what already exists
    def missing(t: String) = !new java.io.File(s"$outDir/$t.parquet").exists()

    if (missing("documents")) {
      val docs = Tables.documents(spark, baseDir)
      val docMax = docs.agg(max("doc_id")).head().getLong(0) + 1
      (0 until factor).map { i =>
        val tagged =
          if (i == 0) docs
          else docs.withColumn("text",
            array_join(transform(split(col("text"), " "),
              t => concat(t, lit(s"_r$i"))), " "))
        tagged.withColumn("doc_id", col("doc_id") + lit(i * docMax))
      }.reduce(_ unionByName _)
        .repartition(32).write.parquet(s"$outDir/documents.parquet")
    }

    if (missing("embeddings")) {
      val emb = Tables.embeddings(spark, baseDir)
      val embMax = emb.agg(max("vec_id")).head().getLong(0) + 1
      (0 until factor).map { i =>
        val flipped =
          if (i == 0) emb
          else emb.withColumn("embedding",
            transform(col("embedding"), (x, j) =>
              when(xxhash64(lit(i.toLong * 8191L) + j.cast("long")) % 2L === 0,
                x).otherwise(-x)))
        flipped.withColumn("vec_id", col("vec_id") + lit(i * embMax))
      }.reduce(_ unionByName _)
        .repartition(32).write.parquet(s"$outDir/embeddings.parquet")
    }

    // events, replicated with SHIFTED user and event ids at IDENTICAL
    // timestamps: the streaming replays key their state by user, so the
    // state store grows by the factor while the watermark clock, batch
    // cadence, and per-user join fan-out stay exactly 1x — "same traffic
    // shape, factor x more users", the way an event stream actually
    // scales. (Shifting ts instead would stretch the simulated clock and
    // measure a longer stream, not a bigger one.)
    if (missing("events")) {
      val ev = Tables.events(spark, baseDir)
      val evMax = ev.agg(max("event_id")).head().getLong(0) + 1
      val userMax = ev.agg(max("user_id")).head().getLong(0) + 1
      (0 until factor).map { i =>
        ev.withColumn("event_id", col("event_id") + lit(i * evMax))
          .withColumn("user_id", col("user_id") + lit(i * userMax))
      }.reduce(_ unionByName _)
        .repartition(32).write.parquet(s"$outDir/events.parquet")
    }

    // the purchase graph, replicated with SHIFTED customer/supplier keys:
    // replica i is a disjoint component, so the graph itself (nodes AND
    // edges) grows by the factor — unlike the round-3 scaling probe's
    // 1x-dimension replication (BASELINE.md "Scaling probe (round 3)"),
    // this actually scales pr1's iteration subject
    if (missing("orders") || missing("lineitem")) {
      val ord = Tables.orders(spark, baseDir)
      val ordMax = ord.agg(max("o_orderkey")).head().getLong(0) + 1
      val custMax = ord.agg(max("o_custkey").cast("long")).head().getLong(0) + 1
      val li = Tables.lineitem(spark, baseDir)
      val suppMax = li.agg(max("l_suppkey").cast("long")).head().getLong(0) + 1
      (0 until factor).map { i =>
        ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordMax))
          .withColumn("o_custkey",
            col("o_custkey").cast("long") + lit(i * custMax))
      }.reduce(_ unionByName _)
        .repartition(32).write.parquet(s"$outDir/orders.parquet")
      (0 until factor).map { i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i * ordMax))
          .withColumn("l_suppkey",
            col("l_suppkey").cast("long") + lit(i * suppMax))
      }.reduce(_ unionByName _)
        .repartition(32).write.parquet(s"$outDir/lineitem.parquet")
    }
  }

  /** d10's plane count right-sized to the data: band bits must grow a
    * little FASTER than log2(N) so bucket size shrinks — constant bucket
    * size means candidates (buckets x C(size,2)) grow linearly, growing
    * bucket size means super-linearly (the first soak run measured 261 s
    * at 100x with 10-bit bands, bucket ~490). 4/8/12 bits per band at
    * 1x/10x/100x keeps candidate growth sub-linear per decade; the
    * recall-vs-bits tradeoff is the a8 curve's knob. */
  def planesFor(factor: Int): Int = factor match {
    case f if f >= 100 => 48
    case f if f >= 10 => 32
    case _ => 16
  }

  /** Replica-stride fences for the lanes that re-derive a replica index
    * (or re-disjoint an item space) from shifted keys, memoized per
    * (dir, column) and warmed in main() — OUTSIDE every timed region.
    * Two round-9 review findings motivate the shape:
    *  - an eager per-rep agg+head inside a lane closure charges a
    *    constant driver-job cost to the timed query (the d14 bias);
    *  - deriving the stride from the CURRENT base fixture silently
    *    diverges if the fixture is regenerated while a built soak dir
    *    survives its missing() guard. The stride therefore comes from
    *    the SOAK DIR's own id fence: buildSoak shifts replica i's keys
    *    by i*(base_max+1), so (dir_max+1)/factor == base_max+1 exactly,
    *    sparse key spaces included — the data carries its own stride. */
  private val strideCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), (Int, Long)]
  /** Test isolation: the cache is JVM-lifetime state, so a spec that
    * exercises the factor-mismatch guard would otherwise poison every
    * later suite in the forked test JVM (round-10 review finding). */
  private[graft] def clearStrideCacheForTest(): Unit = strideCache.clear()
  private def strideOf(df: => DataFrame, idCol: String, dir: String,
      factor: Int): Long = {
    // The memoized value depends on factor, so a second caller asking
    // for the same (dir, idCol) at a DIFFERENT factor must fail loudly
    // instead of silently inheriting the first caller's stride
    // (round-9 advisor finding). Today each dir maps to one factor;
    // this assert keeps that a checked invariant, not an assumption.
    val (f, stride) = strideCache.getOrElseUpdate((dir, idCol),
      (factor,
        (df.agg(max(col(idCol).cast("long"))).head().getLong(0) + 1) / factor))
    require(f == factor,
      s"stride for ($dir, $idCol) was memoized at factor $f; " +
        s"a lookup at factor $factor would silently reuse it")
    stride
  }
  def docStride(s: SparkSession, dir: String, factor: Int): Long =
    strideOf(Tables.documents(s, dir), "doc_id", dir, factor)
  def orderStride(s: SparkSession, dir: String, factor: Int): Long =
    strideOf(Tables.orders(s, dir), "o_orderkey", dir, factor)
  def embStride(s: SparkSession, dir: String, factor: Int): Long =
    strideOf(Tables.embeddings(s, dir), "vec_id", dir, factor)
  /** Item-space fence for the orderkey-derived re-disjointing (fi1,
    * lnk1): l_partkey stays base-valued in every soak dir, so the
    * dir-derived max is the same fence the build used — any value past
    * the max yields the same intra-replica grouping. factor 1: the
    * fence is just max+1. */
  def partFence(s: SparkSession, dir: String): Long =
    strideOf(Tables.lineitem(s, dir), "l_partkey", dir, 1)

  // sp2 verifies one merge-dot per candidate pair and this corpus is
  // the degenerate 31-token-vocabulary case where candidates ≈ all
  // intra-replica pairs — linear in the factor but ~35 s/decade of
  // fixture, so its soak stops at 10x (still a full decade past the
  // bench scale; the 100x decade is covered by the three cheap paths).
  // pr1 stops at 10x (six edge-linear join iterations, structurally
  // identical to hits1 which DOES carry the 100x decade for the graph
  // family); sem1 and hits1 run the full two decades.
  val maxFactor = Map("sp2_sparse_prefix" -> 10,
    "pr1_pagerank" -> 10,
    "e18_stream_restart" -> 10,
    "e19_stream_upsert" -> 10,
    "e19b_stream_upsert_bucketed" -> 10,
    "e19c_stream_rebucket" -> 10,
    "e20_tws_sessionize" -> 10,
    "e21_upsert_asof" -> 10,
    "e22_upsert_drift" -> 10,
    "e23_upsert_point" -> 10,
    "e24_upsert_point_asof" -> 10).withDefaultValue(Int.MaxValue)

  /** A soak entry that runs the registered query as the bench does. */
  private def registered(name: String): (String, (SparkSession, String) => DataFrame) =
    name -> SparkEntry.queries(name)

  def soakQueries(factor: Int): Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "d2_minhash_pairs" -> ((s: SparkSession, dir: String) =>
      operators.Dedup.minhashNearDups(Tables.documents(s, dir), "doc_id", "text",
          threshold = 0.5, nPerm = 16, bands = 8, shingleN = 2)
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))),
    // the BLOCKED text-dedup posture (d14) on the same corpus and the
    // same FIXED 16 perms: the block is the replica (shard/language in
    // production), so chance cross-replica band collisions — the term
    // that grows quadratically with corpus count at fixed bits — are
    // dropped at the candidate join instead of surviving to the verify.
    // Output must equal d2's lane exactly (true pairs are intra-replica
    // by construction); the time difference at 100x is what blocking
    // buys INSTEAD of growing the signature — the two levers a corpus
    // pipeline chooses between.
    "d14_blocked_minhash" -> ((s: SparkSession, dir: String) =>
      // docStride is memoized OUTSIDE the timed region (see strideOf):
      // an eager max(doc_id) job on every rep would charge a constant
      // setup cost to the blocked side of the d2-vs-d14 head-to-head
      operators.Dedup.minhashNearDups(
          Tables.documents(s, dir)
            .withColumn("__blk",
              floor(col("doc_id") / docStride(s, dir, factor))),
          "doc_id", "text",
          threshold = 0.5, nPerm = 16, bands = 8, shingleN = 2,
          blockCol = Some("__blk"))
        .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))),
    // threshold 0.6 (vs the fixture query's 0.4): at 0.4 the sign-flip
    // replica construction itself leaks borderline cross-replica pairs
    // (an artifact of the corpus generator, not the plan); 0.6 keeps the
    // output linear in the factor while the banding + verify join still
    // chew real candidates.
    "d10_srp_neardup" -> ((s: SparkSession, dir: String) =>
      operators.Dedup.srpNearDups(Tables.embeddings(s, dir), "vec_id", "embedding",
          threshold = 0.6, nPlanes = planesFor(factor), bands = 4)
        .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))),
    registered("a7_ivf_trained"),
    registered("sp2_sparse_prefix"),
    // k scales with the corpus (bounded cluster size — the SemDeDup scale
    // knob, like d10's LSH bits: k grows with N so cluster size, hence
    // within-cluster pair work per cluster, stays constant) and the
    // codebook trains on a base-sized sample, the production posture for
    // an index at any scale
    "sem1_semantic_dedup" -> ((s: SparkSession, dir: String) => {
      val embs = Tables.embeddings(s, dir)
      val k = if (factor >= 100) 800 else if (factor >= 10) 80 else 8
      Queries25.semanticDedupWith(embs,
        operators.Ann.kmeans(embs.where(col("vec_id") < 6000), k, iters = 2))
    }),
    registered("pr1_pagerank"),
    // rides the same shifted-key orders/lineitem replicas as pr1: the
    // purchase bipartite graph grows by the factor as disjoint components
    registered("hits1_hubs_authorities"),
    // same replicated purchase graph; disjoint copies leave the peel
    // DEPTH unchanged while edges grow by the factor, so rounds (printed)
    // flat + time ~linear is the expected signature
    "kc1_kcore" -> ((s: SparkSession, dir: String) => {
      val (df, rounds) = operators.KCore.coreWithRounds(
        Queries26.purchaseEdges(s, dir), Queries26.KcoreK,
        maxIters = Queries26.KcoreUnroll + 1, strict = true)
      println(s"[soak] kc1_kcore peel rounds: $rounds")
      df.select(col("node"), col("core_degree"))
    }),
    // token-suffixed replicas: near-dup pairs stay intra-replica (rg1's
    // join subject grows linearly), and the bigram vocabulary grows by
    // the factor while zipf1's rank input stays vocabulary-bounded
    registered("rg1_ngram_f1"),
    registered("zipf1_bigram_zipf"),
    // same shifted-key replicas: the thresholded trade graph grows as
    // disjoint components. bfs1's seeds live in replica 0, so the
    // settled set stays CONSTANT while each round's edge semi-join scans
    // a factor-larger edge list — the "expand a fixed seed set over a
    // huge graph" posture; lp1 resolves communities in every replica
    // independently (work and output both ~linear)
    registered("bfs1_hop_distance"),
    registered("lp1_label_prop"),
    // pair mining needs INDEPENDENT replicas like the dedup miners: the
    // soak fixture shifts order keys but shares part keys, so the item
    // space is re-disjointed here by deriving the replica index from the
    // shifted order key (i = orderkey div base-max) — each replica then
    // mines its own item universe and the pair table grows by the
    // factor while per-replica support structure stays identical to 1x
    "fi1_assoc_rules" -> ((s: SparkSession, dir: String) => {
      val ordMax = orderStride(s, dir, factor)
      val partMax = partFence(s, dir)
      val baskets = Tables.lineitem(s, dir).select(
        col("l_orderkey").as("basket"),
        (col("l_partkey").cast("long") +
          floor(col("l_orderkey") / lit(ordMax)).cast("long") * lit(partMax))
          .as("item"))
      operators.AssocRules.frequentPairs(baskets, Queries30.FiMinSupport)
    }),
    // sorted-neighborhood linkage over the token-suffixed document
    // replicas: candidates are EXACTLY w successors per ranked record
    // regardless of content — w·n by construction — so the soak times
    // the distributed rank + bucketed window join + codegen'd
    // Jaro-Winkler verify over 10x/100x the strings
    "jw1_sorted_neighborhood" -> ((s: SparkSession, dir: String) =>
      Queries31.sortedNeighborhoodJw(
        Tables.documents(s, dir).select(col("doc_id").as("id"),
          substring(col("text"), 1, 32).as("nm")),
        Queries31.SnbWindow, Queries31.JwThreshold)),
    // co-purchase Adamic-Adar needs INDEPENDENT replicas like fi1 (the
    // soak fixture shares part keys, which would grow every part's buyer
    // degree by the factor and the wedge join quadratically BY
    // CONSTRUCTION): the same orderkey-derived re-disjointing makes the
    // graph grow as disjoint copies — wedges linear, per-replica
    // structure identical to 1x
    "lnk1_adamic_adar" -> ((s: SparkSession, dir: String) => {
      val ordMax = orderStride(s, dir, factor)
      val partMax = partFence(s, dir)
      val pairs = Tables.lineitem(s, dir)
        .select(col("l_orderkey"),
          (col("l_partkey").cast("long") +
            floor(col("l_orderkey") / lit(ordMax)).cast("long") * lit(partMax))
            .as("bb"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("a"), col("bb").as("b"))
        .distinct()
      // same cap as the registered query (round-7 ADVICE: the scaled
      // soak graph is exactly where a near-universal neighbor would
      // inflate the wedge join, so the soak must exercise the guard)
      operators.LinkPredict.adamicAdar(pairs, Queries31.LnkMinCommon,
        Queries31.LnkMaxNeighborDeg)
    }),
    // rides the shifted-key lineitem replicas directly: quantity and
    // discount value tables SATURATE (bounded domains) while the price
    // value table grows by the factor — the soak exercises the
    // distinct-value prefix-sum + join-back rank machinery at 60M rows
    registered("spr1_spearman"),
    // rides the shifted-key orders replicas: 5 EM rounds, each one full
    // scan folding six DECIMAL moments per component + a scalar param
    // broadcast back — per-unit cost should FALL (per-round job overhead
    // amortizes over a factor-larger scan, the pr1 signature)
    registered("gmm1_em_mixture"),
    // same replicas: replicas SHARE the calendar, so the daily series —
    // and the pairwise-slope table, quadratic in DAYS by design — stay
    // exactly 1x-sized while the scan feeding the daily aggregate grows
    // by the factor. "Quadratic in days, flat in rows" made measurable.
    registered("ts1_theil_sen"),
    // the scale path the fixture query's doc comment names: eps-pairs
    // from the SRP banded candidate join (d10's machinery, bits sized to
    // N) over the FULL embedding corpus, feeding the identical clustering
    // dataflow — BLOCKED per replica, because at threshold 0.35 in 64
    // dims the eps-graph is genuinely dense at scale no matter how the
    // corpus is built (cross-pair cosine ~ N(0, 1/64) puts 0.35 at 2.8
    // sigma: ~0.26% of ALL pairs qualify, quadratic in N — measured
    // round 8: 1.6M pairs at 200k vectors, 99% between unrelated
    // replicas, the component peel inheriting the blowup). Blocking by
    // shard/domain is the production posture for low-threshold density
    // clustering; the block here is the replica, so the soak measures
    // the dataflow on a linearly growing eps-graph, which is the
    // operator's scale claim.
    "dbs1_dbscan" -> ((s: SparkSession, dir: String) => {
      val embs = Tables.embeddings(s, dir)
        .withColumn("__blk", floor(col("vec_id") / embStride(s, dir, factor)))
      val pairs = operators.Dedup.srpNearDups(embs, "vec_id", "embedding",
          threshold = Queries32.DbsCos, nPlanes = planesFor(factor),
          bands = 4, blockCol = Some("__blk"))
        .select(col("id1"), col("id2"))
      operators.Dbscan.cluster(embs.select(col("vec_id").as("id")), pairs,
        Queries32.DbsMinPts)
    }),
    // shifted-user events replicas: the stream-stream LEFT OUTER replay's
    // state store holds factor x more user keys per eviction horizon
    // while replay cadence (6 chunks + dual sentinels) stays fixed — the
    // heaviest streaming shape, soaked. Output grows by the factor (the
    // memory-sink drain is the measured product, as in the 1x bench).
    registered("e17_stream_outer_join"),
    // the INNER interval-join replay (the bench's second-heaviest query):
    // same shifted-user replicas — per-user purchase->click fan-out stays
    // exactly 1x while the range-join state holds factor x more keys, so
    // matches (the measured drain) grow linearly with zero cross-replica
    // pairs by construction
    registered("e10_stream_join"),
    // late-data accounting: the % 7 = 0 late slice grows with the users;
    // the contract (closed windows never reopen) must hold at every
    // scale, so the soak both times the replay and re-proves the on-time-
    // only output shape at factor x state
    registered("e16_stream_late"),
    // d13's replay over the token-suffixed document replicas: the static-
    // corpus index and the new-crawl slice both grow by the factor while
    // near-dup pairs stay intra-replica (the d2 soak argument applied to
    // the incremental path)
    registered("e15_stream_neardup"),
    // restart recovery at factor x state: shifted-user replicas grow
    // what the SECOND query incarnation must recover from the checkpoint
    // (exact-dedup ids + open windows) by the factor, while the replay
    // cadence (two AvailableNow drains, fixed chunk count) stays 1x.
    // Soaked to 10x: the exact-dedup state is O(distinct ids) BY DESIGN
    // (the restart proof wants watermark-independent dedup; the bounded
    // production form is e13's dropDuplicatesWithinWatermark), so the
    // 100x decade would measure that named design choice, not the
    // restart path.
    registered("e18_stream_restart"),
    // continuous versioned ingest at factor x keys: the per-batch LWW
    // merge rewrites O(table), so with a fixed batch count the decade
    // should cost ~the factor — the measured form of the operator's own
    // caveat ("at scale each version rewrite is partition-pruned to the
    // id-buckets the batch touched"; the unpruned rewrite is what this
    // lane prices). Output = one row per user, grows by the factor.
    registered("e19_stream_upsert"),
    // the BUCKETED ingest at factor x keys: in this replay shape each
    // micro-batch is ~table/6 — far above the 32-bucket count — so
    // every batch touches every bucket and pruning CANNOT help; what
    // the lane prices is the bucketed path's staging + per-bucket
    // promote overhead at a growing table (the regime where pruning
    // wins, batch << table, is BASELINE.md "Round-11 upsert-layout
    // decades").
    registered("e19b_stream_upsert_bucketed"),
    // the MID-INGEST REBUCKET cadence at factor x keys: the one-time
    // generation rewrite is O(table) by design (what rebucket trades a
    // decade of fat-bucket merges for), so the lane should track e19b
    // plus ~one extra table pass; the checkpoint resume, the _NBUCKETS
    // handoff, and the in-flight guard all ride at factor x state.
    registered("e19c_stream_rebucket"),
    // the transformWithState sessionizer at factor x users: RocksDB
    // value-state cells grow by the factor (one per user) while the
    // replay cadence (8 chunks) stays fixed — the declared big-state
    // migration API soaked on the provider it requires.
    registered("e20_tws_sessionize"),
    // the AS-OF cadence at factor x keys: the mid-feed stitch reads one
    // version per bucket (fixed bucket count, fatter buckets — O(prefix
    // table)), then the keep-1 vacuum and the loud-horizon assertion
    // ride at factor x version sizes; should track e19b minus the
    // second half's merges plus ~one prefix-table read.
    registered("e21_upsert_asof"),
    // the DRIFT cadence at factor x keys: two incarnations over one
    // checkpoint, cross-era mergeSchema merges in the second — should
    // track e19c (same two-drain shape) without the rebucket's one-time
    // table rewrite.
    registered("e22_upsert_drift"),
    // the POINT-LOOKUP cadence at factor x keys: the ingest tracks
    // e19b; the lookup itself must NOT grow with the factor (one
    // bucket's newest version at a fixed bucket count grows linearly,
    // but the lane's in-row plan assertion keeps it ONE directory —
    // the O(bucket)-not-O(table) claim rides into the soak unchanged).
    registered("e23_upsert_point"),
    // the AS-OF POINT-LOOKUP cadence: e23's ingest + single-dir read
    // at a mid-feed version plus e21's keep-1 vacuum and loud-horizon
    // lane — should track e23 plus the vacuum's version sweep; the
    // in-row plan assertion again pins the read to ONE directory at
    // every factor.
    registered("e24_upsert_point_asof"),
    // shifted custkeys: the true distinct count grows by the factor
    // while the sketch output stays m=256 longs — the "registers, not
    // rows, cross the wire" posture measured
    registered("hll1_distinct_sketch"),
    // same replicas: d x w cells stay fixed while the keyed input grows
    registered("cms1_countmin"),
    // shifted-key trade graph grows as disjoint components (bfs1's
    // substrate): sweep 1 stays inside replica 0's component while each
    // round's edge semi-join scans a factor-larger list — the expand-a-
    // seed-over-a-huge-graph posture, doubled
    registered("dia1_double_sweep"),
    // shifted-key orders replicas: the rank machinery's value table and
    // the order-statistic selections both grow by the factor
    registered("mci1_median_ci"),
    registered("tail1_hill_estimator"),
    // ---- the DSv2 store's runtime bucket pruning, measured at scale ----
    // The store is re-bucketed per decade (16 x factor directories — the
    // production move as a store grows) and probed by a CONSTANT id
    // batch (the base corpus's de/n_chars>400 slice, which lives in
    // replica 0 at every scale). The id set touches a bounded bucket
    // set while per-bucket size stays ~constant, so the PRUNED fetch
    // should stay ~FLAT across two decades of store growth. The control
    // runs the identical join with dynamic pruning disabled — it must
    // scan every directory and grow ~linearly. Ordering matters: the
    // control runs FIRST and leaves the conf off; the pruned entry
    // re-enables it (and every other soak query runs with the default).
    "src5_noprune_control" -> ((s: SparkSession, dir: String) => {
      s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      soakStoreFetch(s, dir, factor)
    }),
    "src5_runtime_prune" -> ((s: SparkSession, dir: String) => {
      s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
      soakStoreFetch(s, dir, factor)
    }),
    // ---- adversarial probes for the same pruning path (round-9) ----
    // (a) SKEW: every probe id hashes into buckets {0,1} of the decade's
    // layout — the hot-key shape (one tenant, one shard, one hot
    // memory's neighborhood). src5's near-uniform probe birthday-covers
    // most directories; this one concentrates ALL keys in 2 of nb, so
    // the pruned scan reads ~2 directories (~250 rows) at EVERY decade
    // while the control still reads the whole store. Probe size is
    // ~constant by construction: |ids| = rows * 2/nb = 2000*f * 2/(16f).
    "src6_skew_control" -> ((s: SparkSession, dir: String) => {
      s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      soakSkewFetch(s, dir, factor)
    }),
    "src6_skew_prune" -> ((s: SparkSession, dir: String) => {
      s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
      soakSkewFetch(s, dir, factor)
    }),
    // (b) FALLBACK: the join key is CAST(id AS DOUBLE) on the store
    // side, so no bare scan attribute backs the join key and runtime
    // filtering cannot engage (the same dead-end as an id type outside
    // the mirrored hash set — the documented ignore-fallback). The
    // contract under test: pruning-enabled on this shape costs the SAME
    // as pruning-disabled — the fallback is a plain full scan, not a
    // failed-planning penalty. Lanes should read ≈ equal at every scale.
    "src7_fallback_control" -> ((s: SparkSession, dir: String) => {
      s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "false")
      soakFallbackFetch(s, dir, factor)
    }),
    "src7_fallback" -> ((s: SparkSession, dir: String) => {
      s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
      soakFallbackFetch(s, dir, factor)
    }),
    // ---- sketch family: registers-not-rows, measured (round-9) ----
    // hq1 rides the shifted-key orders replicas: the binning scan grows
    // by the factor while the register array stays 1024 ints and the
    // quantile extraction stays register-bounded. hq2 times the MERGE
    // path at scale: two date slices each factor-larger, two register
    // arrays summed "+", compared bin-for-bin — flat merge cost over a
    // growing corpus is the family's wire-shape claim, measured.
    registered("hq1_hist_quantiles"),
    registered("hq2_hist_merge"))

  /** Fingerprint of the SOURCE tables a derived tmp artifact is built
    * from: every parquet part's (name, length, mtime) under the two
    * tables `Tables.memories` joins. The _SUCCESS marker alone proves a
    * COMPLETE write, not a CURRENT one — if a soak dir is deleted and
    * rebuilt with different data, a surviving store/skew-dim would be
    * silently reused (round-9 advisor finding; the same divergence
    * class the dir-derived stride fix addressed). Driver-local listing,
    * runs once per (dir, nb) outside every timed region. */
  private[graft] def sourceFingerprint(dir: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val md = java.security.MessageDigest.getInstance("MD5")
    for (t <- Seq("documents.parquet", "embeddings.parquet");
         f <- walk(new java.io.File(dir, t)))
      md.update(s"${f.getName}:${f.length}:${f.lastModified}\n"
        .getBytes("UTF-8"))
    md.digest().map("%02x".format(_)).mkString
  }
  private[graft] def isFresh(out: String, fp: String): Boolean = {
    val fpFile = new java.io.File(out, "_GRAFT_SRC_FP")
    new java.io.File(out, "_SUCCESS").exists() && fpFile.exists() &&
      new String(java.nio.file.Files.readAllBytes(fpFile.toPath),
        "UTF-8") == fp
  }
  private[graft] def stampFingerprint(out: String, fp: String): Unit =
    java.nio.file.Files.write(
      new java.io.File(out, "_GRAFT_SRC_FP").toPath, fp.getBytes("UTF-8"))

  /** Bucketed store for a soak dir, written once per (dir, buckets) to
    * the repo tmp (the base fixture dir is read-only). */
  private val soakStores =
    scala.collection.concurrent.TrieMap.empty[(String, Int), String]
  def ensureSoakStore(s: SparkSession, dir: String, nb: Int): String =
    soakStores.getOrElseUpdate((dir, nb), {
      val out = "/root/repo/tmp/soak_store_" +
        dir.replaceAll("[^A-Za-z0-9.]", "_") + s"_$nb"
      // Trust an existing directory only if the parquet commit marker is
      // present AND its source fingerprint matches the current soak dir:
      // a run killed mid-writeBucketed leaves a partial store, and a
      // rebuilt soak dir leaves a stale one — either would silently feed
      // wrong rows (and flattering timings) into the src5 lanes.
      // mode("overwrite") makes the rewrite safe.
      val fp = sourceFingerprint(dir)
      if (!isFresh(out, fp)) {
        operators.MemoryOps.writeBucketed(
          Tables.memories(s, dir), out, "id", nb)
        stampFingerprint(out, fp)
      }
      out
    })

  def soakBucketsFor(factor: Int): Int = 16 * factor

  /** Skew-probe dim for src6: the store ids hashing into buckets {0,1}
    * of the decade's layout (writer arithmetic mirrored exactly), written
    * once per (dir, nb) as a tiny parquet OUTSIDE the timed region so the
    * timed lane joins the same file-scan build side as src5. ~250 ids at
    * every decade — all of them in 2 of nb directories. */
  private val skewDims =
    scala.collection.concurrent.TrieMap.empty[(String, Int), String]
  def ensureSkewDim(s: SparkSession, dir: String, nb: Int): String =
    skewDims.getOrElseUpdate((dir, nb), {
      val out = "/root/repo/tmp/soak_skewdim_" +
        dir.replaceAll("[^A-Za-z0-9.]", "_") + s"_$nb"
      val fp = sourceFingerprint(dir)
      if (!isFresh(out, fp)) {
        Tables.memories(s, dir).select(col("id"))
          .where(graft.operators.MemoryOps.bucketOf("id", nb) < 2)
          .coalesce(1).write.mode("overwrite").parquet(out)
        stampFingerprint(out, fp)
      }
      out
    })

  /** The decade's store frame (written on first touch) and its buckets. */
  private def soakStore(s: SparkSession, dir: String, factor: Int): (DataFrame, Int) = {
    val nb = soakBucketsFor(factor)
    (MemoryBucketSource.load(s, ensureSoakStore(s, dir, nb), nb), nb)
  }

  private def perLabel(df: DataFrame): DataFrame =
    df.groupBy(col("label"))
      .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_id"))

  private[graft] def soakSkewFetch(s: SparkSession, dir: String,
      factor: Int): DataFrame = {
    val (store, nb) = soakStore(s, dir, factor)
    // the trailing filter is a no-op on the data but load-bearing for
    // the plan: Spark's partition-pruning rule only injects a runtime
    // filter when the build side carries a LIKELY-SELECTIVE predicate
    // (src5's dim has lang/n_chars filters; a bare dim scan gets none)
    val dim = s.read.parquet(ensureSkewDim(s, dir, nb))
      .where(col("id") >= 0L)
    perLabel(store.join(dim, "id"))
  }

  private def soakFallbackFetch(s: SparkSession, dir: String,
      factor: Int): DataFrame = {
    val (store, _) = soakStore(s, dir, factor)
    val dim = Tables.documents(s, "/root/testdata/sf0.1")
      .where(col("lang") === "de" && col("n_chars") > 400)
      .select(col("doc_id").cast("double").as("idd"))
    perLabel(store.join(dim, store("id").cast("double") === col("idd")))
  }

  private def soakStoreFetch(s: SparkSession, dir: String,
      factor: Int): DataFrame = {
    val (store, _) = soakStore(s, dir, factor)
    val dim = Tables.documents(s, "/root/testdata/sf0.1")
      .where(col("lang") === "de" && col("n_chars") > 400)
      .select(col("doc_id").as("id"))
    perLabel(store.join(dim, "id"))
  }

  def time(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
           dir: String, runs: Int): (Double, Long) = {
    var rows = 0L
    val t = (1 to runs).map { _ =>
      System.gc()
      // plan-keyed Dataset persists (edge pins) would hand run 2 a cache
      // hit on run 1's derivation — clear so min-of-N times the QUERY
      // (round-8 review finding; outside the timed region)
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      val df = fn(spark, dir)
      rows = df.count() // count forces full evaluation AND records output size
      (System.nanoTime() - t0) / 1e9
    }.min
    (t, rows)
  }

  /** Shuffle partitions sized to the DECADE, not the box: a fixed 32 at
    * the 100x scale hands each sort-merge-join task a ~2M-row sort whose
    * sorter pages + pointer arrays (x32 concurrent tasks, x2 join sides)
    * exhaust the unified memory pool — the second half of the kc1 100x
    * OOM mechanism (round 8; the first half was the row-object edge pin,
    * fixed in KCore). `cpus` at 1x/10x preserves comparability with every
    * soak recorded before round 8 (all ran SPARK_GRAFT_CPUS=32); 10x
    * that at 100x puts ~200k rows in a shuffle partition — the same
    * "partitions sized so tasks fit in memory" rule a production
    * deployment applies as data grows. */
  def shufflePartitionsFor(factor: Int): Int =
    GraftSession.cpus * math.max(1, factor / 10)

  private[graft] def soakSession(): SparkSession = {
    val spark = GraftSession()
    // every soak recorded in BASELINE.md ran 16 MB splits over its 10-100x replicas
    spark.conf.set("spark.sql.files.maxPartitionBytes", 16L * 1024 * 1024)
    spark
  }

  def main(args: Array[String]): Unit = {
    val factors = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(10, 100)
    val baseDir = "/root/testdata/sf0.1"
    val spark = soakSession()
    val dirs: Seq[(Int, String)] = (1, baseDir) +: factors.map { f =>
      val d = s"/root/repo/tmp/soak$f"
      buildSoak(spark, baseDir, d, f)
      (f, d)
    }
    spark.read.parquet(s"$baseDir/region.parquet")
      .write.format("noop").mode("overwrite").save()
    val names = soakQueries(1).map(_._1)
    val only = sys.env.get("SPARK_GRAFT_SOAK_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = names.filter(n => only.forall(_.exists(n.startsWith)))
    // the store fetch lanes time the PROBE, not the one-off store (or
    // skew-dim) write: materialize every (dir, buckets) artifact before
    // any clock starts
    if (selected.exists(n => n.startsWith("src5") || n.startsWith("src6") ||
        n.startsWith("src7")))
      dirs.foreach { case (f, d) => ensureSoakStore(spark, d, soakBucketsFor(f)) }
    if (selected.exists(_.startsWith("src6")))
      dirs.foreach { case (f, d) => ensureSkewDim(spark, d, soakBucketsFor(f)) }
    // warm every stride memo outside the timed regions (4 tiny aggs/dir)
    dirs.foreach { case (f, d) =>
      docStride(spark, d, f); orderStride(spark, d, f)
      embStride(spark, d, f); partFence(spark, d)
    }
    val results = selected.map { name =>
      val perScale = dirs.filter(_._1 <= maxFactor(name)).map { case (f, dir) =>
        // tasks sized to the decade, not the box (see shufflePartitionsFor)
        spark.conf.set("spark.sql.shuffle.partitions", shufflePartitionsFor(f))
        val fn = soakQueries(f).find(_._1 == name).get._2
        val runs = if (f >= 100) 1 else 2
        val (t, n) = time(spark, fn, dir, runs)
        println(f"[soak] $name%-20s x$f%-4d $t%8.2f s  ($n rows)")
        (f, t, n)
      }
      name -> perScale
    }
    val js = results.map { case (name, xs) =>
      val inner = xs.map { case (f, t, n) =>
        f""""x$f":{"sec":$t%.2f,"rows":$n}"""
      }.mkString(",")
      s""""$name":{$inner}"""
    }.mkString(",")
    println(s"""{"metric":"soak","queries":{$js}}""")
    spark.stop()
  }
}

/** Dev main: lnk1's hot-neighbor wedge guard on a GENUINELY skewed graph
  * (the unfinished half of round-6 ask #3). The planted-hub UNIT test
  * (Queries31Spec) proves the cap's semantics; this soak proves the
  * BOUND at scale: a near-universal neighbor is planted into the 10x
  * re-disjointed co-purchase graph (one part bought by every 8th
  * customer — deg ~ 19k against the organic max of ~53), and the capped
  * and uncapped runs are timed side by side with their wedge counts.
  *
  * The wedge counts come from the degree table (Σ C(deg, 2) — the exact
  * row count of the self-join's a1 < a2 output), so the blowup is
  * reported analytically AND paid for real in the uncapped timing. The
  * capped run must also equal the unplanted graph's output exactly: the
  * guard drops the hub before the join, and a deg-19k neighbor carries
  * AA weight 1/ln(19k) ≈ 0.10 — the approximate-by-omission contract.
  *
  * Usage: runMain graft.SoakHub [factor] (default 10)
  */
object SoakHub {
  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(10)
    val baseDir = "/root/testdata/sf0.1"
    val spark = Soak.soakSession()
    spark.conf.set("spark.sql.shuffle.partitions",
      Soak.shufflePartitionsFor(factor))
    val dir = s"/root/repo/tmp/soak$factor"
    Soak.buildSoak(spark, baseDir, dir, factor)
    val cap = Queries31.LnkMaxNeighborDeg
    // the same re-disjointed co-purchase pairs as Soak's lnk1 entry
    val ordMax = Tables.orders(spark, baseDir)
      .agg(max("o_orderkey")).head().getLong(0) + 1
    val partMax = Tables.lineitem(spark, baseDir)
      .agg(max("l_partkey").cast("long")).head().getLong(0) + 1
    val organic = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        (col("l_partkey").cast("long") +
          floor(col("l_orderkey") / lit(ordMax)).cast("long") * lit(partMax))
          .as("bb"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("a"), col("bb").as("b"))
      .distinct()
      .localCheckpoint(true) // consumed by both runs + the audit
    val hub = organic.select(col("a")).distinct()
      .where(pmod(col("a"), lit(8)) === 0)
      .select(col("a"), lit(-1L).as("b"))
    val skewed = organic.unionByName(hub).localCheckpoint(true)
    // the audit companion: what does the cap drop? (expect exactly the hub)
    val dropped = operators.LinkPredict.droppedNeighbors(skewed, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // analytic wedge counts Σ C(deg, 2): the self-join's exact output size
    val deg = skewed.groupBy(col("b")).agg(count(lit(1)).as("deg"))
      .localCheckpoint(true)
    def wedges(d: DataFrame): Long = d
      .agg(sum((col("deg") * (col("deg") - 1) / 2).cast("long"))).head().getLong(0)
    val wUncapped = wedges(deg)
    val wCapped = wedges(deg.where(col("deg") <= cap))
    def timeCount(df: => DataFrame): (Double, Long) = {
      System.gc()
      val t0 = System.nanoTime()
      val n = df.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val (tCap, nCap) = timeCount(
      operators.LinkPredict.adamicAdar(skewed, Queries31.LnkMinCommon, cap))
    val (tUncap, nUncap) = timeCount(
      operators.LinkPredict.adamicAdar(skewed, Queries31.LnkMinCommon))
    // the guard's exactness-by-omission check: capped == unplanted graph
    val (tOrganic, nOrganic) = timeCount(
      operators.LinkPredict.adamicAdar(organic, Queries31.LnkMinCommon, cap))
    val droppedJs = dropped.map { case (b, d) => s"""{"b":$b,"deg":$d}""" }
      .mkString("[", ",", "]")
    println(s"""{"metric":"soak_hub","factor":$factor,"cap":$cap,""" +
      s""""dropped":$droppedJs,""" +
      s""""wedges_capped":$wCapped,"wedges_uncapped":$wUncapped,""" +
      f""""capped_sec":$tCap%.2f,"capped_rows":$nCap,""" +
      f""""uncapped_sec":$tUncap%.2f,"uncapped_rows":$nUncap,""" +
      f""""organic_sec":$tOrganic%.2f,"organic_rows":$nOrganic}""")
    spark.stop()
  }
}
