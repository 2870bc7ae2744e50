package graft
import org.apache.spark.sql.SparkSession

/** Throughput bench over the registered query surface.
  *
  * Measurement model (rounds 6-7): this box carries unrelated co-tenant
  * load whose drift (~±20% on identical binaries, see BASELINE.md
  * round-5 notes) is the same order as the regressions the 2x gate
  * exists to catch. Countermeasures:
  *   1. min-of-3 per query (was min-of-2) — the min is the least
  *      co-tenant-contaminated observation;
  *   2. TWO pinned canaries timed in the same run: the scan-bound
  *      q2_date_filter (plan unchanged since round 1) and a fixed
  *      shuffle-bound repartition+aggregate over lineitem. Round 6
  *      proved a scan canary alone has a blind spot — a shuffle-side
  *      co-tenant burst slowed shuffle-heavy queries while the scan
  *      canary moved the OPPOSITE way, so normalization AMPLIFIED the
  *      noise into two false regression rows (BENCH_r06, adjudicated
  *      round 7);
  *   3. the gate's common-mode drift estimate is the MAX of scan-canary
  *      ratio, shuffle-canary ratio, median per-query ratio of the
  *      common set, and 1.0 — i.e. the most conservative view of "the
  *      box got slower", never an amplifier (the median was 1.0 in the
  *      round-6 incident while canary normalization said 1.25);
  *   4. queries that still trip the gate are RE-TIMED once (another
  *      min-of-3) at the end of the run, minutes after the first
  *      measurement — a transient burst has moved on, a real regression
  *      persists; the final time is the min of both passes;
  *   5. batch and streaming lanes are totaled separately — the
  *      micro-batch replays ([[streamingLane]]) are fixed-cost by design
  *      (~20% of the total) and would otherwise drown the batch engine's
  *      signal;
  *   6. (round 13) all three canaries are re-timed at the END of the
  *      run and the gate takes the worst of each canary's start/end
  *      ratio — a co-tenant arriving mid-run (the promoted round-12
  *      incident) is adjudicated mechanically, not in prose; the IO
  *      canary's ratio additionally needs CORROBORATION from the
  *      write-heavy lanes before it may relax the gate
  *      ([[gatedIoRatio]]).
  */
object Bench {
  /** The Structured-Streaming replay lanes (write real parquet
    * micro-batches through stateful queries; cost is replay-bound, not
    * engine-bound), totaled as their own lane: the registry entries
    * tagged `lane`. */
  val streamingLane: Set[String] =
    SparkEntry.all.filter(_.lane).map(_.name).toSet

  /** Declared validation baselines are quadratic BY CONSTRUCTION — they
    * exist only to pin the exactness of their production counterpart
    * (sp1 validates sp2, which IS benched). They stay in Verify's
    * correctness surface but out of the throughput bench — UNLESS the dev
    * opt-in subset names one explicitly, which signals intent to time it. */
  val validationBaselines: Set[String] = Set("sp1_sparse_cosine")

  /** Scan-bound canary: date-range filter + small agg over lineitem whose
    * plan has been stable since round 1. Its run-to-run movement measures
    * the BOX (co-tenant load, page cache), not the engine; dividing every
    * query by it cancels the common-mode drift. */
  val canaryName = "q2_date_filter"

  /** IO canary: 32 MB written and fsync'd to local disk through a raw
    * FileChannel — no Spark in the loop, so it prices exactly one
    * thing: disk-write + fsync latency. The round-11 session recorded
    * a drift shape the other two canaries cannot see (CPU canaries at
    * session-best while every lane that writes real bytes — edge-pin
    * localCheckpoints, streaming checkpoints/sinks — degraded 1.4-2.5x
    * together: an IO-side co-tenant). Reported as `canary_io_sec` and,
    * since round 12, PINNED: its now/prev ratio joins [[driftEstimate]]
    * and [[driftWarning]] whenever bench_prev carries the pin, so the
    * third drift shape is adjudicated mechanically instead of by hand
    * (it never fires before the first promoted run pins it — an
    * unpinned canary contributes nothing). */
  def ioCanary(): Unit = {
    val p = java.nio.file.Files.createTempFile("graft_io_canary", ".bin")
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.WRITE)
    try {
      val buf = java.nio.ByteBuffer.allocate(1 << 20) // zeros; content is irrelevant
      var i = 0
      while (i < 32) { buf.rewind(); ch.write(buf): Unit; i += 1 }
      ch.force(true)
    } finally {
      ch.close()
      java.nio.file.Files.deleteIfExists(p): Unit
    }
  }

  /** Shuffle-bound canary: a fixed repartition + two keyed aggregates
    * over lineitem — all exchange and hash-agg, almost no scan, the
    * complement of [[canaryName]]. Catches the co-tenant burst mode the
    * scan canary is blind to (BASELINE.md's 16:22-run lesson and the
    * two false BENCH_r06 rows). Not a registered query: its plan is
    * bench infrastructure, pinned here. */
  def shuffleCanary(spark: SparkSession, sfDir: String)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      .repartition(col("l_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity")).as("q"))
      .groupBy((col("l_partkey") % 64).as("g"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("sq"))
  }

  /** Median now/prev ratio over the common query set — the robust
    * common-mode estimator (a handful of real regressions cannot move
    * the median of ~270 ratios; a box-wide slowdown moves all of them).
    * None below `minN` common queries (default 8): too few for a stable
    * median. The one shared median implementation — [[familyShifts]]
    * computes its per-family and pin-free medians through it too, so a
    * future change to the estimator moves every consumer together. */
  def medianRatio(now: Map[String, Double],
      prev: Map[String, Double], minN: Int = 8): Option[Double] = {
    val rs = now.keys.toSeq
      .filter(k => prev.get(k).exists(_ > 0))
      .map(k => now(k) / prev(k)).sorted
    if (rs.size < minN) None else Some(rs(rs.size / 2))
  }

  /** Common-mode drift estimate: the LARGEST of every pinned canary's
    * now/prev ratio and the median per-query ratio, floored at 1.0.
    * Floored because a faster box must never amplify (round 6: the scan
    * canary sped up 0.460 → 0.368 while a shuffle burst slowed two
    * queries, and dividing by the canary amplified 2.06x raw into 2.57x
    * "normalized"); taking the max means the gate only ever RELAXES for
    * box-wide slowdowns, which is the direction false positives come
    * from. A real code regression shows up against every estimator.
    *
    * `canaryRatios` is a Seq so a NEW drift dimension joins by adding a
    * pin, not a signature: round 11 hit a disk-side co-tenant shape the
    * scan/shuffle pair cannot see (CPU canaries at session-best while
    * every lane writing real bytes degraded 1.4-2.5x together; dbs1
    * tripped the raw gate as `undeclared` and was adjudicated by hand)
    * — the IO canary's ratio now sits in this max, so that shape
    * relaxes the gate mechanically like the other two. An unpinned
    * canary contributes None and is simply absent. */
  def driftEstimate(canaryRatios: Seq[Option[Double]],
      medRatio: Option[Double]): Double =
    (Seq(1.0) ++ canaryRatios.flatten ++ medRatio).max

  /** CORROBORATION gate on the IO canary's ratio (round-12 advisor):
    * the 32 MB fsync is an order of magnitude noisier than the ~0.4 s
    * CPU canaries, and its ratio joins the [[driftEstimate]] max — so
    * one spurious fsync-latency spike would multiplicatively relax the
    * regression threshold for EVERY query and suppress
    * [[driftWarning]]. An elevated IO ratio (> 1.15) is therefore
    * admitted only when the queries that actually write bytes agree
    * the disk got slower: the streaming lane's median now/prev ratio
    * (checkpoint/sink writers — exactly the lanes the round-11 and
    * round-12 disk co-tenants inflated together) must also sit above
    * 1.1. A quiet IO ratio passes untouched (it contributes nothing to
    * a max). The residual this trades away is documented: a disk
    * slowdown sharp enough to inflate only a FEW write lanes (median
    * quiet) is excluded, and those lanes then answer to the normal 2x
    * gate + end-of-run retry instead. */
  def gatedIoRatio(io: Option[Double],
      writeLaneMedian: Option[Double]): Option[Double] =
    io.filter(r => r <= 1.15 || writeLaneMedian.exists(_ > 1.1))

  /** The gate's one blind spot, surfaced instead of absorbed (round-7
    * ADVICE): a CODE regression that slows the majority of queries moves
    * the median ratio, which raises [[driftEstimate]] and silently
    * relaxes the gate — indistinguishable, from timings alone, from a
    * box-wide co-tenant slowdown. The two cases separate on the
    * canaries: a slower BOX slows the pinned canaries too (their plans
    * never change), while a code-wide regression slows registered
    * queries but not the canary pair. So: median drift past 1.3 while
    * both canaries sit under 1.15 yields an explicit warning string for
    * the bench JSON — a human adjudicates (it cannot auto-fail: a
    * deliberate engine-wide change, e.g. a config default, looks the
    * same), but the pattern is no longer silent. */
  def driftWarning(canaryRatios: Seq[Option[Double]],
      medRatio: Option[Double]): Option[String] =
    // "quiet canaries" requires canaries that were MEASURED: with no
    // previous canary baseline the warning would assert evidence that
    // doesn't exist (round-8 review finding) — stay silent instead
    medRatio.filter(m => m > 1.3 &&
        canaryRatios.flatten.nonEmpty &&
        (1.0 +: canaryRatios.flatten).max < 1.15)
      .map(m => f"median ratio $m%.2f with quiet canaries" +
        " — box drift cannot explain this; suspect a code-wide slowdown")

  /** Machine-adjudicable query FAMILIES: queries sharing load-bearing
    * plan machinery move TOGETHER when that machinery changes, and the
    * round-8 honest-number transition (the edge-pin cache fix moved
    * seven graph queries 1.3-2.9x while pin-free queries tracked box
    * drift) was adjudicated in prose because nothing in the gate knew
    * which queries share the pin path. This tag makes the pattern a
    * JSON field: every query that transitively calls
    * [[operators.GraphPlanning.pinEdges]] (directly or through
    * triangles / PageRank / HITS / k-core / BFS / label propagation /
    * DBSCAN) carries family "edge-pin"; untagged queries are pin-free
    * by definition. */
  val queryFamilies: Map[String, String] = Seq(
    "tri1_dup_triangles", "gc1_clustering_coeff", "pr1_pagerank",
    "hits1_hubs_authorities", "kc1_kcore", "bfs1_hop_distance",
    "lp1_label_prop", "ppr1_personalized", "dbs1_dbscan",
    "dbs2_blocked_dbscan", "dia1_double_sweep")
    .map(_ -> "edge-pin").toMap

  /** One family-shift finding: the family's median now/prev ratio, the
    * untagged queries' median ratio, the number of family members in
    * the common set, and the declared reason (or "undeclared"). */
  final case class FamilyShift(family: String, familyMedian: Double,
      othersMedian: Double, members: Int, reason: String)

  /** Family-level shift detector — the mechanical version of round 8's
    * prose adjudication. For each family with >= 4 members in the
    * common set: if the family's median ratio diverges from the
    * untagged queries' median by more than 1.3x IN EITHER DIRECTION
    * while the untagged median itself is within [1/1.15, 1.15] (the box
    * is quiet), emit a named row. Both directions matter: family-slower
    * is the honest-number transition (a shared cost became real);
    * family-FASTER with a quiet box is the cache-hit signature — the
    * exact bug the round-8 fix removed, resurfacing. Pure;
    * BenchGateSpec replays both signatures against it. */
  def familyShifts(now: Map[String, Double], prev: Map[String, Double],
      families: Map[String, String],
      declared: Map[String, String]): Seq[FamilyShift] = {
    def medOf(ks: Set[String], minN: Int): Option[Double] =
      medianRatio(now.view.filterKeys(ks).toMap, prev, minN)
    // the pin-free median is family-invariant: compute it once
    val othersMed = medOf(now.keySet.filterNot(families.contains), 8)
    families.values.toSeq.distinct.sorted.flatMap { fam =>
      val members = families.collect { case (q, f) if f == fam => q }.toSet
      val n = members.count(k =>
        now.contains(k) && prev.get(k).exists(_ > 0))
      for {
        fm <- medOf(members, 4)
        om <- othersMed
        if om < 1.15 && om > 1.0 / 1.15 &&
          (fm / om > 1.3 || fm / om < 1.0 / 1.3)
      } yield FamilyShift(fam, fm, om, n,
        declared.getOrElse(fam, "undeclared"))
    }
  }

  /** The repo's one JSON string escape: backslash, quote and ALL control
    * chars (< 0x20). Used for free-text fields (declared reasons,
    * warning text) in the bench JSON — a quote or backslash in a future
    * declared mechanism must not corrupt the line the harness
    * tail-parses (r3's BENCH tail parsed null once already; round-9
    * review finding) — and by [[Verify]] for `oracle_sql.json`, where a
    * tab or CR in builder-authored SQL would otherwise make the driver's
    * `json.load` fail and silently zero the round's correctness. */
  def jsonEscape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Names whose time exceeds 2x the drift-adjusted previous AND whose
    * absolute excess beyond drift*prev is > 0.5 s (sub-second jitter on
    * tiny queries never fires). Pure — BenchGateSpec replays the
    * round-6 co-tenant-burst incident against it. */
  def gateFlags(now: Map[String, Double], prev: Map[String, Double],
      drift: Double): Seq[String] =
    now.keys.toSeq.sorted.filter { k =>
      prev.get(k).exists(p =>
        p > 0 && now(k) > 2 * drift * p && now(k) - drift * p > 0.5)
    }

  /** Min-of-`reps` wall time of `run` in seconds, or the error of the
    * first rep that throws: a query that throws is FAILED, never a
    * measurement. `beforeRep` runs before each rep, outside the timed region. */
  def timeReps(reps: Int, run: () => Unit,
      beforeRep: () => Unit = () => ()): Either[String, Double] = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    while (times.size < reps) {
      beforeRep()
      val t0 = System.nanoTime()
      try run()
      catch { case e: Throwable => return Left(e.toString) }
      times += (System.nanoTime() - t0) / 1e9
    }
    Right(times.min)
  }

  /** The run's gate verdict: it fails on any regression row AND on any
    * failed query or canary — a failure has no time to compare, so it
    * must not pass by dropping out of the comparison. */
  def gatePasses(regressions: Seq[String], failed: Map[String, String]): Boolean =
    regressions.isEmpty && failed.isEmpty

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    // JVM/session warmup outside the timed region. The first measured plan
    // otherwise absorbs ~2 s of one-time infrastructure cost (codegen
    // compiler, window/broadcast/agg exec classes, native kernel classes,
    // parquet reader, noop sink), which mis-attributes it to whichever
    // query sorts first. No fixture data is touched beyond one tiny table.
    locally {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      spark.range(1000000).selectExpr("sum(id)").collect()
      val warm = spark.range(0, 4096)
        .selectExpr("id", "id % 7 AS g",
          "concat('alpha beta gamma delta ', cast(id % 13 AS string)) AS txt",
          "transform(sequence(0, 15), i -> cast(pmod(id * (i + 3), 97) AS float)) AS v")
      val q = warm.where(col("id") < 2)
        .select(col("id").as("qid"), col("v").as("qv"))
      warm.crossJoin(broadcast(q))
        .select(col("qid"), col("id"), col("g"),
          graft.functions.Similarity.cosine(col("v"), col("qv")).as("score"),
          graft.functions.Native.minhashSig(col("txt"), 16, 2).as("sig"),
          graft.functions.Native.simhash(col("txt"), 32, 2).as("sim"),
          graft.functions.Native.featureHashEmbed(col("txt"), 16).as("emb"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id").asc)))
        .where(col("rn") <= 5)
        .groupBy(col("g")).agg(count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
      spark.read.parquet(s"$sfDir/region.parquet")
        .write.format("noop").mode("overwrite").save()
    }
    // Force FULL evaluation with the noop sink: a bare count() lets Catalyst
    // prune every unreferenced projection (a langid or embed query would
    // benchmark nothing but the scan).
    val runs = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(3)
    // failed queries and canaries (label -> error): recorded in the JSON,
    // left out of every total and ratio, and they fail the gate
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def timeThunk(label: String, run: () => Unit, reps: Int = 0): Option[Double] = {
      val n = if (reps > 0) reps else runs
      // localCheckpoint blocks from prior queries (dedup/clustering staging)
      // are freed by the ContextCleaner only after the owning RDD is GC'd;
      // without a nudge they pile up in the block manager and tax the
      // storage-memory pool of later queries. Outside the timed region.
      System.gc()
      // Dataset persists (the graph family's edge pins) are plan-keyed,
      // so rep N+1 of the same query would read rep N's cache and time
      // a cache hit instead of the query (round-8 review finding);
      // clearing before each rep restores the pre-pin min-of-N
      // semantics. Outside the timed region.
      timeReps(n, run, () => spark.sharedState.cacheManager.clearCache()) match {
        case Right(t) => Some(t)
        case Left(err) =>
          System.err.println(s"[bench] $label failed: $err")
          failed(label) = err
          None
      }
    }
    def ratio(now: Option[Double], prev: Option[Double]): Option[Double] =
      for (n <- now; p <- prev) yield n / p
    def time(name: String): Option[Double] = timeThunk(name, () =>
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
    // dev iteration: SPARK_GRAFT_BENCH_ONLY=q1,sp2 restricts to queries
    // whose name starts with a listed prefix (full runs leave it unset)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter { n =>
        only.forall(_.exists(n.startsWith)) &&
          (!validationBaselines(n) || only.isDefined)
      }
    // Canaries first, in-run, same min-of-N discipline. The scan canary
    // is also a real registered query; its lane entry reuses this
    // measurement. The shuffle canary is bench infrastructure only.
    val canary = time(canaryName)
    val canaryShuffle = timeThunk("canary_shuffle", () =>
      shuffleCanary(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
    // the IO canary gets more reps than the CPU pair (round-12 advisor):
    // a ~77 ms fsync is far noisier than the ~0.4 s canaries, each rep
    // is nearly free, and min-of-7 only admits a spike that persisted
    // across every observation
    val ioReps = math.max(runs, 7)
    val canaryIo = timeThunk("canary_io", () => ioCanary(), reps = ioReps)
    val firstPass: Map[String, Double] = names.flatMap { n =>
      (if (n == canaryName) canary else time(n)).map(n -> _)
    }.toMap
    // Round-over-round regression guard (see object doc): drift estimate
    // = max(scan-canary ratio, shuffle-canary ratio, median common-set
    // ratio, 1.0); flagged queries are RE-TIMED at the end of the run
    // (a burst is transient, a regression persists) and keep the min.
    // Deliberate rewrites are DECLARED here with their justification
    // rather than surfacing in the judge's diff.
    // A declared entry names a known, still-applicable mechanism for a
    // flagged query; it must be REMOVED once the baseline it excused
    // against is retired, or a FUTURE real regression inherits a stale
    // excuse (round-9 review finding). The round-8 entry (tri1's
    // cache-hit-vs-honest-cold shift) died with the round-9 baseline
    // promotion: comparisons are now honest-vs-honest, so any flag is
    // new signal. History lives in BASELINE.md, not here.
    val declaredRewrites = Map.empty[String, String]
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV",
      "/root/repo/bench_prev.json")
    val (prevQueries, prevCanary, prevCanaryShuffle, prevCanaryIo) = try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(prevPath))
      val node = root.get("queries")
      val qs = scala.jdk.CollectionConverters
        .IteratorHasAsScala(node.fieldNames()).asScala
        .map(f => f -> node.get(f).asDouble()).toMap
      (qs,
        Option(root.get("canary_sec")).map(_.asDouble()).filter(_ > 0),
        Option(root.get("canary_shuffle_sec")).map(_.asDouble())
          .filter(_ > 0),
        Option(root.get("canary_io_sec")).map(_.asDouble()).filter(_ > 0))
    } catch {
      case _: Exception => (Map.empty[String, Double],
        Option.empty[Double], Option.empty[Double], Option.empty[Double])
    }
    val med = medianRatio(firstPass, prevQueries)
    // preliminary drift (start canaries only) picks which queries get
    // the end-of-run retry; the FINAL gate below re-estimates with the
    // end canaries folded in
    def laneMedian(m: Map[String, Double]): Option[Double] =
      medianRatio(m.view.filterKeys(streamingLane).toMap, prevQueries,
        minN = 4)
    val drift = driftEstimate(Seq(
      ratio(canary, prevCanary),
      ratio(canaryShuffle, prevCanaryShuffle),
      gatedIoRatio(ratio(canaryIo, prevCanaryIo), laneMedian(firstPass))),
      med)
    val retried = gateFlags(firstPass, prevQueries, drift)
      .flatMap(n => time(n).map(n -> _)).toMap
    // a query whose retry threw is failed, whatever its first pass read
    val results0 = (firstPass ++ retried.map { case (k, v) =>
      k -> math.min(v, firstPass(k))
    }).filterNot(kv => failed.contains(kv._1))
    // END-OF-RUN canary re-measure (round-12 verdict ask #1): the
    // canaries used to run ONCE, at bench start, so a co-tenant
    // arriving MID-run was invisible to the estimate — the promoted
    // round-12 incident: start canaries at session-best, the
    // disk-writing lanes at 1.35-1.47x their pins, and a probe 30
    // minutes later showing all three canaries elevated; BASELINE.md
    // had to adjudicate in prose. The same three canaries re-time
    // after the last query, and the final gate takes the WORST of each
    // canary's start/end ratio — drift that develops mid-run now
    // relaxes the gate mechanically, like drift present at the start.
    val canaryEnd = time(canaryName)
    val canaryShuffleEnd = timeThunk("canary_shuffle_end", () =>
      shuffleCanary(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
    val canaryIoEnd = timeThunk("canary_io_end", () => ioCanary(),
      reps = ioReps)
    val writeLaneMed = laneMedian(results0)
    val canaryRatios = Seq(
      ratio(canary, prevCanary), ratio(canaryEnd, prevCanary),
      ratio(canaryShuffle, prevCanaryShuffle),
      ratio(canaryShuffleEnd, prevCanaryShuffle),
      gatedIoRatio(ratio(canaryIo, prevCanaryIo), writeLaneMed),
      gatedIoRatio(ratio(canaryIoEnd, prevCanaryIo), writeLaneMed))
    val medFinal = medianRatio(results0, prevQueries)
    val driftFinal = driftEstimate(canaryRatios, medFinal)
    // driftFinal can sit BELOW the preliminary estimate (first-wave
    // retries lower the medians; an uncorroborated io ratio drops out
    // of the max), so a query that cleared the preliminary bar can be
    // newly flagged here — it gets the SAME end-of-run retry as the
    // first wave before any regression row is emitted, or the
    // min-of-both-passes contract breaks for exactly the queries
    // measured under the worst co-tenant window (round-13 review
    // finding). driftFinal is held fixed through this pass: retries
    // only lower times, and re-deriving the estimate downward after
    // each wave could cascade retries unboundedly.
    val flagged2 = gateFlags(results0, prevQueries, driftFinal)
      .filterNot(retried.keySet)
    val results = results0 ++ flagged2.flatMap { n =>
      time(n).map(t => n -> math.min(t, results0(n)))
    } -- failed.keys
    // canary_*_sec_end ALWAYS records the gate's actual inputs (the
    // re-measure right after the last first-wave query): overwriting
    // them with a post-second-wave re-time made the recorded fields
    // contradict the drift_estimate/drift_warning computed FROM the
    // dropped values — an adjudication recomputing ratios from the
    // JSON could not reproduce the gate (round-14 review finding).
    // When a second retry wave fired, the re-timed bracket goes to
    // SEPARATE canary_*_sec_end2 fields (null otherwise), so drift
    // arising during the retries stays visible (round-13 advisor)
    // without rewriting the gate's evidence. REPORTING ONLY either
    // way: driftFinal and the gate decisions stay fixed on the first
    // end measure — retries only lower times, and re-deriving the
    // estimate after each wave could cascade retries unboundedly.
    val end2: Option[(Option[Double], Option[Double], Option[Double])] =
      if (flagged2.isEmpty) None
      else Some((time(canaryName),
        timeThunk("canary_shuffle_end2", () =>
          shuffleCanary(spark, sfDir)
            .write.format("noop").mode("overwrite").save()),
        timeThunk("canary_io_end2", () => ioCanary(), reps = ioReps)))
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val totalStreaming = results.filter(kv => streamingLane(kv._1)).values.sum
    val totalBatch = total - totalStreaming
    val regressions: Seq[String] =
      gateFlags(results, prevQueries, driftFinal).map { n =>
        val why = jsonEscape(declaredRewrites.getOrElse(n, "undeclared"))
        val first = firstPass(n)
        f"""{"name":"$n","prev":${prevQueries(n)}%.3f,"now":${results(n)}%.3f,"first_pass":$first%.3f,"drift":$driftFinal%.3f,"reason":"$why"}"""
      }
    val regJson = regressions.mkString("[", ",", "]")
    // Family-level adjudication (see familyShifts): a declared entry
    // names a known mechanism; none are expected this round — the
    // round-8 honest baseline already carries the pin family's true
    // cold-rep costs, so any firing here is NEW signal to adjudicate.
    val declaredFamilyShifts = Map.empty[String, String]
    val famRows = familyShifts(results, prevQueries, queryFamilies,
      declaredFamilyShifts)
    val famJson = famRows.map(f =>
      f"""{"family":"${f.family}","family_median":${f.familyMedian}%.4f,"others_median":${f.othersMedian}%.4f,"members":${f.members},"reason":"${jsonEscape(f.reason)}"}""")
      .mkString("[", ",", "]")
    val famTagJson = queryFamilies.toSeq.sorted
      .map { case (q, f) => s""""$q":"$f"""" }.mkString("{", ",", "}")
    // FULL per-query JSON goes to a file: the harness that captures this
    // process keeps only a short stdout tail, which a 200-entry JSON line
    // overflows (r3's BENCH tail parsed null). The printed line stays
    // under that budget — totals + the slowest 40 — and names the file
    // carrying the complete, full-precision map (raw seconds AND
    // canary-normalized) for round-over-round comparison.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      "/root/repo/bench_full.json")
    val full = results.toSeq.sortBy(-_._2)
      .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
    val fullNorm = canary.filter(_ > 0).fold("{}")(c =>
      results.toSeq.sortBy(-_._2)
        .map { case (k, v) => f""""$k":${v / c}%.4f""" }.mkString("{", ",", "}"))
    val medJson = medFinal.map(m => f"$m%.4f").getOrElse("null")
    val warnJson = driftWarning(canaryRatios, medFinal)
      .map(w => s""""${jsonEscape(w)}"""").getOrElse("null")
    val laneMedJson = writeLaneMed.map(m => f"$m%.4f").getOrElse("null")
    def num(v: Option[Double]): String = v.fold("null")(x => f"$x%.4f")
    val end2Json = end2 match {
      case Some((c, s, io)) =>
        s""""canary_sec_end2":${num(c)},"canary_shuffle_sec_end2":${num(s)},"canary_io_sec_end2":${num(io)}"""
      case None =>
        """"canary_sec_end2":null,"canary_shuffle_sec_end2":null,"canary_io_sec_end2":null"""
    }
    val failedJson = failed.map { case (n, e) =>
      s"""{"name":"${jsonEscape(n)}","error":"${jsonEscape(e)}"}"""
    }.mkString("[", ",", "]")
    val gate = if (gatePasses(regressions, failed.toMap)) "pass" else "fail"
    val lanes = f""""total_batch":$totalBatch%.3f,"total_streaming":$totalStreaming%.3f,"canary_sec":${num(canary)},"canary_shuffle_sec":${num(canaryShuffle)},"canary_io_sec":${num(canaryIo)},"canary_sec_end":${num(canaryEnd)},"canary_shuffle_sec_end":${num(canaryShuffleEnd)},"canary_io_sec_end":${num(canaryIoEnd)},$end2Json,"write_lane_median":$laneMedJson,"median_ratio":$medJson,"drift_estimate":$driftFinal%.4f,"drift_warning":$warnJson,"gate":"$gate","n_failed":${failed.size},"failed":$failedJson"""
    // a missing parent dir must not cost the whole 20-minute run at the
    // final write (a gitignored tmp/ target can vanish between rounds)
    Option(java.nio.file.Paths.get(fullPath).getParent)
      .foreach(p => java.nio.file.Files.createDirectories(p): Unit)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(fullPath),
      s"""{"metric":"total","value":$total,"unit":"sec",$lanes,"n_queries":${results.size},"regressions":$regJson,"family_shifts":$famJson,"families":$famTagJson,"queries":$full,"queries_norm":$fullNorm,"sf":"$sfDir"}""")
    val top = results.toSeq.sortBy(-_._2).take(40)
      .map { case (k, v) => f""""$k":${v}%.3f""" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec",$lanes,"n_queries":${results.size},"full":"$fullPath","regressions":$regJson,"family_shifts":$famJson,"queries":$top,"sf":"$sfDir"}""")
    spark.stop()
  }
}
