package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared planning constants for the iterative graph operators
  * ([[PageRank]], [[Hits]]). */
private[graft] object GraphPlanning {

  /** Pin a STATIC data-sized frame (an edge or pair list consumed by
    * every iteration) with a columnar Dataset-level persist instead of
    * an RDD-level localCheckpoint. localCheckpoint stores one
    * deserialized row object per edge (~100 B against a 16 B payload),
    * and at the 100x soak scale the 32 concurrent unroll buffers of
    * that caching pass starve the hash aggregates sharing the stage —
    * the kc1 OOM mechanism named in round 8 (BASELINE.md). Columnar
    * batches are ~6x smaller, spill gracefully, and the lineage CUT
    * the checkpoint also provides is unnecessary here: a static pin's
    * lineage never grows (only per-round, re-assigned frames need the
    * cut, and they stay on localCheckpoint).
    *
    * LIFETIME: unlike localCheckpoint blocks (reclaimed by the
    * ContextCleaner once unreachable), a Dataset persist is held by the
    * CacheManager until explicit unpersist — pinned frames would
    * accumulate for the whole session across the hundreds of queries a
    * verify/bench/soak run executes (round-8 review finding). Operators
    * whose RESULT no longer references the pin call [[unpin]] on exit;
    * the two whose lazy return still reads it (triangles, DBSCAN's
    * symmetrized pairs) are covered by a bounded FIFO pool: at most
    * [[MaxLivePins]] pins stay cached, older ones unpersist (a consumer
    * holding an evicted plan just recomputes — correctness is
    * unaffected).
    *
    * CONCURRENCY SCOPE: the 2-deep FIFO assumes SEQUENTIAL query
    * execution — the shape of Verify/Bench/Soak and of a REPL. Under a
    * driver issuing 3+ lazy-return graph queries CONCURRENTLY, each new
    * pin evicts a peer's still-unread pin and every consumer silently
    * recomputes its full canonicalize/symmetrize derivation: correct
    * (lineage recompute) but potentially quadratic. The PRIMARY
    * diagnostic is [[evictionCount]] — poll its delta while reproducing
    * a slow concurrent workload (the harness mains run at WARN
    * verbosity, so a log line cannot be the load-bearing signal). Each
    * eviction also logs at INFO for verbose runs; INFO, not WARN,
    * because in a healthy sequential run evictions are routine pool
    * turnover (the evicted pin's consumer already materialized) and a
    * per-query warning would train readers to ignore the one
    * concurrent-thrash case that matters. The fix for real thrash:
    * size the pool to the pipeline width (`-Dgraft.pins.max=<width>`,
    * measured in BASELINE.md "Round-10 restart-recovery lane",
    * "Concurrent-driver measurement"), or unpin
    * eagerly. */
  private val livePins = new java.util.ArrayDeque[DataFrame]()
  /** Pool depth: 2 covers every sequential harness; a concurrent driver
    * sizes it to its pipeline width via the `graft.pins.max` system
    * property (a driver-lifetime deployment setting, like executor
    * memory — read per pin so a probe can A/B it in one JVM). Floored
    * at 1: 0 or a negative value would make pinEdges evict the pin it
    * just added and hand its own caller an unpersisted frame — the
    * worst-case thrash the knob exists to remove. */
  private def MaxLivePins: Int =
    math.max(1, Integer.getInteger("graft.pins.max", 2))
  private val evictions = new java.util.concurrent.atomic.AtomicLong
  private val log =
    org.slf4j.LoggerFactory.getLogger(GraphPlanning.getClass)

  /** Total pins evicted by the FIFO bound (not by deterministic
    * [[unpin]]) since JVM start. In a SEQUENTIAL run this grows with
    * lazy-return query count — benign turnover, not a signal. The
    * diagnostic read is the DELTA while reproducing a slow concurrent
    * workload: evictions outpacing queries means consumers are
    * recomputing evicted derivations. */
  def evictionCount: Long = evictions.get()

  def pinEdges(df: DataFrame): DataFrame = synchronized {
    val pinned =
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    livePins.addLast(pinned)
    while (livePins.size > MaxLivePins) {
      livePins.removeFirst().unpersist(false)
      val n = evictions.incrementAndGet()
      log.info(s"graft edge-pin FIFO evicted a live pin (eviction #$n): " +
        "a consumer still holding it will recompute its derivation; " +
        "under a concurrent driver, widen the pool or unpin eagerly")
    }
    pinned
  }

  /** Release a pin deterministically — called by operators once their
    * (eagerly materialized) result no longer reads the pinned frame. */
  def unpin(df: DataFrame): Unit = synchronized {
    livePins.remove(df)
    df.unpersist(false)
  }

  /** Rough serialized bytes per (node, score) row in a broadcast hashed
    * relation: an 8-16 byte key, an 8 byte double, UnsafeRow + relation
    * overhead. Deliberately conservative — over-estimating the row keeps
    * the hint inside the driver/executor memory the threshold protects. */
  private val NodeRowBytes = 64L

  /** Hint broadcast for node-sized join sides only while the byte
    * ESTIMATE (measured node count × [[NodeRowBytes]]) fits the
    * session's `autoBroadcastJoinThreshold` — the same budget Catalyst
    * applies when it has stats; checkpointed subtrees report none, so
    * the measured count substitutes. A disabled threshold (<= 0) means
    * never hint. With the default 10 MB budget this is ~160k nodes;
    * larger node tables fall back to shuffled hash joins — the shape a
    * billion-node graph needs anyway, since re-broadcasting a
    * hundreds-of-MB rank table every iteration would swamp driver and
    * executor memory alike. */
  def broadcastMaxNodes(spark: SparkSession): Long = {
    val raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    val bytes =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
      catch { case _: IllegalArgumentException => 10485760L }
    if (bytes <= 0) 0L else bytes / NodeRowBytes
  }
}
