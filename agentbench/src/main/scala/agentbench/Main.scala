package agentbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run (see run.py for the command line).
  *
  * Untraced (`--trace 0`) it reports the end-to-end metrics; traced
  * (`--trace 1`) it first repeats the untraced measurement, then measures
  * again with the listeners attached and reports the per-layer metrics,
  * including the traced/untraced difference as `trace.overhead_frac`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, out: String)

  val SetupReps = 3

  /** The metrics of one run, in output order, with their units. */
  final class Metrics {
    val values = mutable.LinkedHashMap.empty[String, (Double, String)]
    def apply(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
  }

  def main(argv: Array[String]): Unit = {
    val code = try { run(parse(argv)); 0 } catch {
      case NonFatal(e) => e.printStackTrace(); 1
    }
    sys.exit(code)
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("out"))
    require(Serve.Sizes.contains(a.workload) || Lanes.Workloads.contains(a.workload),
      s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def session(a: Args): SparkSession = {
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"agentbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", 4L << 20)
      .config("spark.sql.files.openCostInBytes", 4L << 20)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    if (a.trace)
      b.config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTap].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def run(a: Args): Unit = {
    val spark = session(a)
    println(s"agentbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} master=${spark.sparkContext.master}")
    val (m, all, notes) = try {
      Lanes.Workloads.get(a.workload).fold(serve(spark, a, Serve.Sizes(a.workload)))(lanes(spark, a, _))
    } finally spark.stop()
    val failed = all.filterNot(_.ok)
    failed.take(10).foreach(o => println(s"FAILED op ${o.id} ${o.kind}: ${o.error.get}"))
    notes.foreach(println)
    println(f"failed_frac ${failed.size.toDouble / math.max(1, all.size)}%.6f " +
      s"(${failed.size} of ${all.size} ops)")
    m.values.foreach { case (k, (v, u)) => println(s"metric $k = $v $u") }
    val finite = m.values.values.forall(v => !v._1.isNaN && !v._1.isInfinite)
    val correct = failed.isEmpty && finite && all.nonEmpty
    val metrics = m.values.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val json = s"""{"correct": $correct, "attempted": ${all.size}, "failed": ${failed.size}, "metrics": $metrics}"""
    new java.io.File(a.out).mkdirs()
    val name = s"${a.out}/${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(name), json + "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(name.stripSuffix(".json") + "-ops.tsv"),
      all.map(o => s"${o.id}\t${o.kind}\t${o.startUs}\t${o.latencyMs}\t${o.ok}\n").mkString)
    println(json)
  }

  private def timeS(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Runs one phase of the run and prints its wall time. */
  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally println(f"phase $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  /** Used heap after a forced full collection, in MB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); Thread.sleep(100); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  private def latencyByKind(ops: Seq[OpResult]): Map[String, Seq[Double]] =
    ops.filter(_.ok).groupBy(_.kind).map { case (k, os) => k -> os.map(_.latencyMs) }

  /** Geometric mean over op kinds of each kind's median latency: one
    * number per run that weights every kind equally, whatever the mix. */
  def latencyMs(ops: Seq[OpResult], kinds: Seq[String]): Double = {
    val by = latencyByKind(ops)
    if (kinds.exists(k => !by.contains(k))) Double.NaN
    else Stats.geomean(kinds.map(k => Stats.median(by(k))))
  }

  private def describe(ops: Seq[OpResult], kinds: Seq[String]): Seq[String] = {
    val by = latencyByKind(ops)
    kinds.map { k =>
      val xs = by.getOrElse(k, Nil)
      val tail = Stats.tail(xs).fold("tail n/a (<11 samples)") { case (p, v) => f"p$p $v%.1f ms" }
      val med = if (xs.isEmpty) "n/a" else f"${Stats.median(xs)}%.1f ms"
      s"op $k n=${xs.size} p50 $med $tail"
    }
  }

  // ---------------------------------------------------------------- serve

  def serve(spark: SparkSession, a: Args, size: Serve.Size)
      : (Metrics, Seq[OpResult], Seq[String]) = {
    val dir = s"${a.work}/data"
    val setups = timed("setup")((1 to SetupReps).map(_ => timeS(Serve.setup(spark, dir, size, a.seed))))
    val data = timed("load")(Serve.load(spark, dir, size, a.seed))
    val ids = new AtomicLong(0)
    val clients = (0 until Serve.Clients).map(c => new Serve.Requests(a.seed, c, data))
    val warm = timed("warm-up")(Serve.loop(spark, data, clients, ids, 0, Serve.WarmupRounds, traced = false))
    val m = new Metrics
    val setupNote = f"setup_s runs ${setups.map(s => f"$s%.3f").mkString(" ")}"
    if (!a.trace) {
      val t0 = System.nanoTime()
      val plain = Serve.loop(spark, data, clients, ids, a.seconds, Serve.MinRounds, traced = false)
      val wall = (System.nanoTime() - t0) / 1e9
      val heap = timed("gc")(retainedHeapMb())
      m("setup_s", "s", Stats.median(setups))
      m("latency_ms", "ms", latencyMs(plain, Serve.Kinds))
      m("throughput_per_s", "1/s", plain.count(_.ok) / wall)
      m("heap_retained_mb", "MB", heap)
      (m, warm ++ plain, describe(plain, Serve.Kinds) ++ Seq(
        f"serve_rps ${plain.count(_.ok) / wall}%.3f (${Serve.Clients} clients, closed loop, $wall%.2f s)",
        setupNote))
    } else {
      // Four loops of a quarter of the time each, untraced, traced, traced,
      // untraced: the two halves see the same JIT warm-up and host load on
      // average, so their difference is the tracing overhead alone.
      def block(traced: Boolean) =
        Serve.loop(spark, data, clients, ids, a.seconds / 4.0, Serve.MinRounds, traced)
      val first = block(traced = false)
      val tap = new SparkTap
      spark.sparkContext.addSparkListener(tap)
      val traced = block(traced = true) ++ block(traced = true)
      BenchBus.flush(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tap)
      val plain = first ++ block(traced = false)
      val (spans, totals) = tap.snapshot()
      layerMetrics(m, traced, totals, Nil)
      val storeFiles = listFiles(new java.io.File(data.store)).filter(_.getName.endsWith(".parquet"))
      m("store.bytes_written_per_row", "B", storeFiles.map(_.length).sum.toDouble / data.index.size)
      m("store.files_written", "count", storeFiles.size)
      Lanes.All.foreach(l => m(s"lanes.${l}_s", "s", 0))
      m("trace.overhead_frac", "ratio",
        latencyMs(traced, Serve.Kinds) / latencyMs(plain, Serve.Kinds) - 1)
      val tracedIds = traced.map(_.id).toSet
      val allSpans = opSpans(traced) ++ spans.filter(s => tracedIds(s.op))
      writeSpans(a, allSpans)
      (m, warm ++ plain ++ traced, describe(plain, Serve.Kinds) ++ Seq(setupNote) ++
        selfTimeNotes(allSpans))
    }
  }

  // ---------------------------------------------------------------- lanes

  def lanes(spark: SparkSession, a: Args, set: Lanes.LaneSet)
      : (Metrics, Seq[OpResult], Seq[String]) = {
    val dir = s"${a.work}/fixture"
    val setups = timed("setup")((1 to SetupReps).map(_ => timeS(Lanes.setup(spark, dir, set))))
    val ids = new AtomicLong(0)
    val m = new Metrics
    val setupNote = f"setup_s runs ${setups.map(s => f"$s%.3f").mkString(" ")}"
    def pass(traced: Boolean, after: OpResult => Unit = _ => ()) =
      Lanes.pass(spark, dir, set, ids, traced, after)
    if (!a.trace) {
      // Passes run until --seconds have passed, at least one. The first is
      // cold: a pass is too long for a run to afford an untimed warm-up
      // pass, and every run pays the same class loading and compilation.
      val t0 = System.nanoTime()
      val passes = mutable.ArrayBuffer.empty[(Double, Seq[OpResult])]
      while (passes.isEmpty || System.nanoTime() - t0 < a.seconds * 1e9) {
        val p0 = System.nanoTime()
        val ops = pass(traced = false)
        passes += (((System.nanoTime() - p0) / 1e9, ops))
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val plain = passes.flatMap(_._2).toSeq
      val heap = timed("gc")(retainedHeapMb())
      val cycle = Stats.median(passes.map(_._1).toSeq)
      m("setup_s", "s", Stats.median(setups))
      m("latency_ms", "ms", latencyMs(plain, set.lanes))
      m("throughput_per_s", "1/s", plain.count(_.ok) / wall)
      m("heap_retained_mb", "MB", heap)
      (m, plain, describe(plain, set.lanes) ++ Seq(
        f"cycle_s $cycle%.3f (median of ${passes.size} passes over ${set.lanes.size} lanes)",
        setupNote))
    } else {
      // A cold pass warms up; then a traced pass runs between two untraced
      // ones, so the untraced mean sees the same warm-up as the traced pass
      // and their difference is the tracing overhead alone.
      val cold = timed("warm-up")(pass(traced = false))
      val before = pass(traced = false)
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      def parquetFiles() = listFiles(tmp).filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
      val tap = new SparkTap
      spark.sparkContext.addSparkListener(tap)
      StreamTap.drain()
      StreamTap.enabled = true
      val batches = mutable.ArrayBuffer.empty[(Long, BatchRec)]
      var filesWritten = 0
      var seen = parquetFiles()
      val traced = pass(traced = true, op => {
        BenchBus.flush(spark.sparkContext)
        batches ++= StreamTap.drain().map(op.id -> _)
        val now = parquetFiles()
        filesWritten += (now -- seen).size
        seen = now
      })
      StreamTap.enabled = false
      spark.sparkContext.removeSparkListener(tap)
      val after = pass(traced = false)
      val (spans, totals) = tap.snapshot()
      layerMetrics(m, traced, totals, batches.map(_._2).toSeq)
      val t = traced.flatMap(o => totals.get(o.id))
      m("store.bytes_written_per_row", "B",
        t.map(_.outputBytes).sum.toDouble / math.max(1L, t.map(_.outputRecords).sum))
      m("store.files_written", "count", filesWritten)
      val plain = before ++ after
      Lanes.All.foreach { l =>
        val xs = plain.filter(o => o.kind == l && o.ok).map(_.latencyMs / 1000)
        m(s"lanes.${l}_s", "s", if (xs.isEmpty) 0 else Stats.median(xs))
      }
      def total(ops: Seq[OpResult]) = ops.map(_.latencyMs).sum
      m("trace.overhead_frac", "ratio", total(traced) / (total(plain) / 2) - 1)
      val batchSpans = batches.zipWithIndex.map { case ((op, b), i) =>
        Span((2L << 40) + i, op, "micro-batch", op, b.startMicros,
          b.startMicros + 1000L * b.durationMs.getOrElse("triggerExecution", 0L))
      }
      val tracedIds = traced.map(_.id).toSet
      val allSpans = opSpans(traced) ++ spans.filter(s => tracedIds(s.op)) ++ batchSpans
      writeSpans(a, allSpans)
      (m, cold ++ plain ++ traced, describe(plain, set.lanes) ++ Seq(setupNote) ++
        selfTimeNotes(allSpans))
    }
  }

  // ---------------------------------------------------------------- layers

  private def listFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles) else Seq(f)

  /** Every per-layer metric that is not workload specific. Layers a
    * workload does not exercise report 0. */
  def layerMetrics(m: Metrics, ops: Seq[OpResult], totals: Map[Long, ExecTotals],
                   batches: Seq[BatchRec]): Unit = {
    val n = math.max(1, ops.size).toDouble
    val t = ops.flatMap(o => totals.get(o.id))
    def perOp(f: ExecTotals => Long) = t.map(f).sum / n
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def phase(p: String) = mean(ops.map(_.phasesMs.getOrElse(p, 0.0)))
    m("operators.build_ms", "ms", mean(ops.map(_.buildMs)))
    m("planning.analysis_ms", "ms", phase("analysis"))
    m("planning.optimization_ms", "ms", phase("optimization"))
    m("planning.physical_ms", "ms", phase("planning"))
    m("planning.share", "ratio",
      Ops.PlanningPhases.map(phase).sum / math.max(1e-9, mean(ops.map(_.latencyMs))))
    m("exec.jobs_per_op", "count", perOp(_.jobs))
    m("exec.stages_per_op", "count", perOp(_.stages))
    m("exec.tasks_per_op", "count", perOp(_.tasks))
    m("exec.sched_delay_ms", "ms", perOp(_.schedDelayMs))
    m("exec.task_run_ms_per_op", "ms", perOp(_.runMs))
    m("exec.cpu_ms_per_op", "ms", perOp(_.cpuNs) / 1e6)
    m("exec.gc_ms_per_op", "ms", perOp(_.gcMs))
    m("exec.shuffle_read_bytes", "B", perOp(_.shuffleRead))
    m("exec.shuffle_write_bytes", "B", perOp(_.shuffleWrite))
    m("exec.spill_bytes", "B", perOp(_.spill))
    m("sources.files_read_per_op", "count", ops.map(_.scan.files).sum / n)
    m("sources.bytes_read_per_op", "B", ops.map(_.scan.bytes).sum / n)
    m("sources.rows_read_per_result", "ratio",
      ops.map(_.scan.rows).sum.toDouble / math.max(1, ops.map(_.resultRows).sum))
    val storeOps = ops.filter(o => o.kind == "store_search" || o.kind == "lookup")
    m("sources.bucket_read_ratio", "ratio",
      mean(storeOps.map(_.scan.buckets.toDouble / Serve.Buckets)))
    val scoring = ops.filter(o => Serve.Scoring.contains(o.kind))
    val scored = scoring.map(_.scan.scoredRows).sum
    m("functions.rows_scored_per_op", "count", scored.toDouble / math.max(1, scoring.size))
    m("functions.cpu_ns_per_row", "ns",
      scoring.flatMap(o => totals.get(o.id)).map(_.cpuNs).sum.toDouble / math.max(1L, scored))
    val trig = batches.map(_.durationMs.getOrElse("triggerExecution", 0L).toDouble)
    def dur(k: String) = mean(batches.map(_.durationMs.getOrElse(k, 0L).toDouble))
    m("streaming.batches", "count", batches.size)
    m("streaming.batch_p50_ms", "ms", if (trig.isEmpty) 0 else Stats.median(trig))
    m("streaming.batch_max_ms", "ms", if (trig.isEmpty) 0 else trig.max)
    m("streaming.add_batch_ms", "ms", dur("addBatch"))
    m("streaming.query_planning_ms", "ms", dur("queryPlanning"))
    m("streaming.wal_commit_ms", "ms", dur("walCommit"))
    m("streaming.latest_offset_ms", "ms", dur("latestOffset"))
    m("streaming.state_rows", "count",
      batches.groupBy(_.query).values.map(_.maxBy(_.batchId).stateRows).sum)
    m("streaming.state_commit_task_ms", "ms", mean(batches.map(_.stateCommitTaskMs.toDouble)))
  }

  /** Root span per op plus its `operators` child: the call that built the
    * op's DataFrame. */
  private def opSpans(ops: Seq[OpResult]): Seq[Span] = ops.flatMap { o =>
    Seq(Span(o.id, 0, o.kind, o.id, o.startUs, o.endUs),
      Span((3L << 40) + o.id, o.id, "operators", o.id, o.startUs, o.buildUs))
  }

  private def selfTimeNotes(spans: Seq[Span]): Seq[String] = {
    val self = Trace.selfTimeByName(spans)
    Seq("self time by span (ms): " + self.toSeq.sortBy(-_._2)
      .map { case (k, v) => f"$k ${v / 1000.0}%.1f" }.mkString(", "))
  }

  private def writeSpans(a: Args, spans: Seq[Span]): Unit = {
    new java.io.File(a.out).mkdirs()
    val path = java.nio.file.Paths.get(s"${a.out}/${a.workload}-seed${a.seed}-spans.jsonl")
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.start).foreach { s =>
      w.write(s"""{"id": ${s.id}, "parent": ${s.parent}, "name": "${s.name}", """ +
        s""""op": ${s.op}, "start_us": ${s.start}, "end_us": ${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}
