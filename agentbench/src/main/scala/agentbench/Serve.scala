package agentbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.operators.{MemoryOps, SessionOps, VectorSearch}
import graft.sources.MemoryBucketSource

/** The serve workloads: a closed loop of clients, each sending its next
  * request only when the previous one has returned, over a seeded mix of
  * the four memory-service operations. */
object Serve {
  final case class Size(memories: Long, embedded: Boolean)
  val Sizes = Map(
    "serve-small" -> Size(2000, embedded = false),
    "serve-large" -> Size(200000, embedded = true))
  val Buckets = 16
  val K = 10
  val Sessions = 10000
  val Clients = 2
  /** Two untimed rounds, so every measured kind has run before timing
    * starts: a kind's first run compiles its plan's code, and with a few
    * samples per kind one cold sample moves the median. */
  val WarmupRounds = 2
  val MinRounds = 2
  val Threshold = 0.2
  /** Request types; each client round sends every type once. */
  val Types = Seq("search", "store_search", "lookup", "catalog")
  /** Measured kinds: the variants of a type whose costs differ (a label
    * predicate cuts the rows scored tenfold; a catalog page sorts the
    * table, a get filters it) are timed apart. */
  val Kinds = Seq("search", "search_label", "store_search", "lookup", "catalog_get", "catalog_list")
  val Scoring = Set("search", "search_label", "store_search")

  /** Writes the workload's tables and the bucketed store: the set-up the
    * `setup_s` metric times. The small workload keeps the engine fixture's
    * documents/embeddings pair and builds the store from its join; the
    * large one embeds its texts and writes the store directly. */
  def setup(spark: SparkSession, dir: String, size: Size, seed: Long): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(Gen.sessions(Sessions, seed), 1),
      Gen.SessionSchema).write.mode("overwrite").parquet(s"$dir/sessions.parquet")
    val memories =
      if (size.embedded) Gen.embeddedMemories(spark, size.memories, seed)
      else {
        Gen.writeSmallMemories(spark, dir, size.memories, seed)
        Tables.memories(spark, dir)
      }
    MemoryOps.writeBucketed(memories, s"$dir/store", "id", Buckets)
  }

  /** The table path of `search`: the fixture's documents-embeddings join
    * on the small workload; on the large one the store's files read as a
    * plain parquet table, so scan and scoring, not a 200k-row join, set
    * its cost. */
  def table(spark: SparkSession, data: Data, size: Size): DataFrame =
    if (size.embedded) MemoryOps.readBucketed(spark, data.store)
    else Tables.memories(spark, data.dir)

  /** The answer key, read back from what the engine stored: the vectors
    * as a [[Check.VecIndex]], the other stored columns as flat arrays
    * aligned with it. */
  final class Data(val dir: String, val size: Size, val index: Check.VecIndex,
                   texts: Array[String], langs: Array[String], sources: Array[String],
                   val sessions: IndexedSeq[Row]) {
    val store = s"$dir/store"
    /** Sessions in catalog order: created_at DESC, id DESC. */
    val listed: IndexedSeq[String] = sessions.sortBy(r =>
      (-r.getTimestamp(1).getTime, r.getString(0)))(
      Ordering.Tuple2(Ordering.Long, Ordering.String.reverse)).map(_.getString(0))
    /** The stored row of a memory, in [[LookupCols]] order. */
    def row(id: Long): Seq[Any] = {
      val i = index.byId(id)
      Seq(id, texts(i), langs(i), sources(i), index.labels(i), index.vecs(i).toSeq)
    }
  }

  val LookupCols = Seq("id", "text", "lang", "source", "label", "embedding")

  def load(spark: SparkSession, dir: String, size: Size, seed: Long): Data = {
    import spark.implicits._
    // typed, so each vector arrives as a primitive array, not boxed floats
    val got = spark.read.parquet(s"$dir/store").select(LookupCols.map(col): _*)
      .as[(Long, String, String, String, Int, Array[Float])].collect().sortBy(_._1)
    val index = new Check.VecIndex(got.map(_._1), got.map(_._5), got.map(_._6))
    new Data(dir, size, index, got.map(_._2), got.map(_._3.intern()),
      got.map(_._4.intern()), Gen.sessions(Sessions, seed).toIndexedSeq)
  }

  sealed trait Req { def kind: String }
  final case class Search(q: Array[Float], label: Option[Int], threshold: Option[Double])
    extends Req { def kind: String = if (label.isEmpty) "search" else "search_label" }
  final case class StoreSearch(q: Array[Float], threshold: Option[Double])
    extends Req { def kind = "store_search" }
  final case class Lookup(id: Long) extends Req { def kind = "lookup" }
  final case class GetSession(idx: Int) extends Req { def kind = "catalog_get" }
  final case class ListSessions(limit: Int, offset: Int) extends Req { def kind = "catalog_list" }

  /** One client's request stream. Each round sends every request type
    * once in an order drawn from the seed (the same for every client), and
    * each type alternates between its two variants, so the mix is the same
    * in every run. Query vectors are stored vectors (hot ids drawn with the
    * generator's skew) plus seeded noise; every other search carries a
    * label predicate and a threshold, every other store search the
    * threshold. */
  final class Requests(seed: Long, client: Int, data: Data) {
    private val order = new scala.util.Random(seed)
    private val r = new SplittableRandom(seed * 1000003L + client)
    private var round: List[String] = Nil
    private val sent = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    private def query(): Array[Float] =
      data.index.vecs(Gen.skewed(r, data.index.size)).map(x =>
        x + (r.nextDouble() * 0.2 - 0.1).toFloat)
    def next(): Req = {
      if (round.isEmpty) round = order.shuffle(Types).toList
      val kind = round.head
      round = round.tail
      val half = sent(kind) % 2 == 1
      sent(kind) += 1
      kind match {
        case "search" => Search(query(), if (half) Some(r.nextInt(Gen.Labels)) else None,
          if (half) Some(Threshold) else None)
        case "store_search" => StoreSearch(query(), if (half) Some(Threshold) else None)
        case "lookup" => Lookup(data.index.ids(Gen.skewed(r, data.index.size)))
        case _ =>
          if (half) GetSession(Gen.skewed(r, data.sessions.size))
          else ListSessions(1 + r.nextInt(100), r.nextInt(500))
      }
    }
  }

  private def scored(rows: Array[Row]): Seq[(Long, Double)] =
    rows.toSeq.map(r => r.getAs[Long]("id") -> r.getAs[Double]("score"))

  def execute(spark: SparkSession, data: Data, id: Long, req: Req, traced: Boolean): OpResult = {
    val sessions = () => spark.read.parquet(s"${data.dir}/sessions.parquet")
    req match {
      case Search(q, label, t) =>
        Ops.run(spark, id, req.kind, traced) {
          VectorSearch.topK(table(spark, data, data.size), q.toSeq, K, idCol = "id",
            predicate = label.map(l => col("label") === l), threshold = t)
        }(rows => Check.topK(data.index.topK(q, K, label, t), scored(rows)))
      case StoreSearch(q, t) =>
        Ops.run(spark, id, req.kind, traced) {
          MemoryBucketSource.search(spark, data.store, Buckets, q.toSeq, K, threshold = t)
        }(rows => Check.topK(data.index.topK(q, K, None, t), scored(rows)))
      case Lookup(key) =>
        Ops.run(spark, id, req.kind, traced) {
          spark.read.format("graft.sources.MemoryBucketSource")
            .option("path", data.store).option("nBuckets", Buckets.toString)
            .option("idCol", "id").load()
            .where(col("id") === key).select(LookupCols.map(col): _*)
        }(rows => Check.row(data.row(key), rows.toSeq.map(_.toSeq)))
      case GetSession(i) =>
        Ops.run(spark, id, req.kind, traced) {
          SessionOps.get(sessions(), "id", data.sessions(i).getString(0))
            .select("id", "created_at", "updated_at", "tags")
        }(rows => Check.row(data.sessions(i).toSeq, rows.toSeq.map(_.toSeq)))
      case ListSessions(limit, offset) =>
        Ops.run(spark, id, req.kind, traced) {
          SessionOps.list(sessions(), Some(limit), offset).select("id")
        }(rows => Check.page(data.listed.slice(offset, offset + limit),
          rows.toSeq.map(_.getString(0))))
    }
  }

  /** Runs every client until the deadline has passed and at least
    * `minRounds` rounds are done (two rounds send every measured kind),
    * stopping only at the end of a round: every round sends each type
    * once, so the mix, and with it the throughput, does not depend on
    * where the deadline fell. The request streams continue across calls.
    * The clients start each request together: every client sends the same
    * request type at the same time, so each kind always runs beside the
    * same load and its latency does not depend on which kinds happened to
    * overlap. */
  def loop(spark: SparkSession, data: Data, clients: Seq[Requests], ids: AtomicLong,
           seconds: Double, minRounds: Int, traced: Boolean): Seq[OpResult] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var n = 0
    @volatile var stop = false
    val step = new java.util.concurrent.CyclicBarrier(clients.size, () => {
      stop = n >= minRounds * Types.size && n % Types.size == 0 &&
        System.nanoTime() >= deadline
      n += 1
    })
    val out = clients.map(_ => Seq.newBuilder[OpResult])
    val threads = clients.zip(out).map { case (reqs, buf) =>
      new Thread(() => {
        step.await()
        while (!stop) {
          buf += execute(spark, data, ids.incrementAndGet(), reqs.next(), traced)
          step.await()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.flatMap(_.result())
  }
}
