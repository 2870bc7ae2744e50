package agentbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every table and request stream the engine sees
  * comes from here; the same seed gives the same bytes.
  *
  * Skew: words are drawn with index floor(|vocab| * u^2) (u uniform), so
  * low-index words dominate, as in the engine's own word-soup fixtures;
  * hot keys are drawn the same way over the key range (see [[skewed]]).
  */
object Gen {
  val Vocab: Seq[String] = Seq(
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter",
    "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "customer", "join", "the")
  val Dim = 64
  val Labels = 10

  /** A key in [0, n) with the same u^2 skew as the words. */
  def skewed(r: SplittableRandom, n: Int): Int =
    math.min(n - 1, (n * math.pow(r.nextDouble(), 2)).toInt)

  private def u(seed: Long, parts: Column*): Column =
    pmod(xxhash64(lit(seed) +: parts: _*), lit(1000003L)).cast("double") /
      lit(1000003.0)

  /** `n` memories (doc_id, text, lang, source, label) built inside Spark
    * from the seed: 8..47 skewed words per text. */
  def memoryTexts(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    val vocab = typedlit(Vocab)
    val nWords = lit(8) + pmod(xxhash64(lit(seed), col("id"), lit(-1)), lit(40L)).cast("int")
    val words = transform(sequence(lit(1), nWords), j =>
      element_at(vocab,
        (floor(lit(Vocab.size.toDouble) * pow(u(seed, col("id"), j), 2)) + 1).cast("int")))
    val langs = typedlit(Seq("en", "en", "en", "en", "es", "fr", "de", "zh"))
    spark.range(n).select(
      col("id").as("doc_id"),
      concat_ws(" ", words).as("text"),
      element_at(langs, (pmod(xxhash64(lit(seed), col("id"), lit(-2)), lit(8L)) + 1).cast("int")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20L)).cast("string")).as("source"),
      pmod(xxhash64(lit(seed), col("id"), lit(-3)), lit(Labels.toLong)).cast("int").as("label"))
  }

  /** The engine fixture's `documents` and `embeddings` pair for `n`
    * memories; embeddings are seeded uniform [-1, 1) floats, 64-d. */
  def writeSmallMemories(spark: SparkSession, dir: String, n: Long, seed: Long): Unit = {
    val m = memoryTexts(spark, n, seed)
    m.select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val vec = transform(sequence(lit(0), lit(Dim - 1)), j =>
      (lit(2.0) * u(seed, col("doc_id"), j + lit(1000)) - lit(1.0)).cast("float"))
    m.select(col("doc_id").as("vec_id"), vec.as("embedding"), col("label"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** The large store's rows in the memory shape (id, text, lang, source,
    * label, embedding): texts embedded with the engine's own feature-hash
    * embedder, stored as 64-d floats like the fixture's embeddings. */
  def embeddedMemories(spark: SparkSession, n: Long, seed: Long): DataFrame =
    graft.functions.Embed.withEmbedding(memoryTexts(spark, n, seed), "text", "embedding", Dim)
      .select(col("doc_id").as("id"), col("text"), col("lang"), col("source"), col("label"),
        col("embedding").cast("array<float>").as("embedding"))

  val SessionSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("created_at", TimestampType),
    StructField("updated_at", TimestampType),
    StructField("tags", ArrayType(StringType))))

  /** `n` catalog sessions. One in ten shares its predecessor's created_at,
    * so the catalog's `created_at DESC, id DESC` tie-break is exercised. */
  def sessions(n: Int, seed: Long): Seq[Row] = {
    val r = new SplittableRandom(seed ^ 0x5e55L)
    val tagPool = Seq("work", "home", "research", "chat", "code", "travel")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    var created = t0
    val ids = scala.collection.mutable.HashSet.empty[String]
    (0 until n).map { _ =>
      var id = ""
      while (id.isEmpty || ids.contains(id)) id = uuid(r)
      ids += id
      if (r.nextInt(10) != 0) created += 1000L * (1 + r.nextInt(600))
      val updated = created + 1000L * r.nextInt(3600)
      val tags = (0 until r.nextInt(4)).map(_ => tagPool(r.nextInt(tagPool.size)))
      Row(id, new java.sql.Timestamp(created), new java.sql.Timestamp(updated), tags)
    }
  }

  def uuid(r: SplittableRandom): String = {
    val hi = r.nextLong(); val lo = r.nextLong()
    val h = f"$hi%016x$lo%016x"
    s"${h.substring(0, 8)}-${h.substring(8, 12)}-4${h.substring(13, 16)}-" +
      s"8${h.substring(17, 20)}-${h.substring(20, 32)}"
  }

  /** Fixed inputs of the lane workloads: the engine fixture's tables at a
    * reduced size, each from its own stream of the seed so a workload can
    * write only the tables its lanes read. `documents` (600) and
    * `embeddings` (600) hold a near copy of an earlier row in every tenth
    * row, so the dedup and entity-resolution lanes find real clusters;
    * `events` has 4,000 rows over 150 users; `orders` (1,500) comes with
    * its `lineitem` (6,000). */
  def writeLaneFixture(spark: SparkSession, dir: String, seed: Long, tables: Seq[String]): Unit =
    tables.foreach {
      case "documents" => writeDocuments(spark, dir, new SplittableRandom(seed + 1))
      case "embeddings" => writeEmbeddings(spark, dir, new SplittableRandom(seed + 2))
      case "events" => writeEvents(spark, dir, new SplittableRandom(seed + 3))
      case "orders" => writeOrders(spark, dir, new SplittableRandom(seed + 4))
    }

  private def writeDocuments(spark: SparkSession, dir: String, r: SplittableRandom): Unit = {
    def text(n: Int) = Seq.fill(n)(Vocab(skewed(r, Vocab.size))).mkString(" ")
    val langs = Seq("en", "en", "en", "en", "es", "fr", "de", "zh")
    val nDocs = 600
    val docs = (0 until nDocs).foldLeft(Vector.empty[String]) { (acc, i) =>
      if (i >= 10 && i % 10 == 0) {
        val w = acc(r.nextInt(i)).split(" ")
        w(r.nextInt(w.length)) = Vocab(r.nextInt(Vocab.size))
        acc :+ w.mkString(" ")
      } else acc :+ text(8 + r.nextInt(40))
    }
    write(spark, s"$dir/documents.parquet", docs.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, langs(r.nextInt(langs.size)), s"src${i % 20}", t.length.toLong)
    }, StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType))))
  }

  private def writeEmbeddings(spark: SparkSession, dir: String, r: SplittableRandom): Unit = {
    val nEmb = 600
    val embs = (0 until nEmb).foldLeft(Vector.empty[Array[Float]]) { (acc, i) =>
      if (i >= 10 && i % 10 == 0)
        acc :+ acc(r.nextInt(i)).map(x => x + (r.nextDouble() * 0.02 - 0.01).toFloat)
      else acc :+ Array.fill(Dim)((r.nextDouble() * 2 - 1).toFloat)
    }
    write(spark, s"$dir/embeddings.parquet", embs.zipWithIndex.map { case (e, i) =>
      Row(i.toLong, e.toSeq, r.nextInt(Labels))
    }, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))))
  }

  private def writeEvents(spark: SparkSession, dir: String, r: SplittableRandom): Unit = {
    val nEvents = 4000
    val users = 150
    val types = Seq("view", "click", "purchase", "signup", "error")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val span = 30L * 86400L * 1000L
    val ts = Array.fill(nEvents)(t0 + (r.nextDouble() * span).toLong).sorted
    write(spark, s"$dir/events.parquet", ts.indices.map { i =>
      Row(i.toLong, new java.sql.Timestamp(ts(i)), skewed(r, users).toLong,
        types(r.nextInt(types.size)), math.rint(r.nextDouble() * 20000) / 100,
        s"""{"k": ${r.nextInt(100)}}""")
    }, StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType))))
  }

  private def writeOrders(spark: SparkSession, dir: String, r: SplittableRandom): Unit = {
    val nOrders = 1500
    val statuses = Seq("O", "F", "P")
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val d0 = java.sql.Timestamp.valueOf("1995-01-01 00:00:00").getTime
    def day(max: Int) = new java.sql.Timestamp(d0 + 86400000L * r.nextInt(max))
    write(spark, s"$dir/orders.parquet", (0 until nOrders).map { i =>
      Row(i.toLong, skewed(r, 150).toLong, statuses(r.nextInt(3)),
        math.rint(r.nextDouble() * 4e7) / 100, day(2500), prios(r.nextInt(5)))
    }, StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType), StructField("o_orderpriority", StringType))))

    write(spark, s"$dir/lineitem.parquet", (0 until nOrders * 4).map { i =>
      Row((i / 4).toLong, r.nextInt(200).toLong, skewed(r, 10).toLong, i % 4 + 1,
        (1 + r.nextInt(50)).toDouble, math.rint(r.nextDouble() * 1e7) / 100,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)),
        Seq("O", "F")(r.nextInt(2)), day(2600))
    }, StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampType))))
  }

  private def write(spark: SparkSession, path: String, rows: Seq[Row], schema: StructType): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)
}
