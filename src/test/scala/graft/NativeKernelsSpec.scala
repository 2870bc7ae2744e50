package graft

import org.apache.spark.sql.functions._
import graft.functions.{Embed, Native, Similarity, TextHash}
import graft.operators.Dedup

/** The native fused expressions must be bit-identical to their
  * SQL-mirrorable higher-order-function counterparts — this is what lets
  * the query path use the fast kernels while the DuckDB oracle checks the
  * HOF semantics.
  */
class NativeKernelsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf0001)

  test("native cosine == HOF cosine on the embeddings fixture (incl. null cases)") {
    val e = Tables.embeddings(spark, sf0001)
    val q = Tables.queryVector(spark, sf0001, 0L)
    val both = e.select(
      Similarity.cosine(col("embedding"), typedlit(q)).as("nat"),
      Similarity.cosineHof(col("embedding"), typedlit(q)).as("hof"))
    assert(both.where(col("nat") =!= col("hof") ||
      col("nat").isNull =!= col("hof").isNull).count() == 0)
    // null semantics: dim mismatch + zero magnitude
    val edge = Seq(
      (Seq(1f, 0f), Seq(1f, 0f, 0f)),
      (Seq(1f, 2f), Seq(0f, 0f)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("nat"))
    assert(edge.where(col("nat").isNotNull).count() == 0)
    // a NULL element -> null, as in the HOF form; interpreted (local
    // relation) and code-generated (RDD scan) alike
    val withNull = Seq((Seq(Some(1f), None, Some(2f)), Seq(Some(1f), Some(1f), Some(1f))))
    for (in <- Seq(withNull.toDF("a", "b"),
        spark.createDataset(spark.sparkContext.parallelize(withNull)).toDF("a", "b"))) {
      val both = in.select(
        Similarity.cosine(col("a"), col("b")).as("nat"),
        Similarity.cosineHof(col("a"), col("b")).as("hof"))
      assert(both.where(col("nat").isNotNull || col("hof").isNotNull).count() == 0)
    }
  }

  test("native dot and euclid == HOF dotScore/euclidScore (incl. null cases)") {
    val e = Tables.embeddings(spark, sf0001)
    val q = Tables.queryVector(spark, sf0001, 0L)
    val hof = Map("dot" -> (Similarity.dotScore _), "euclid" -> (Similarity.euclidScore _))
    for ((metric, ref) <- hof) {
      def same(in: org.apache.spark.sql.DataFrame, a: String, b: String) = {
        val both = in.select(
          Similarity.score(metric, col(a), col(b)).as("nat"),
          ref(col(a), col(b)).as("hof"))
        assert(both.where(col("nat") =!= col("hof") ||
          col("nat").isNull =!= col("hof").isNull).count() == 0, metric)
      }
      same(e.withColumn("q", typedlit(q)), "embedding", "q")
      // double elements, a dimension mismatch, and a NULL element;
      // interpreted (local relation) and code-generated (RDD scan) alike
      val edge = Seq(
        (Seq(Some(1.5), Some(-2.0)), Seq(Some(0.25), Some(4.0))),
        (Seq(Some(1.0), Some(0.0)), Seq(Some(1.0), Some(0.0), Some(0.0))),
        (Seq(Some(1.0), None, Some(2.0)), Seq(Some(1.0), Some(1.0), Some(1.0))))
      for (in <- Seq(edge.toDF("a", "b"),
          spark.createDataset(spark.sparkContext.parallelize(edge)).toDF("a", "b"))) {
        same(in, "a", "b")
        assert(in.select(Similarity.score(metric, col("a"), col("b")).as("s"))
          .where(col("s").isNotNull).count() == 1, metric)
      }
    }
  }

  test("native shingle hashes == array_distinct(HOF shingle hashes)") {
    val both = docs.select(
      Native.shingleHashes(col("text"), 2).as("nat"),
      array_distinct(TextHash.shingleHashes(col("text"), 2)).as("hof"))
    assert(both.where(col("nat") =!= col("hof")).count() == 0)
  }

  test("native shingle strings == HOF shingles (order and duplicates kept)") {
    val both = docs.select(
      Native.shingleStrings(col("text"), 2).as("nat"),
      TextHash.shingles(col("text"), 2).as("hof"))
    assert(both.where(col("nat") =!= col("hof")).count() == 0)
  }

  test("native minhash signature == HOF signature") {
    val both = docs.select(
      Native.minhashSig(col("text"), 16, 2).as("nat"),
      Dedup.minhashSignature(col("text"), 16, 2).as("hof"))
    assert(both.where(col("nat") =!= col("hof")).count() == 0)
  }

  test("native simhash == HOF simhash") {
    val both = docs.select(
      Native.simhash(col("text")).as("nat"),
      Dedup.simhash(col("text")).as("hof"))
    assert(both.where(col("nat") =!= col("hof")).count() == 0)
  }

  test("native feature-hash embed == HOF embed (normalized and raw)") {
    val both = docs.select(
      Native.featureHashEmbed(col("text"), 16).as("nat"),
      Embed.embed(col("text"), 16).as("hof"),
      Native.featureHashEmbed(col("text"), 16, normalize = false).as("natraw"),
      Embed.embedRaw(col("text"), 16).as("hofraw"))
    assert(both.where(col("nat") =!= col("hof")).count() == 0)
    assert(both.where(col("natraw") =!= col("hofraw")).count() == 0)
    // empty text -> zero vector both ways
    val z = Seq("").toDF("text")
      .select(Native.featureHashEmbed(col("text"), 8).as("v"))
      .as[Seq[Double]].head()
    assert(z.forall(_ == 0.0))
  }

  test("deflateStats: repetitive text compresses harder than diverse text") {
    val rows = Seq(
      (1L, "spam " * 200),                                    // boilerplate
      (2L, (0 until 200).map(i => s"w${i * 7919 % 9973}").mkString(" ")), // diverse
      (3L, ""))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Native.deflateStats(col("text")).as("z"))
      .select(col("doc_id"), col("z.raw_bytes"), col("z.deflate_bytes"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val Array((_, raw1, z1), (_, raw2, z2), (_, raw0, z0)) = rows
    assert(raw1 == 1000L && z1 < raw1 / 10)     // repeats crush down
    assert(z2 > z1 && z2 < raw2)                // diverse compresses less
    assert(raw0 == 0L && z0 > 0L)               // empty input: header only
    // determinism: same input, same bytes (thread-local deflater reset)
    val again = Seq(("spam " * 200)).toDF("text")
      .select(Native.deflateStats(col("text")).as("z"))
      .select(col("z.deflate_bytes")).as[Long].head()
    assert(again == z1)
  }

  test("text kernels survive codegen with fallback DISABLED (doGenCode compiles and is used)") {
    // with fallback off, a janino failure in any kernel's generated code
    // throws instead of silently eval-ing interpreted — this pins that the
    // doGenCode paths actually compile and produce the eval results
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq(
        (0L, "the quick brown fox jumps over the lazy dog"),
        (1L, "the quick brown fox jumps over the lazy cat"),
        (2L, ""), (3L, "one")).toDF("doc_id", "text")
      val out = df.select(
        col("doc_id"),
        Native.shingleHashes(col("text"), 2).as("sh"),
        Native.minhashSig(col("text"), 8, 2).as("mh"),
        Native.simhash(col("text"), 32, 2).as("si"),
        Native.featureHashEmbed(col("text"), 16).as("fe"),
        Native.shingleStrings(col("text"), 2).as("ss"))
      val rows = out.collect().sortBy(_.getLong(0))
      assert(rows.length == 4)
      // codegen results == interpreted kernel results
      assert(rows(0).getSeq[Long](1) ==
        graft.functions.Kernels.distinctShingleHashes(
          "the quick brown fox jumps over the lazy dog", 2).toSeq)
      assert(rows(2).isNullAt(2) && rows(3).isNullAt(2)) // shingle-free -> null sig
      assert(rows(0).getLong(3) ==
        graft.functions.Kernels.simhashOfText(
          "the quick brown fox jumps over the lazy dog", 32, 2))
      // jaccard of the near-dup pair through codegen
      val j = df.where(col("doc_id") === 0).as("a")
        .crossJoin(df.where(col("doc_id") === 1).as("b"))
        .select(Native.jaccardSim(
          Native.shingleHashes(col("a.text"), 2),
          Native.shingleHashes(col("b.text"), 2)).as("j"))
        .as[Double].head()
      assert(j > 0.7 && j < 1.0)
      // the vector scores: each metric's replacement call compiles inside
      // the whole-stage loop and equals its HOF reference
      val emb = Tables.embeddings(spark, sf0001)
        .withColumn("q", typedlit(Tables.queryVector(spark, sf0001, 0L)))
      val hof = Seq("cosine" -> (Similarity.cosineHof _),
        "dot" -> (Similarity.dotScore _), "euclid" -> (Similarity.euclidScore _))
      for ((metric, ref) <- hof) {
        val both = emb.select(
          Similarity.score(metric, col("embedding"), col("q")).as("nat"),
          ref(col("embedding"), col("q")).as("hof"))
        assert(both.where(col("nat") =!= col("hof") ||
          col("nat").isNull =!= col("hof").isNull).count() == 0, metric)
      }
    } finally spark.conf.set("spark.sql.codegen.fallback", "true")
  }
}
