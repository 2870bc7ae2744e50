package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions._

/** SQL surface of the engine: registers the native kernels as SQL functions
  * so `spark.sql("SELECT cosine_sim(embedding, q) ...")` works — either via
  * `--conf spark.sql.extensions=graft.GraftExtensions` at session build, or
  * [[GraftFunctions.register]] on a live session.
  *
  * Int/bool parameters arrive as foldable literals (SQL has no Scala
  * default args): `minhash_sig(text, 16, 2)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftFunctions {
  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case _ => throw new IllegalArgumentException(s"$what must be an integer literal")
  }
  private def boolArg(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case _ => throw new IllegalArgumentException(s"$what must be a boolean literal")
  }
  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  val all: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim",
      info("cosine_sim", "cosine_sim(a, b) - cosine similarity; NULL on dim mismatch/zero magnitude"),
      (es: Seq[Expression]) => VectorScore(Metric.Cosine, es(0), es(1))),
    ("jaccard_sim",
      info("jaccard_sim", "jaccard_sim(a, b) - set jaccard over BIGINT arrays"),
      (es: Seq[Expression]) => JaccardSim(es(0), es(1))),
    ("shingle_hashes",
      info("shingle_hashes", "shingle_hashes(text, n) - distinct word n-gram hashes"),
      (es: Seq[Expression]) => ShingleHashes(es(0), intArg(es(1), "n"))),
    ("minhash_sig",
      info("minhash_sig", "minhash_sig(text, nPerm, shingleN) - MinHash signature"),
      (es: Seq[Expression]) =>
        MinHashSig(es(0), intArg(es(1), "nPerm"), intArg(es(2), "shingleN"))),
    ("simhash",
      info("simhash", "simhash(text[, bits, shingleN]) - 32-bit SimHash"),
      (es: Seq[Expression]) => SimHash(es(0),
        if (es.size > 1) intArg(es(1), "bits") else 32,
        if (es.size > 2) intArg(es(2), "shingleN") else 2)),
    ("embed_text",
      info("embed_text", "embed_text(text, dim[, normalize]) - feature-hash embedding"),
      (es: Seq[Expression]) => FeatureHashEmbed(es(0), intArg(es(1), "dim"),
        if (es.size > 2) boolArg(es(2), "normalize") else true)),
    ("quantize_stats",
      info("quantize_stats", "quantize_stats(vec) - int8 max-abs quantization stats struct"),
      (es: Seq[Expression]) => QuantizeStats(es(0))),
    ("deflate_stats",
      info("deflate_stats", "deflate_stats(text) - (raw_bytes, deflate_bytes) compressibility"),
      (es: Seq[Expression]) => DeflateStats(es(0))))

  /** Register on a live session (temp functions, session-scoped). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "scala_udf")
    }
}
