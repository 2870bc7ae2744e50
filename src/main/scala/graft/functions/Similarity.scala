package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.functions._

/** Vector similarity scoring as composable, codegen-friendly `Column`
  * expressions (higher-order array functions — no UDFs).
  *
  * Semantics follow the reference engine's `cosine_similarity`
  * (reference: src/memory.rs:150-161):
  *   - dimension mismatch         -> NULL (row silently excluded downstream)
  *   - zero magnitude either side -> NULL
  *   - a NULL element either side -> NULL (the folds propagate it)
  *   - otherwise                  -> dot(a,b) / (|a| * |b|)
  *
  * The Qdrant-backed store additionally supports Dot and Euclid metrics
  * (reference: src/config.rs:65-69, src/vector_store.rs:44-56); Euclid
  * scores are inverted to "higher is better" the way that client exposes
  * them (reference: src/vector_store.rs:50).
  *
  * All arithmetic is in double precision with a deterministic
  * left-to-right fold over the array, so results match an ANSI-SQL oracle
  * performing the same cast-then-fold.
  *
  * The query path scores with the native [[VectorScore]] ([[cosine]],
  * [[score]]); the higher-order forms ([[cosineHof]], [[dotScore]],
  * [[euclidScore]]) are the SQL-mirrorable references the specs and the
  * DuckDB oracle check it against.
  */
object Similarity {
  private val D = "double"
  private def nullD: Column = lit(null).cast(D)

  /** Σ aᵢ·bᵢ — single left-to-right fold in double. */
  def dotProduct(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast(D) * y.cast(D)),
      lit(0.0), (acc, x) => acc + x)

  /** ‖a‖₂ */
  def magnitude(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x.cast(D) * x.cast(D)))

  private def dimGuard(a: Column, b: Column)(body: => Column): Column =
    when(a.isNull || b.isNull || size(a) =!= size(b), nullD).otherwise(body)

  /** Cosine similarity with the reference's NULL rules — higher-order
    * composition (3 array traversals). */
  def cosineHof(a: Column, b: Column): Column = dimGuard(a, b) {
    val ma = magnitude(a)
    val mb = magnitude(b)
    when(ma === 0.0 || mb === 0.0, nullD)
      .otherwise(dotProduct(a, b) / (ma * mb))
  }

  /** Cosine similarity — the native [[VectorScore]]; bit-identical to
    * [[cosineHof]]. */
  def cosine(a: Column, b: Column): Column = vectorScore(Metric.Cosine, a, b)

  /** Plain dot-product score (Qdrant `Distance::Dot`). */
  def dotScore(a: Column, b: Column): Column = dimGuard(a, b)(dotProduct(a, b))

  /** L2 distance. */
  def euclideanDistance(a: Column, b: Column): Column = dimGuard(a, b) {
    sqrt(aggregate(
      zip_with(a, b, (x, y) => (x.cast(D) - y.cast(D)) * (x.cast(D) - y.cast(D))),
      lit(0.0), (acc, x) => acc + x))
  }

  /** Euclid similarity, inverted to higher-is-better: 1 / (1 + dist). */
  def euclidScore(a: Column, b: Column): Column =
    lit(1.0) / (lit(1.0) + euclideanDistance(a, b))

  /** Metric dispatch mirroring the collection-level distance config. */
  def score(metric: String, a: Column, b: Column): Column =
    vectorScore(Metric.parse(metric), a, b)

  private def vectorScore(m: Metric, a: Column, b: Column): Column =
    GraftBridge.column(VectorScore(m, GraftBridge.expression(a), GraftBridge.expression(b)))
}
