package graft.functions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, RuntimeReplaceable, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.objects.Invoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.connector.catalog.functions.ScalarFunction
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Scalar kernels shared by the native expressions. Each reproduces its
  * higher-order-function counterpart in [[TextHash]]/[[Embed]]/[[Similarity]]/
  * [[graft.operators.Dedup]] bit-for-bit (same integer arithmetic, same
  * left-to-right double folds), so swapping native for HOF never changes
  * results — the specs assert equality.
  */
object Kernels {
  val Mod: Long = TextHash.Mod
  val HalfMod: Long = 500000003L

  /** Polynomial rolling hash over code points — mirrors
    * aggregate(split(s,""), 0L, (h,c) => (h*31 + ascii(c)) % Mod). */
  def rollingHash(s: String): Long = {
    var h = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % Mod
      i += Character.charCount(cp)
    }
    h
  }

  def tokens(text: String): Array[String] =
    text.split(" ", -1).filter(_.nonEmpty)

  def tokenHashes(text: String): Array[Long] =
    tokens(text).map(rollingHash)

  /** Distinct word-n-gram shingle hashes, first-occurrence order
    * (mirrors array_distinct(TextHash.shingleHashes)). */
  def distinctShingleHashes(text: String, n: Int): Array[Long] = {
    val toks = tokens(text)
    if (toks.length < n) return Array.emptyLongArray
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      seen.add(rollingHash(sb.toString))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator(); var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    out
  }

  @inline def permHash(h: Long, j: Long): Long =
    (h * (j * 2 + 1) + (j * 7919 + 13)) % Mod

  def minhashSig(hs: Array[Long], nPerm: Int): Array[Long] = {
    val sig = new Array[Long](nPerm)
    var j = 0
    while (j < nPerm) {
      var m = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val p = permHash(hs(i), j)
        if (p < m) m = p
        i += 1
      }
      sig(j) = m
      j += 1
    }
    sig
  }

  def simhash(hs: Array[Long], bits: Int): Long = {
    var acc = 0L
    var i = 0
    while (i < bits) {
      var s = 0L
      var k = 0
      while (k < hs.length) {
        s += (if (permHash(hs(k), i) < HalfMod) 1L else -1L)
        k += 1
      }
      acc = acc * 2 + (if (s > 0) 1L else 0L)
      i += 1
    }
    acc
  }

  /** Word-n-gram shingle strings in order, duplicates kept
    * (mirrors TextHash.shingles). */
  def shingles(text: String, n: Int): Array[String] = {
    val toks = tokens(text)
    if (toks.length < n) return Array.empty[String]
    val out = new Array[String](toks.length - n + 1)
    var i = 0
    while (i <= toks.length - n) {
      val sb = new java.lang.StringBuilder(toks(i))
      var j = 1
      while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  // --- codegen entry points -------------------------------------------
  // Called BY NAME from generated Java (the expressions' doGenCode):
  // `object Kernels` emits static forwarders, so generated code reaches
  // them as plain static calls — the kernel body stays one JIT-compiled
  // method, and the expression stays inside the whole-stage loop.

  /** MinHash signature or null for shingle-free text (the expression's
    * null semantics, shared by eval and codegen). */
  def minhashSigOrNull(text: String, nPerm: Int, shingleN: Int): GenericArrayData = {
    val hs = distinctShingleHashes(text, shingleN)
    if (hs.isEmpty) null else new GenericArrayData(minhashSig(hs, nPerm))
  }

  /** SimHash straight from text (shingle + hash in one call). */
  def simhashOfText(text: String, bits: Int, shingleN: Int): Long =
    simhash(distinctShingleHashes(text, shingleN), bits)

  /** Shingle strings as a ready ArrayData of UTF8String. */
  def shinglesUtf8(text: String, n: Int): GenericArrayData =
    new GenericArrayData(
      shingles(text, n).map(UTF8String.fromString(_)): Array[Any])

  /** Set Jaccard over two long-array ArrayData, null on empty union —
    * the single source of truth for [[JaccardSim]] eval AND codegen. */
  def jaccardOrNull(x: ArrayData, y: ArrayData): java.lang.Double = {
    val setA = new java.util.HashSet[java.lang.Long](math.max(16, x.numElements() * 2))
    var i = 0
    while (i < x.numElements()) { setA.add(x.getLong(i)); i += 1 }
    val nA = setA.size
    val seenB = new java.util.HashSet[java.lang.Long](math.max(16, y.numElements() * 2))
    var common = 0
    var j = 0
    while (j < y.numElements()) {
      val v = y.getLong(j)
      if (seenB.add(v) && setA.contains(v)) common += 1
      j += 1
    }
    val union = nA + seenB.size - common
    if (union == 0) null
    else java.lang.Double.valueOf(common.toDouble / union.toDouble)
  }

  /** HALF_UP-round to 10 decimal places, returned in 1e-10 units —
    * bit-equal to Spark's `CAST(x AS DECIMAL(28,10))` (which rounds the
    * SHORTEST-DECIMAL representation of the double, via
    * BigDecimal.valueOf). The cheap binary round agrees with that
    * everywhere except a few-ulp window around the .5 boundary (where
    * the binary product rounding and the shortest-repr delta could flip
    * the decision) — inside the window we pay the exact BigDecimal path.
    * Throws on |x| ≥ ~9.2e8 (the scaled value would overflow a long) —
    * fail-loud, matching DECIMAL overflow semantics rather than drifting.
    */
  def quant10(p: Double): Long = {
    val scaled = p * 1e10
    val fl = Math.floor(scaled)
    val frac = scaled - fl
    val tol = 4.0 * Math.ulp(scaled) + 1e-9
    if (Math.abs(frac - 0.5) > tol && Math.abs(scaled) < 4.5e18) {
      if (frac >= 0.5) fl.toLong + 1L else fl.toLong
    } else {
      java.math.BigDecimal.valueOf(p)
        .setScale(10, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    }
  }

  /** Jaro–Winkler similarity over UTF-16 chars, matching DuckDB's
    * `jaro_winkler_similarity` decision-for-decision (probed empirically,
    * 2026-08-14): empty-vs-empty is 0.0 (not the textbook 1.0), equal
    * non-empty strings are 1.0, the match window is max(l1,l2)/2 − 1
    * (empty for two 1-char strings), transpositions are half the
    * out-of-order matches, and the Winkler prefix boost (scale 0.1,
    * prefix ≤ 4) applies only when jaro > 0.7. Fixture text is ASCII, so
    * char-level equals DuckDB's byte-level comparison. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.toString
    val s2 = b.toString
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    if (s1 == s2) return 1.0
    val md = math.max(l1, l2) / 2 - 1
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - md)
      val hi = math.min(l2, i + md + 1)
      var j = lo
      var found = false
      while (j < hi && !found) {
        if (!m2(j) && s2.charAt(j) == s1.charAt(i)) {
          m1(i) = true; m2(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val half = t / 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 +
      (m - half).toDouble / m) / 3.0
    var pfx = 0
    val pmax = math.min(4, math.min(l1, l2))
    while (pfx < pmax && s1.charAt(pfx) == s2.charAt(pfx)) pfx += 1
    if (jaro > 0.7) jaro + pfx * 0.1 * (1.0 - jaro) else jaro
  }

  /** DECIMAL(28,10)-quantized sparse dot product over two tok-sorted
    * `array<struct<tok:string, w:double>>` vectors — a merge scan, one
    * quantized product per shared token, summed EXACTLY in scaled longs.
    * Result equals `CAST(SUM(CAST(a.w*b.w AS DECIMAL(28,10))) AS DOUBLE)`
    * of the posting-join form for the same pair, independent of order.
    */
  def sparseDotDec(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0
    var acc = 0L
    while (i < na && j < nb) {
      val ra = a.getStruct(i, 2); val rb = b.getStruct(j, 2)
      val c = ra.getUTF8String(0).compareTo(rb.getUTF8String(0))
      if (c < 0) i += 1
      else if (c > 0) j += 1
      else {
        acc = Math.addExact(acc, quant10(ra.getDouble(1) * rb.getDouble(1)))
        i += 1; j += 1
      }
    }
    java.math.BigDecimal.valueOf(acc, 10).doubleValue()
  }

  /** Plain-double sparse dot over the same tok-sorted vectors — the
    * cheap first phase of the two-phase verify in
    * [[graft.operators.SparseSim]]: no BigDecimal, no quantization, just
    * the merge scan with a double accumulator. Differs from
    * [[sparseDotDec]] by at most 5e-11 per shared token (quantization)
    * plus double summation error, so a threshold prune with a 1e-6
    * margin on the cosine never drops a pair the exact phase would keep.
    */
  def sparseDotDbl(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0
    var acc = 0.0d
    while (i < na && j < nb) {
      val ra = a.getStruct(i, 2); val rb = b.getStruct(j, 2)
      val c = ra.getUTF8String(0).compareTo(rb.getUTF8String(0))
      if (c < 0) i += 1
      else if (c > 0) j += 1
      else {
        acc += ra.getDouble(1) * rb.getDouble(1)
        i += 1; j += 1
      }
    }
    acc
  }

  /** Plain-double dense dot over two equal-length `array<double>`
    * vectors — primitive reads, no per-element allocation: the prune
    * kernel for SparseSim's densified small-vocabulary regime, where the
    * sparse merge scan's per-element struct views and string compares
    * cost ~100x the multiply they guard. */
  def denseDotDbl(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0d
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  /** Int8 max-abs quantization stats — see [[QuantizeStats]]. */
  def quantizeStatsRow(x: ArrayData, isFloat: Boolean)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val n = x.numElements()
    @inline def at(i: Int): Double =
      if (isFloat) x.getFloat(i).toDouble else x.getDouble(i)
    var maxAbs = Double.NegativeInfinity
    var i = 0
    while (i < n) { val a = math.abs(at(i)); if (a > maxAbs) maxAbs = a; i += 1 }
    val scale = maxAbs / 127.0
    var sumAbsQ = 0L
    var errSum = 0.0
    var j = 0
    while (j < n) {
      val xj = at(j)
      if (scale == 0.0) {
        errSum += math.abs(0.0 - xj)
      } else {
        val q = math.floor(xj / scale + 0.5)
        sumAbsQ += math.abs(q).toLong
        errSum += math.abs(q * scale - xj)
      }
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(maxAbs, sumAbsQ, errSum / n.toDouble)
  }

  // --- vector folds ---------------------------------------------------
  // One left-to-right double loop per fold over the first `n` values, in
  // the order of the HOF forms in [[Similarity]]; every vector scorer
  // calls these.

  /** Σ xᵢ·yᵢ */
  def dot(x: Array[Double], y: Array[Double], n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) { s += x(i) * y(i); i += 1 }
    s
  }

  /** Σ (xᵢ − yᵢ)² */
  def sqDist(x: Array[Double], y: Array[Double], n: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < n) { val d = x(i) - y(i); s += d * d; i += 1 }
    s
  }

  /** dot(x,y) / (‖x‖·‖y‖), or null when either magnitude is zero. */
  def cosine(x: Array[Double], y: Array[Double], n: Int): java.lang.Double = {
    var d = 0.0; var sa = 0.0; var sb = 0.0
    var i = 0
    while (i < n) {
      val a = x(i); val b = y(i)
      d += a * b; sa += a * a; sb += b * b
      i += 1
    }
    val ma = math.sqrt(sa); val mb = math.sqrt(sb)
    if (ma == 0.0 || mb == 0.0) null else java.lang.Double.valueOf(d / (ma * mb))
  }

  // per-thread widening buffers, grown on demand: no allocation per row
  private val widenBufs = new ThreadLocal[Array[Array[Double]]] {
    override def initialValue() = new Array[Array[Double]](2)
  }

  /** `a` widened to doubles in this thread's buffer `slot`, or null when
    * `nulls` is set and an element is NULL. */
  private def widen(a: ArrayData, isFloat: Boolean, nulls: Boolean,
                    slot: Int): Array[Double] = {
    val n = a.numElements()
    val bufs = widenBufs.get()
    if (bufs(slot) == null || bufs(slot).length < n) bufs(slot) = new Array[Double](n)
    val out = bufs(slot)
    var i = 0
    while (i < n) {
      if (nulls && a.isNullAt(i)) return null
      out(i) = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    out
  }

  /** [[VectorFn]]'s body: null on a dimension mismatch or
    * on a NULL element (checked only where `xNulls`/`yNulls` allows one),
    * else `metric` over the widened inputs. */
  def score(metric: Metric, x: ArrayData, xFloat: Boolean, xNulls: Boolean,
            y: ArrayData, yFloat: Boolean, yNulls: Boolean): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    val xs = widen(x, xFloat, xNulls, 0)
    if (xs == null) return null
    val ys = widen(y, yFloat, yNulls, 1)
    if (ys == null) null else metric.score(xs, ys, n)
  }

  /** Squared L2 distances to every row of a codebook — see [[CodebookDists]]. */
  def codebookDistsArr(x: ArrayData, cb: Array[Array[Double]],
                       isFloat: Boolean): GenericArrayData = {
    val xs = widen(x, isFloat, nulls = false, 0)
    val out = new Array[Double](cb.length)
    var c = 0
    while (c < cb.length) {
      out(c) = sqDist(xs, cb(c), math.min(x.numElements(), cb(c).length))
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Nearest-centroid index (argmin, first on ties) — see [[CodebookAssign]]. */
  def codebookAssignIdx(x: ArrayData, cb: Array[Array[Double]],
                        isFloat: Boolean): Int = {
    val xs = widen(x, isFloat, nulls = false, 0)
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < cb.length) {
      val s = sqDist(xs, cb(c), math.min(x.numElements(), cb(c).length))
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** Dot products against a literal row matrix — see [[CodebookDots]]. */
  def codebookDotsArr(x: ArrayData, mx: Array[Array[Double]],
                      isFloat: Boolean): GenericArrayData = {
    val xs = widen(x, isFloat, nulls = false, 0)
    val out = new Array[Double](mx.length)
    var r = 0
    while (r < mx.length) {
      out(r) = dot(xs, mx(r), math.min(x.numElements(), mx(r).length))
      r += 1
    }
    new GenericArrayData(out)
  }

  /** Deflate-compressibility stats — see [[DeflateStats]]. */
  def deflateStatsRow(s: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = s.getBytes
    val d = DeflateStats.local.get()
    d.reset()
    d.setInput(bytes)
    d.finish()
    var z = 0L
    val buf = DeflateStats.buf.get()
    while (!d.finished()) z += d.deflate(buf)
    org.apache.spark.sql.catalyst.InternalRow(bytes.length.toLong, z)
  }

  /** Feature-hash embedding — mirrors [[Embed.embed]]: signed counts over
    * token hashes, then L2 normalize with zero-vector passthrough. The
    * normalization magnitude is a left-to-right fold like the HOF form. */
  def featureEmbed(text: String, dim: Int, normalize: Boolean): Array[Double] = {
    val v = new Array[Double](dim)
    val hs = tokenHashes(text)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      val sign = if (h % (2L * dim) < dim) 1.0 else -1.0
      v((h % dim).toInt) += sign
      i += 1
    }
    if (normalize) {
      var s = 0.0
      var k = 0
      while (k < dim) { s += v(k) * v(k); k += 1 }
      val mag = math.sqrt(s)
      if (mag != 0.0) {
        var m = 0
        while (m < dim) { v(m) = v(m) / mag; m += 1 }
      }
    }
    v
  }
}

/** A vector similarity metric — the collection-level distance config of
  * the reference's Qdrant store (src/config.rs:65-69,
  * src/vector_store.rs:44-56). Euclid is inverted to higher-is-better the
  * way that client exposes it (src/vector_store.rs:50). */
sealed abstract class Metric(val name: String) extends Serializable {
  /** The score over the first `n` values; null where the metric has none. */
  def score(x: Array[Double], y: Array[Double], n: Int): java.lang.Double = this match {
    case Metric.Cosine => Kernels.cosine(x, y, n)
    case Metric.Dot => Kernels.dot(x, y, n)
    case Metric.Euclid => 1.0 / (1.0 + math.sqrt(Kernels.sqDist(x, y, n)))
  }
}
object Metric {
  case object Cosine extends Metric("cosine")
  case object Dot extends Metric("dot")
  case object Euclid extends Metric("euclid")

  /** The one reader of a metric name. */
  def parse(name: String): Metric = name.toLowerCase match {
    case "cosine" => Cosine
    case "dot" => Dot
    case "euclid" | "euclidean" => Euclid
    case m => throw new IllegalArgumentException(s"unknown distance metric: $m")
  }
}

/** Vector similarity under `metric` with the reference null semantics
  * (dimension mismatch -> null, cosine at zero magnitude -> null;
  * reference src/memory.rs:150-161) plus the HOF forms' NULL-element rule:
  * a NULL element on either side -> null, checked only on an input whose
  * `ArrayType.containsNull` allows one. Bit-identical to the HOF forms in
  * [[Similarity]]. The optimizer replaces it with a call of [[VectorFn]],
  * which the whole-stage loop runs as a method call and which a V2 source
  * receives as `graft.<metric>(a, b)`: that is how the query vector
  * reaches [[graft.sources.MemoryBucketSource]].
  */
case class VectorScore(metric: Metric, left: Expression, right: Expression)
    extends BinaryExpression with RuntimeReplaceable {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${metric.name} score expects ARRAY<FLOAT|DOUBLE>, got ${left.dataType} / ${right.dataType}")
  }

  override lazy val replacement: Expression = {
    val ArrayType(lt, ln) = left.dataType: @unchecked
    val ArrayType(rt, rn) = right.dataType: @unchecked
    val fn = VectorFn(metric, lt == FloatType, ln, rt == FloatType, rn)
    // no null propagation: a null-intolerant call would make the optimizer
    // infer and push `embedding IS NOT NULL` into every scan below it
    Invoke(Literal.create(fn, ObjectType(classOf[VectorFn])), "invoke", DoubleType,
      Seq(left, right), propagateNull = false, returnNullable = true)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** [[VectorScore]]'s V2 function, bound to its input types; a case class,
  * so requests with the same metric and types build equal plans. */
case class VectorFn(metric: Metric, xFloat: Boolean, xNulls: Boolean,
                    yFloat: Boolean, yNulls: Boolean)
    extends ScalarFunction[java.lang.Double] {
  override def name(): String = metric.name
  override def canonicalName(): String = "graft." + metric.name
  override def inputTypes(): Array[DataType] = Array(
    ArrayType(if (xFloat) FloatType else DoubleType, xNulls),
    ArrayType(if (yFloat) FloatType else DoubleType, yNulls))
  override def resultType(): DataType = DoubleType

  def invoke(x: ArrayData, y: ArrayData): java.lang.Double =
    if (x == null || y == null) null
    else Kernels.score(metric, x, xFloat, xNulls, y, yFloat, yNulls)
}

/** Set Jaccard |A∩B| / |A∪B| over long arrays in one pass (single hash set;
  * = size(array_intersect)/size(array_union) on distinct inputs, the
  * [[graft.operators.Dedup.jaccardOf]] HOF). Defensively dedupes.
  * Codegen calls the same [[Kernels.jaccardOrNull]] the interpreter uses,
  * as a static call inside the whole-stage loop. */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaccard_sim expects ARRAY<BIGINT>, got ${left.dataType} / ${right.dataType}")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.jaccardOrNull(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val tmp = ctx.freshName("jac")
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double $tmp = graft.functions.Kernels.jaccardOrNull($a, $b);
      if ($tmp == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $tmp.doubleValue(); }""")
  }
  override def nullable: Boolean = true
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Jaro–Winkler string similarity ([[Kernels.jaroWinkler]] — DuckDB-
  * compatible semantics) as a codegen'd binary expression, so the
  * sorted-neighborhood verify stage stays inside the whole-stage loop of
  * the candidate join. Null-safe: null in → null out. */
case class JaroWinklerSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaro_winkler expects STRING, got ${left.dataType} / ${right.dataType}")
  override def nullSafeEval(a: Any, b: Any): Any =
    Kernels.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Kernels.jaroWinkler($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Shared shape for the text kernels: unary, string-input, codegen via a
  * static [[Kernels]] call so the scan stays in whole-stage codegen (a
  * CodegenFallback would box an InternalRow and eval interpreted per row
  * right in the middle of the dedup scans — the biggest bench items). */
private[functions] trait TextKernelCodegen { self: UnaryExpression =>
  /** Java source for one static kernel call; `in` is the UTF8String input
    * expression, result must be assigned to `ev.value` (and `ev.isNull`
    * for nullable kernels). */
  protected def kernelCall(in: String, ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode): String
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, in => kernelCall(in, ev))
}

/** Distinct word-n-gram shingle hashes in one pass
  * (= array_distinct(TextHash.shingleHashes(text, n))). */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with TextKernelCodegen {
  override def checkInputDataTypes(): TypeCheckResult = StringInput.check(child, "shingle_hashes")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      Kernels.distinctShingleHashes(v.asInstanceOf[UTF8String].toString, n))
  override protected def kernelCall(in: String,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode): String =
    s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
       |  graft.functions.Kernels.distinctShingleHashes($in.toString(), $n));""".stripMargin
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** MinHash signature in one pass (= Dedup.minhashSignature). */
case class MinHashSig(child: Expression, nPerm: Int, shingleN: Int)
    extends UnaryExpression with TextKernelCodegen {
  override def checkInputDataTypes(): TypeCheckResult = StringInput.check(child, "minhash_sig")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.minhashSigOrNull(v.asInstanceOf[UTF8String].toString, nPerm, shingleN)
  override protected def kernelCall(in: String,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode): String =
    s"""${ev.value} = graft.functions.Kernels.minhashSigOrNull(
       |  $in.toString(), $nPerm, $shingleN);
       |${ev.isNull} = (${ev.value} == null);""".stripMargin
  override def nullable: Boolean = true
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** SimHash in one pass (= Dedup.simhash). */
case class SimHash(child: Expression, bits: Int, shingleN: Int)
    extends UnaryExpression with TextKernelCodegen {
  override def checkInputDataTypes(): TypeCheckResult = StringInput.check(child, "simhash")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(
      Kernels.simhashOfText(v.asInstanceOf[UTF8String].toString, bits, shingleN))
  override protected def kernelCall(in: String,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode): String =
    s"${ev.value} = graft.functions.Kernels.simhashOfText($in.toString(), $bits, $shingleN);"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Feature-hash embedding in one pass (= Embed.embed / embedRaw). */
case class FeatureHashEmbed(child: Expression, dim: Int, normalize: Boolean)
    extends UnaryExpression with TextKernelCodegen {
  override def checkInputDataTypes(): TypeCheckResult = StringInput.check(child, "feature_hash_embed")
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    new GenericArrayData(
      Kernels.featureEmbed(v.asInstanceOf[UTF8String].toString, dim, normalize))
  override protected def kernelCall(in: String,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode): String =
    s"""${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
       |  graft.functions.Kernels.featureEmbed($in.toString(), $dim, $normalize));""".stripMargin
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Word-n-gram shingle strings in one pass (= TextHash.shingles — order
  * kept, duplicates kept). The HOF form interprets a concat_ws+slice
  * lambda per shingle; this is one tokenizer pass per document. */
case class ShingleStrings(child: Expression, n: Int)
    extends UnaryExpression with TextKernelCodegen {
  override def checkInputDataTypes(): TypeCheckResult =
    StringInput.check(child, "shingle_strings")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.shinglesUtf8(v.asInstanceOf[UTF8String].toString, n)
  override protected def kernelCall(in: String,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode): String =
    s"${ev.value} = graft.functions.Kernels.shinglesUtf8($in.toString(), $n);"
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** DECIMAL-quantized sparse dot product over tok-sorted
  * `array<struct<tok,w>>` vectors (see [[Kernels.sparseDotDec]]) — the
  * verify kernel of [[graft.operators.SparseSim.cosinePairsPrefix]]: one
  * merge scan per candidate pair instead of a posting-join row per shared
  * token. Codegen is a static kernel call inside the whole-stage loop.
  */
case class SparseDotDec(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  // BinaryExpression's nullSafeEval/nullSafeCodeGen return null on null
  // input, so nullability must follow the children — declaring false
  // would let the optimizer fold IsNull to false and codegen emit a
  // wrong 0.0 for a null vector.
  override def nullable: Boolean = left.nullable || right.nullable
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(StructType(Array(
        StructField(_, StringType, _, _), StructField(_, DoubleType, _, _))), _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sparse_dot_dec expects ARRAY<STRUCT<STRING, DOUBLE>>, got ${left.dataType} / ${right.dataType}")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(
      Kernels.sparseDotDec(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Kernels.sparseDotDec($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Plain-double sparse dot over tok-sorted `array<struct<tok,w>>` vectors
  * (see [[Kernels.sparseDotDbl]]) — the first phase of SparseSim's
  * two-phase verify: prune the candidate flood with cheap double
  * arithmetic, run the DECIMAL-exact [[SparseDotDec]] only on the
  * near-threshold survivors.
  */
case class SparseDotDbl(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(StructType(Array(
        StructField(_, StringType, _, _), StructField(_, DoubleType, _, _))), _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sparse_dot_dbl expects ARRAY<STRUCT<STRING, DOUBLE>>, got ${left.dataType} / ${right.dataType}")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(
      Kernels.sparseDotDbl(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Kernels.sparseDotDbl($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Plain-double dense dot over two `array<double>` vectors (see
  * [[Kernels.denseDotDbl]]): primitive-loop arithmetic inside the
  * whole-stage loop, fit for evaluation as a join predicate.
  */
case class DenseDotDbl(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dense_dot_dbl expects ARRAY<DOUBLE>, got $l / $r")
    }
  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(
      Kernels.denseDotDbl(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.Kernels.denseDotDbl($a, $b);")
  override protected def withNewChildrenInternal(l: Expression, r: Expression) =
    copy(left = l, right = r)
}

/** Int8 quantization stats in one pass: (max_abs, sum_abs_q, mae) for the
  * symmetric max-abs scheme of [[graft.operators.Quantization]]. The HOF
  * form re-inlines the max-abs fold into the per-element lambda (the
  * single-static-reference collapse), making it O(d^2) per row; this is
  * O(d). Bit-identical arithmetic: scale = maxAbs/127 in double,
  * q = floor(x/scale + 0.5), error summed in index order.
  */
case class QuantizeStats(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"quantize_stats expects ARRAY<FLOAT|DOUBLE>, got $dt")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("max_abs", DoubleType, nullable = false),
    StructField("sum_abs_q", LongType, nullable = false),
    StructField("mae", DoubleType, nullable = false)))
  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(v: Any): Any =
    Kernels.quantizeStatsRow(v.asInstanceOf[ArrayData], isFloat)
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.Kernels.quantizeStatsRow($in, $isFloat);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Shared shape of the literal-matrix kernels: a float/double vector
  * against every row of a literal k x dim matrix of index metadata (IVF
  * and PQ codebooks, SRP hyperplanes), widened once per row. Eval and
  * codegen call the same `Kernels.<kernel>`; the matrix rides along as a
  * referenced object (one instance per task), not as inlined source. */
abstract class MatrixKernel(kernel: String) extends UnaryExpression with Serializable {
  def matrix: Seq[Seq[Double]]
  @transient protected lazy val rows: Array[Array[Double]] =
    matrix.map(_.toArray).toArray
  @transient protected lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects ARRAY<FLOAT|DOUBLE>, got $dt")
  }
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("rows", rows, "double[][]")
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.Kernels.$kernel($in, $ref, $isFloat);")
  }
}

/** Squared L2 distances to every centroid of a codebook: left-to-right
  * per-dimension folds, matching the zip_with+aggregate HOF form the
  * DuckDB oracle mirrors. One native eval replaces k HOF folds, and the
  * plan stops carrying k 64-element literal arrays. */
case class CodebookDists(child: Expression, matrix: Seq[Seq[Double]])
    extends MatrixKernel("codebookDistsArr") {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.codebookDistsArr(v.asInstanceOf[ArrayData], rows, isFloat)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Nearest-centroid index (argmin of [[CodebookDists]], first occurrence
  * on ties — the array_position(array_min) contract). */
case class CodebookAssign(child: Expression, matrix: Seq[Seq[Double]])
    extends MatrixKernel("codebookAssignIdx") {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    java.lang.Integer.valueOf(
      Kernels.codebookAssignIdx(v.asInstanceOf[ArrayData], rows, isFloat))
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Dot products against a literal row matrix (SRP hyperplanes,
  * random-projection bases): per row, a left-to-right sum of x_i * h_i
  * with floats widened to double, matching the
  * list_sum(list_transform(...)) form the DuckDB oracle mirrors. */
case class CodebookDots(child: Expression, matrix: Seq[Seq[Double]])
    extends MatrixKernel("codebookDotsArr") {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    Kernels.codebookDotsArr(v.asInstanceOf[ArrayData], rows, isFloat)
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}

/** Deflate-compressibility stats per string: (raw_bytes, deflate_bytes).
  * Compression ratio is a standard corpus-quality signal (repetitive
  * boilerplate compresses far better than natural prose). zlib level 6,
  * raw UTF-8 input, one pass per row off a thread-local Deflater — no
  * engine-portable SQL mirror exists, so the query using this is a
  * rows-only check (like the sketches).
  */
case class DeflateStats(child: Expression)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    StringInput.check(child, "deflate_stats")
  override def dataType: DataType = StructType(Seq(
    StructField("raw_bytes", LongType, nullable = false),
    StructField("deflate_bytes", LongType, nullable = false)))
  override def nullSafeEval(v: Any): Any =
    Kernels.deflateStatsRow(v.asInstanceOf[UTF8String])
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, in =>
      s"${ev.value} = graft.functions.Kernels.deflateStatsRow($in);")
  override protected def withNewChildInternal(c: Expression) = copy(child = c)
}
object DeflateStats {
  private[functions] val local = new ThreadLocal[java.util.zip.Deflater] {
    override def initialValue() = new java.util.zip.Deflater(6, false)
  }
  private[functions] val buf = new ThreadLocal[Array[Byte]] {
    override def initialValue() = new Array[Byte](8192)
  }
}

private[graft] object StringInput {
  def check(child: Expression, name: String): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name expects STRING, got ${child.dataType}")
}

/** Column-API front door for the native kernels. */
object Native {
  private def col(e: Expression): Column = GraftBridge.column(e)
  private def ex(c: Column): Expression = GraftBridge.expression(c)
  def sparseDotDec(a: Column, b: Column): Column = col(SparseDotDec(ex(a), ex(b)))
  def sparseDotDbl(a: Column, b: Column): Column = col(SparseDotDbl(ex(a), ex(b)))
  def denseDotDbl(a: Column, b: Column): Column = col(DenseDotDbl(ex(a), ex(b)))
  def jaccardSim(a: Column, b: Column): Column = col(JaccardSim(ex(a), ex(b)))
  def jaroWinkler(a: Column, b: Column): Column =
    col(JaroWinklerSim(ex(a), ex(b)))
  def shingleHashes(text: Column, n: Int): Column = col(ShingleHashes(ex(text), n))
  def minhashSig(text: Column, nPerm: Int, shingleN: Int): Column =
    col(MinHashSig(ex(text), nPerm, shingleN))
  def simhash(text: Column, bits: Int = 32, shingleN: Int = 2): Column =
    col(SimHash(ex(text), bits, shingleN))
  def featureHashEmbed(text: Column, dim: Int, normalize: Boolean = true): Column =
    col(FeatureHashEmbed(ex(text), dim, normalize))
  def codebookDists(vec: Column, codebook: Seq[Seq[Double]]): Column =
    col(CodebookDists(ex(vec), codebook))
  def codebookAssign(vec: Column, codebook: Seq[Seq[Double]]): Column =
    col(CodebookAssign(ex(vec), codebook))
  def codebookDots(vec: Column, matrix: Seq[Seq[Double]]): Column =
    col(CodebookDots(ex(vec), matrix))
  def shingleStrings(text: Column, n: Int): Column =
    col(ShingleStrings(ex(text), n))
  def quantizeStats(vec: Column): Column = col(QuantizeStats(ex(vec)))
  def deflateStats(text: Column): Column = col(DeflateStats(ex(text)))
}
