package agentbench

import scala.collection.mutable

/** Exact answers computed in plain Scala, and the comparisons every op's
  * result goes through. A comparison returns None when the answer is right
  * and a description of the first difference otherwise. */
object Check {

  /** The stored memories as the engine holds them: ids, labels and 64-d
    * float vectors, with each row's magnitude precomputed. Scores use the
    * engine's cosine arithmetic: left-to-right double folds over
    * float-promoted elements, and no score (the row is skipped) on a
    * dimension mismatch or a zero magnitude. */
  final class VecIndex(val ids: Array[Long], val labels: Array[Int],
                       val vecs: Array[Array[Float]]) {
    private val mags: Array[Double] = vecs.map { v =>
      var s = 0.0; var i = 0
      while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
      math.sqrt(s)
    }
    val byId: Map[Long, Int] = ids.indices.map(i => ids(i) -> i).toMap
    def size: Int = ids.length

    /** Exact top-k by (score DESC, id ASC) over rows passing the label
      * predicate and the score threshold. */
    def topK(q: Array[Float], k: Int, label: Option[Int],
             threshold: Option[Double]): Seq[(Long, Double)] = {
      var sb = 0.0; var j = 0
      while (j < q.length) { val y = q(j).toDouble; sb += y * y; j += 1 }
      val mb = math.sqrt(sb)
      val order = Ordering.by[(Long, Double), (Double, Long)](t => (t._2, -t._1))
      val heap = mutable.PriorityQueue.empty[(Long, Double)](order.reverse)
      var i = 0
      while (i < ids.length) {
        val v = vecs(i)
        if (label.forall(_ == labels(i)) && v.length == q.length &&
            mags(i) != 0.0 && mb != 0.0) {
          var dot = 0.0; var d = 0
          while (d < q.length) { dot += v(d).toDouble * q(d).toDouble; d += 1 }
          val s = dot / (mags(i) * mb)
          if (threshold.forall(s >= _)) {
            heap.enqueue(ids(i) -> s)
            if (heap.size > k) heap.dequeue()
          }
        }
        i += 1
      }
      heap.toSeq.sortBy(t => (-t._2, t._1))
    }
  }

  def round6(x: Double): BigDecimal =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)

  /** Same ids in the same order, scores equal at 6 decimal places. */
  def topK(expected: Seq[(Long, Double)], got: Seq[(Long, Double)]): Option[String] =
    if (expected.map(_._1) != got.map(_._1))
      Some(s"top-k ids ${got.map(_._1).mkString(",")} != expected ${expected.map(_._1).mkString(",")}")
    else expected.zip(got).collectFirst {
      case ((id, e), (_, g)) if round6(e) != round6(g) =>
        s"score of id $id is ${round6(g)}, expected ${round6(e)}"
    }

  /** A point read returns exactly the expected row (as a list of values). */
  def row(expected: Seq[Any], got: Seq[Seq[Any]]): Option[String] =
    got match {
      case Seq(r) if norm(r) == norm(expected) => None
      case Seq(r) => Some(s"row ${norm(r).mkString("|")} != expected ${norm(expected).mkString("|")}")
      case rs => Some(s"${rs.length} rows, expected 1")
    }

  /** An ordered page of keys. */
  def page(expected: Seq[String], got: Seq[String]): Option[String] =
    if (expected == got) None
    else Some(s"page ${got.take(5).mkString(",")}.. (${got.length}) != expected " +
      s"${expected.take(5).mkString(",")}.. (${expected.length})")

  private def norm(r: Seq[Any]): Seq[Any] = r.map {
    case a: Array[_] => a.toSeq
    case s: scala.collection.Seq[_] => s.toSeq
    case x => x
  }

  /** Order-independent digest of a result: row count plus the wrapping
    * sum and the xor of a 64-bit hash of each row's rendering. */
  def digest(rows: Iterable[String]): String = {
    var sum = 0L; var xor = 0L; var n = 0L
    rows.foreach { r =>
      val h = hash64(r)
      sum += h; xor ^= h * 0x9E3779B97F4A7C15L; n += 1
    }
    f"$n:$sum%016x:$xor%016x"
  }

  private def hash64(s: String): Long = {
    val a = scala.util.hashing.MurmurHash3.stringHash(s, 0x1234567)
    val b = scala.util.hashing.MurmurHash3.stringHash(s, 0x7654321)
    (a.toLong << 32) | (b.toLong & 0xffffffffL)
  }

  def lane(name: String, pinned: Option[String], got: String): Option[String] =
    pinned match {
      case Some(p) if p == got => None
      case Some(p) => Some(s"$name digest $got != pinned $p")
      case None => Some(s"$name has no pinned digest (got $got)")
    }
}
