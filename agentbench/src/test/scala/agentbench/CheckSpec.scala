package agentbench

import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {
  private val index = new Check.VecIndex(
    Array(5L, 3L, 9L, 1L, 7L),
    Array(0, 1, 0, 1, 0),
    Array(Array(1f, 0f), Array(0.9f, 0.1f), Array(0f, 1f), Array(1f, 0f), Array(0f, 0f)))

  test("exact top-k orders by score then id and applies predicate and threshold") {
    val q = Array(1f, 0f)
    // ids 1 and 5 tie at 1.0: the lower id ranks first; id 7 has zero
    // magnitude and is never a result
    assert(index.topK(q, 3, None, None).map(_._1) == Seq(1L, 5L, 3L))
    assert(index.topK(q, 10, None, None).map(_._1) == Seq(1L, 5L, 3L, 9L))
    assert(index.topK(q, 10, Some(0), None).map(_._1) == Seq(5L, 9L))
    assert(index.topK(q, 10, None, Some(0.5)).map(_._1) == Seq(1L, 5L, 3L))
  }

  test("the top-k check goes red on a seeded wrong answer") {
    val right = index.topK(Array(1f, 0f), 3, None, None)
    assert(Check.topK(right, right).isEmpty)
    val swapped = Seq(right(1), right(0), right(2))
    assert(Check.topK(right, swapped).isDefined)
    assert(Check.topK(right, right.take(2)).isDefined)
    val offScore = right.updated(2, right(2)._1 -> (right(2)._2 + 2e-6))
    assert(Check.topK(right, offScore).isDefined)
    // a difference below the 6th decimal is the same answer
    assert(Check.topK(right, right.updated(2, right(2)._1 -> (right(2)._2 + 1e-9))).isEmpty)
  }

  test("the lookup check goes red on a wrong row, a missing row or an extra row") {
    val row = Seq(3L, "text", "en", "src3", 1, Seq(0.9f, 0.1f))
    assert(Check.row(row, Seq(row)).isEmpty)
    assert(Check.row(row, Seq(row.updated(1, "other"))).isDefined)
    assert(Check.row(row, Seq(row.updated(5, Seq(0.9f, 0.2f)))).isDefined)
    assert(Check.row(row, Nil).isDefined)
    assert(Check.row(row, Seq(row, row)).isDefined)
  }

  test("the catalog page check compares keys in order") {
    assert(Check.page(Seq("b", "a"), Seq("b", "a")).isEmpty)
    assert(Check.page(Seq("b", "a"), Seq("a", "b")).isDefined)
  }

  test("lane digests ignore row order and go red on a changed result") {
    val rows = Seq("1|a|0.5", "2|b|0.25", "3|c|0.125")
    val d = Check.digest(rows)
    assert(Check.digest(rows.reverse) == d)
    assert(Check.lane("x", Some(d), d).isEmpty)
    assert(Check.lane("x", Some(d), Check.digest(rows.updated(1, "2|b|0.26"))).isDefined)
    assert(Check.lane("x", Some(d), Check.digest(rows :+ "4|d|0.0")).isDefined)
    assert(Check.lane("x", Some(d), Check.digest(rows.tail)).isDefined)
    assert(Check.lane("x", None, d).isDefined)
  }

  test("the request stream is a function of the seed") {
    val data = new Serve.Data("unused", Serve.Sizes("serve-small"), index, Array.empty,
      Array.empty, Array.empty, Gen.sessions(50, 1).toIndexedSeq)
    def stream(seed: Long) = {
      val r = new Serve.Requests(seed, 0, data)
      Seq.fill(40)(r.next()).map {
        case Serve.Search(q, l, t) => ("search", q.toSeq, l, t)
        case Serve.StoreSearch(q, t) => ("store_search", q.toSeq, None, t)
        case other => (other.toString, Nil, None, None)
      }
    }
    assert(stream(7) == stream(7))
    assert(stream(7) != stream(8))
    // every round sends each type once; each type alternates its variants
    val kinds = { val r = new Serve.Requests(7, 0, data); Seq.fill(40)(r.next().kind) }
    kinds.grouped(4).foreach(g => assert(g.map(_.split("_").head).sorted ==
      Seq("catalog", "lookup", "search", "store")))
    assert(kinds.count(_ == "search") == kinds.count(_ == "search_label"))
    assert(kinds.count(_ == "catalog_get") == kinds.count(_ == "catalog_list"))
  }
}
