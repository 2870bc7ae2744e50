package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bucketed layouts hash ids with one rule, stated once in
  * `MemoryOps` (the writer's column and its driver-side evaluation).
  * A hand-written mirror elsewhere is how pruning and the point lookups
  * could silently pick a bucket the writer never used; this fails on
  * one. */
class BucketRuleSpec extends AnyFunSuite {
  test("the bucket hash is stated in src/main only inside MemoryOps") {
    val all = MainSources()
    assert(all.exists(_._1 == "MemoryOps.scala"))
    val hits = all.flatMap { case (name, src) =>
      """XXH64|pmod\(xxhash64""".r.findAllMatchIn(src).map(_ => name)
    }
    assert(hits.forall(_ == "MemoryOps.scala"), hits)
  }
}
