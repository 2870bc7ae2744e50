package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bucketed layouts hash ids with one rule, stated once in
  * `MemoryOps` (the writer's column and its driver-side evaluation).
  * A hand-written mirror elsewhere is how pruning and the point lookups
  * could silently pick a bucket the writer never used; this fails on
  * one. */
class BucketRuleSpec extends AnyFunSuite {
  test("the bucket hash is stated in src/main only inside MemoryOps") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root (no ${root.getPath})")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val all = files(root)
    assert(all.exists(_.getName == "MemoryOps.scala"))
    val hits = all.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      """XXH64|pmod\(xxhash64""".r.findAllMatchIn(src).map(_ => f.getName)
    }
    assert(hits.forall(_ == "MemoryOps.scala"), hits)
  }
}
