package graft

import org.scalatest.funsuite.AnyFunSuite

/** Each vector fold is written once, in `Kernels`, and every scorer calls
  * it; the higher-order forms in `Similarity` are the references the
  * specs and the DuckDB oracle check the kernel against, so no query path
  * may score through them. These scans fail on a second copy: a
  * hand-inlined loop in generated Java, a query path calling a reference
  * form, or a second reader of metric names. The store takes its query
  * vector from the plan, never from a scan option. */
class KernelRuleSpec extends AnyFunSuite {
  private lazy val all = MainSources()

  test("no generated-Java loop in src/main: codegen calls a static kernel") {
    val hits = all.collect { case (name, src) if src.contains("for (int") => name }
    assert(hits.isEmpty, hits)
  }

  test("the HOF score forms are referenced in src/main only inside Similarity") {
    val ref = """\b(cosineHof|dotScore|euclidScore)\b""".r
    assert(all.exists { case (n, src) => n == "Similarity.scala" && ref.findFirstIn(src).nonEmpty })
    val hits = all.collect { case (name, src) if name != "Similarity.scala" =>
      ref.findAllIn(src).map(m => s"$name: $m")
    }.flatten
    assert(hits.isEmpty, hits)
  }

  test("metric names are parsed in one place") {
    val hits = all.flatMap { case (name, src) =>
      "unknown distance metric".r.findAllMatchIn(src).map(_ => name)
    }
    assert(hits.size == 1, hits)
  }

  test("the store reads its scorer only from the pushed score call") {
    val options = all.collect { case (name, src) if src.contains("scoreVector") => name }
    assert(options.isEmpty, options)
    val readers = all.collect { case (name, src) if src.contains("UserDefinedScalarFunc") => name }
    assert(readers == Seq("MemoryBucketSource.scala"), readers)
  }
}
