package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[GraftSession]], so the oracle
  * dump and the bench run under one posture. A second builder in
  * `src/main` is how their confs drifted apart before; this fails on it. */
class SessionPostureSpec extends AnyFunSuite {
  test("SparkSession.builder appears in src/main only inside GraftSession") {
    val hits = MainSources().flatMap { case (name, src) =>
      "SparkSession.builder".r.findAllMatchIn(src).map(_ => name)
    }
    assert(hits == Seq("GraftSession.scala"))
  }
}
