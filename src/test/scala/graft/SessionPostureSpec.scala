package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[GraftSession]], so the oracle
  * dump and the bench run under one posture. A second builder in
  * `src/main` is how their confs drifted apart before; this fails on it. */
class SessionPostureSpec extends AnyFunSuite {
  test("SparkSession.builder appears in src/main only inside GraftSession") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root (no ${root.getPath})")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val hits = files(root).flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      "SparkSession.builder".r.findAllMatchIn(src).map(_ => f.getName)
    }
    assert(hits == Seq("GraftSession.scala"))
  }
}
