package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every streaming replay reads its staged input through one file
  * source, typed by the schema of what was staged (`ReplayFeed` in
  * `EventStream`). A second `maxFilesPerTrigger` source, or a
  * hand-typed DDL string handed to a stream, is how a lane's reader
  * could silently disagree with the columns it staged; this fails on
  * either. */
class ReplayFeedRuleSpec extends AnyFunSuite {
  test("src/main builds one replay stream source and types no stream by" +
      " a DDL string") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root (no ${root.getPath})")
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    val srcs = files(root).map(f => f.getName ->
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
    def hits(re: String): Seq[String] = srcs.flatMap { case (n, src) =>
      re.r.findAllMatchIn(src).map(_ => n)
    }
    val sources = hits("""option\(\s*"maxFilesPerTrigger"""")
    assert(sources.size == 1, s"replay stream sources: $sources")
    val ddl = hits("""readStream\s*\.schema\(\s*"""")
    assert(ddl.isEmpty, s"DDL-typed streams: $ddl")
  }
}
