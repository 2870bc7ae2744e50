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
    val srcs = MainSources()
    def hits(re: String): Seq[String] = srcs.flatMap { case (n, src) =>
      re.r.findAllMatchIn(src).map(_ => n)
    }
    val sources = hits("""option\(\s*"maxFilesPerTrigger"""")
    assert(sources.size == 1, s"replay stream sources: $sources")
    val ddl = hits("""readStream\s*\.schema\(\s*"""")
    assert(ddl.isEmpty, s"DDL-typed streams: $ddl")
  }
}
