package graft

import org.scalatest.funsuite.AnyFunSuite

/** The versioned table's metadata files are named in `src/main` only
  * by the two modules that own them: `VersionedTable` (the layout's
  * `_SCHEMA`, `_NBUCKETS`, `_RETENTION_HORIZON`, `_GEN_COMMIT`) and
  * `WriterLease` (`_OWNER`, `_WRITER`, `_WRITER_HB`). A marker named
  * anywhere else is a store rule stated twice; this fails on one.
  * `_SUCCESS` is Spark's own commit marker and stays free. */
class StoreRuleSpec extends AnyFunSuite {
  test("the store's marker files are named in src/main only inside" +
      " VersionedTable and WriterLease") {
    val owners = Set("VersionedTable.scala", "WriterLease.scala")
    val markers = Seq("_OWNER", "_WRITER", "_WRITER_HB", "_NBUCKETS",
      "_RETENTION_HORIZON", "_GEN_COMMIT", "_SCHEMA")
    // a one-line string literal containing a whole marker name
    val literal = ("\"[^\"\\n]*(?<![A-Za-z0-9_])(?:" + markers.mkString("|") +
      ")(?![A-Za-z0-9_])[^\"\\n]*\"").r
    val hits = MainSources().collect { case (name, src) if !owners(name) =>
      literal.findAllIn(src).map(m => s"$name: $m")
    }.flatten
    assert(hits.isEmpty, hits)
  }
}
