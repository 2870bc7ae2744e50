package graft

import org.scalatest.funsuite.AnyFunSuite

/** A registered query is tagged `lane = true` exactly when its function
  * runs a Structured Streaming replay, i.e. its body calls
  * `EventStream.replay*`. Bench totals the tagged set as the streaming
  * lane, so a batch query tagged as a lane (or a replay left untagged)
  * would be counted in the wrong total; this fails on either. A source
  * scan: no SparkSession. */
class LaneRuleSpec extends AnyFunSuite {
  test("lane = true holds exactly for the queries whose body calls" +
      " EventStream.replay") {
    val entry =
      """Query\("(\w+)",\s*(\w+),\s*\w+(,\s*lane\s*=\s*true)?\)""".r
    val scanned = MainSources().flatMap { case (file, src) =>
      entry.findAllMatchIn(src).map { m =>
        val (name, fn, tagged) = (m.group(1), m.group(2), m.group(3) != null)
        val defs = s"""\n  def $fn\\(""".r.findAllMatchIn(src).toSeq
        assert(defs.size == 1, s"$file: $name: ${defs.size} defs of $fn")
        // the body runs to the next line indented at the def's level
        val rest = src.substring(defs.head.end)
        val body = rest.substring(0, """\n  \S""".r.findFirstMatchIn(rest)
          .map(_.start).getOrElse(rest.length))
          .replaceAll("""(?s)/\*.*?\*/""", "").replaceAll("//[^\n]*", "")
        (name, tagged, body.contains("EventStream.replay"))
      }
    }
    assert(scanned.map(_._1).sorted == SparkEntry.all.map(_.name).sorted,
      "the scan must see every registered entry")
    val wrong = scanned.collect { case (n, t, r) if t != r =>
      s"$n (lane = $t, calls EventStream.replay = $r)"
    }
    assert(wrong.isEmpty, s"lane tags that disagree with the body: $wrong")
    val lanes = scanned.collect { case (n, true, _) => n }.toSet
    assert(lanes.nonEmpty && lanes == Bench.streamingLane)
  }
}
