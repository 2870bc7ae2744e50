package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver-contract registry's structural invariants — the coverage
  * claims rest on these, and nothing else checks them:
  *
  *  1. No query name is stated twice across the entries of
  *     `SparkEntry.all`: `toMap` keeps the last binding on collision,
  *     dropping one implementation from the verify/bench surface with no
  *     error.
  *  2. Every registered query has a non-blank DuckDB oracle: a query
  *     without one silently downgrades to the driver's weaker rows-only
  *     check. The contract allows omitting oracles for genuinely
  *     non-SQL-expressible ops — such a query must be added to the
  *     explicit exemption set here, so the downgrade is a reviewed
  *     decision, never drift. (None exist today.)
  *  3. Every query name the bench and soak harnesses refer to is
  *     registered: a renamed query would otherwise drop out of its gate
  *     role without an error, or fail only when Soak runs.
  *
  * Pure collection algebra — no SparkSession. */
class RegistrySpec extends AnyFunSuite {

  /** Queries whose semantics cannot be expressed in DuckDB SQL and are
    * EXEMPT from the oracle-parity check — each entry needs a reason. */
  private val oracleExempt: Set[String] = Set.empty

  test("no query name is silently shadowed by the registry merge") {
    // Every entry is a `Query(...)` in a Seq, so this sees a duplicate
    // inside one file as well as one across files; only the derived maps
    // collapse it.
    val names = SparkEntry.all.map(_.name)
    val dups = names.groupBy(identity)
      .collect { case (k, vs) if vs.size > 1 => k }
    assert(dups.isEmpty, s"query names registered twice: ${dups.toSeq.sorted}")
    assert(SparkEntry.queries.size == names.size)
    assert(SparkEntry.oracleSql.size == names.size)
  }

  test("every query has an oracle and every oracle has a query") {
    val blank = SparkEntry.all
      .filter(q => q.oracle == null || q.oracle.trim.isEmpty)
      .map(_.name).toSet
    assert((blank -- oracleExempt).isEmpty,
      s"queries with no DuckDB oracle (add one, or exempt with a " +
        s"reason): ${(blank -- oracleExempt).toSeq.sorted}")
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q == o, s"query/oracle key mismatch: ${((q -- o) ++ (o -- q)).toSeq.sorted}")
    assert((oracleExempt -- q).isEmpty,
      s"stale exemptions: ${(oracleExempt -- q).toSeq.sorted}")
  }

  test("every query name the bench harness refers to is registered") {
    val q = SparkEntry.queries.keySet
    val named = Map(
      "canaryName" -> Set(Bench.canaryName),
      "queryFamilies" -> Bench.queryFamilies.keySet,
      "validationBaselines" -> Bench.validationBaselines)
    for ((field, names) <- named)
      assert((names -- q).isEmpty,
        s"Bench.$field names unregistered queries: ${(names -- q).toSeq.sorted}")
    // building the soak table looks each `registered` entry up (no query
    // runs); a misspelt name throws here
    val soak = Soak.soakQueries(1).map(_._1).toSet
    val capped = Soak.maxFactor.keySet
    assert((capped -- soak).isEmpty,
      s"Soak.maxFactor names no soak entry: ${(capped -- soak).toSeq.sorted}")
    assert((capped -- q).isEmpty,
      s"Soak.maxFactor names unregistered queries: ${(capped -- q).toSeq.sorted}")
  }
}
