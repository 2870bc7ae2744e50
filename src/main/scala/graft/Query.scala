package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark dataflow over a scale-factor
  * dir, the DuckDB SQL that must return the same rows, and whether it is a
  * Structured Streaming replay lane (its function calls
  * `EventStream.replay*`; LaneRuleSpec pins the flag to that call). */
final case class Query(name: String, run: (SparkSession, String) => DataFrame,
    oracle: String, lane: Boolean = false)
