package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed EXACT global ranking — the scale path for the
  * single-partition `Window.orderBy(...)` global sort: range-partition on
  * the sort key, rank WITHIN partitions (parallel), then add per-partition
  * row-count offsets. The offsets are numPartitions small ints — planning
  * metadata, collected once. Exactness needs a TOTAL order (callers pass
  * an id tie-break), so no duplicate key can straddle a partition
  * boundary ambiguously; the range partitioner's sampled boundaries can
  * land anywhere without changing the computed rank.
  */
object Ranks {

  /** Adds `rankCol` = exact 1-based global rank under `sortCols` (must be
    * a total order). One range shuffle + one per-partition window; no
    * single-partition stage at any size. */
  def withGlobalRank(df: DataFrame, rankCol: String,
                     sortCols: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val parts = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    // eager checkpoint: the range partitioner SAMPLES, so without pinning
    // the offsets job and the final job could see different boundaries.
    // NOTE the sampling pass ALSO means `df`'s plan executes twice
    // (sample + shuffle map) — a caller feeding an EXPENSIVE subtree
    // should persist it first (ts1/zipf1 do; round-14 A/B showed a
    // blanket persist here costs more than the re-run for the many
    // cheap-input callers).
    val ranged = df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val counts = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
      .as[(Int, Long)].collect().sortBy(_._1)
    val offsets = counts.map(_._1).zip(
      counts.map(_._2).scanLeft(0L)(_ + _).dropRight(1))
    val offDf = offsets.toSeq.toDF("__pid", "__offset")
    val w = Window.partitionBy(col("__pid"))
      .orderBy(sortCols.map(c => c): _*)
    ranged.join(broadcast(offDf), Seq("__pid"))
      .withColumn(rankCol,
        row_number().over(w).cast("long") + col("__offset"))
      .drop("__pid", "__offset")
  }

  /** Adds exact running (prefix) sums of LONG columns under `sortCols`
    * (total order) — the distributed scale path for
    * `sum(...).over(Window.orderBy(...))` global cumulative windows: range
    * partition, per-partition running sums, then add the preceding
    * partitions' totals (numPartitions longs of planning metadata). Exact
    * because the inputs are longs; a money variant would carry DECIMAL
    * offsets the same way. `sums` maps value column -> output column. */
  def withRunningSums(df: DataFrame, sums: Seq[(String, String)],
                      sortCols: Seq[Column]): DataFrame = {
    val spark = df.sparkSession
    val parts = math.max(1,
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    // same sampling double-evaluation note as [[withGlobalRank]]: an
    // expensive input subtree is the CALLER's job to persist
    val ranged = df.repartitionByRange(parts, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(true)
    val aggCols = sums.map { case (v, _) => sum(col(v)).as(s"__t_$v") }
    val totals = ranged.groupBy(col("__pid"))
      .agg(aggCols.head, aggCols.tail: _*)
      .collect().sortBy(_.getInt(0))
    val offsetRows = totals.zipWithIndex.map { case (row, i) =>
      val prior = totals.take(i)
      org.apache.spark.sql.Row.fromSeq(
        row.getInt(0) +: sums.indices.map(j =>
          prior.map(_.getLong(j + 1)).sum))
    }
    val offSchema = org.apache.spark.sql.types.StructType(
      org.apache.spark.sql.types.StructField("__pid",
        org.apache.spark.sql.types.IntegerType) +:
        sums.map { case (v, _) =>
          org.apache.spark.sql.types.StructField(s"__off_$v",
            org.apache.spark.sql.types.LongType)
        })
    val offDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows.toSeq, 1), offSchema)
    val w = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sums.foldLeft(ranged.join(broadcast(offDf), Seq("__pid"))) {
      case (acc, (v, out)) =>
        acc.withColumn(out, sum(col(v)).over(w) + col(s"__off_$v"))
    }.drop("__pid" +: sums.map { case (v, _) => s"__off_$v" }: _*)
  }

  /** Adds `outCol` = 2× the tie-AVERAGED global rank of `valueCol` — the
    * fractional ranks Spearman correlation needs, doubled so they stay
    * exact LONGs (avg rank of a tie group is B + (c+1)/2 for B rows
    * below and c ties, so 2×rank = 2B + c + 1 is always integral).
    * Scale path: rank the DISTINCT-value table (one groupBy + the
    * running-sum machinery above), then join back — never a global
    * per-row sort. The distinct table can itself be huge (continuous
    * keys); both its prefix sum and the join-back shuffle on the value. */
  /** Value tables at or below this stay on the single-partition window
    * path: a domain this size is bounded metadata, and the distributed
    * prefix machinery's extra shuffle + checkpoint + offsets jobs cost
    * more than they parallelize. */
  private val SmallDomain = 65536L

  /** @param rankSource optional frame to derive the VALUE TABLE from
    *   instead of `df`. The rank of a value depends only on `valueCol`'s
    *   multiset, so a caller that chains several rank join-backs (spr1's
    *   three columns) can pass the pre-join BASE here: each rank stage's
    *   value-count job then scans the base instead of re-executing every
    *   earlier join-back inside its own subtree (round 15, guide §1.2 —
    *   the third rank's count job re-ran the second rank's value-keyed
    *   shuffle join for nothing). The caller must guarantee
    *   `rankSource[valueCol]` equals `df[valueCol]` as a MULTISET (ranks
    *   are count-derived); a 1:1 join-back chain preserves exactly that.
    *   A NULL `valueCol` breaks it (the equi-join join-back drops
    *   NULL-key rows from `df`), so a `rankSource` holding one fails
    *   loudly instead of yielding wrong ranks.
    */
  def withAvgRank2(df: DataFrame, outCol: String, valueCol: String,
      rankSource: Option[DataFrame] = None): DataFrame = {
    // pin the value table once: the domain-size probe below and the rank
    // pass both consume it
    val cnts = rankSource.getOrElse(df)
      .groupBy(col(valueCol)).agg(count(lit(1)).as("__c"))
      .localCheckpoint(true)
    // scalar planning statistic, and the NULL-key guard in the same job
    val stats = cnts.agg(count(lit(1)), count(when(col(valueCol).isNull, 1))).head()
    val k = stats.getLong(0)
    require(rankSource.isEmpty || stats.getLong(1) == 0L,
      s"withAvgRank2: rankSource has NULL $valueCol values; the join-back " +
        "would drop those rows from df and break the multiset contract")
    val ranks =
      if (k <= SmallDomain) {
        // bounded domain (l_quantity has 50 values at any corpus size):
        // one tiny ordered window over the k-row value table
        val w = Window.orderBy(col(valueCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        cnts.withColumn("__cum", sum(col("__c")).over(w))
          .select(col(valueCol),
            (col("__cum") * 2 - col("__c") + 1).as(outCol))
      } else {
        withRunningSums(cnts, Seq(("__c", "__cum")), Seq(col(valueCol)))
          .select(col(valueCol),
            (col("__cum") * 2 - col("__c") + 1).as(outCol))
      }
    if (k <= SmallDomain) df.join(broadcast(ranks), Seq(valueCol))
    else df.join(ranks, Seq(valueCol))
  }

  /** Adds `tileCol` = exact NTILE(k) under `sortCols` (total order),
    * reproducing SQL NTILE's uneven-split rule: with N = q·k + r, the
    * first r tiles carry q+1 rows. N comes from the same offsets pass
    * ranking already does — no extra job. */
  def withNtile(df: DataFrame, tileCol: String, k: Int,
                sortCols: Seq[Column]): DataFrame = {
    require(k > 0, "k must be positive")
    val ranked = withGlobalRank(df, "__rank", sortCols)
    // N via one aggregate over the ranked table would re-scan; the max
    // rank IS N, but computing it distributedly again costs a job — use
    // a scalar subquery-free trick: max over the broadcast offsets was
    // dropped, so recount cheaply on the pinned table.
    val n = ranked.agg(max(col("__rank"))).head().getLong(0)
    val q = n / k
    val r = n % k
    val bigCut = (q + 1) * r // ranks 1..bigCut live in the r larger tiles
    val tile = when(lit(r) > 0 && col("__rank") <= bigCut,
        ((col("__rank") - 1) / (q + 1)).cast("long") + 1)
      .otherwise(lit(r) + ((col("__rank") - 1 - bigCut) / math.max(q, 1L))
        .cast("long") + 1)
    ranked.withColumn(tileCol, tile).drop("__rank")
  }
}
