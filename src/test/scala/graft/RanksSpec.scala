package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.Ranks

class RanksSpec extends SparkSpec {
  import spark.implicits._

  test("withGlobalRank == single-partition window rank on random data") {
    val rnd = new scala.util.Random(5)
    val df = (1 to 997).map(i => (i.toLong, rnd.nextInt(50).toDouble))
      .toDF("id", "v").repartition(13)
    val got = Ranks.withGlobalRank(df, "r", Seq($"v", $"id"))
      .select($"id", $"r").as[(Long, Long)].collect().toMap
    val want = df.withColumn("r",
        row_number().over(Window.orderBy($"v", $"id")).cast("long"))
      .select($"id", $"r").as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("withAvgRank2: a rankSource holding a NULL value fails loudly") {
    val base = Seq(Some(1L), None, Some(3L)).toDF("x")
    val e = intercept[IllegalArgumentException] {
      Ranks.withAvgRank2(base, "r", "x", rankSource = Some(base))
    }
    assert(e.getMessage.contains("NULL x"))
    // without a rankSource the value table is df's own: no contract to break
    assert(Ranks.withAvgRank2(base, "r", "x").count() == 2)
  }

  test("withNtile == window NTILE, including uneven splits (N % k != 0)") {
    val rnd = new scala.util.Random(9)
    for (n <- Seq(10, 97, 1000); k <- Seq(3, 10)) {
      val df = (1 to n).map(i => (i.toLong, rnd.nextInt(20).toDouble))
        .toDF("id", "v").repartition(7)
      val got = Ranks.withNtile(df, "t", k, Seq($"v", $"id"))
        .select($"id", $"t").as[(Long, Long)].collect().toMap
      val want = df.withColumn("t",
          ntile(k).over(Window.orderBy($"v", $"id")).cast("long"))
        .select($"id", $"t").as[(Long, Long)].collect().toMap
      assert(got == want, s"n=$n k=$k")
    }
  }

  test("duplicate sort keys straddling range-partition boundaries rank exactly under the tie-break") {
    // 3 distinct key values over ~900 rows and 32 range partitions: long
    // duplicate runs MUST straddle partition boundaries, the case the
    // documented total-order requirement exists for. With the id
    // tie-break the order is total, so the sampled boundaries can cut a
    // run anywhere without perturbing any rank; without it the
    // per-partition window would number the straddling duplicates
    // arbitrarily. Also covers empty partitions: ranging 3 key values
    // cannot fill all 32.
    val rnd = new scala.util.Random(31)
    val df = (1 to 900).map(i => (i.toLong, rnd.nextInt(3).toDouble))
      .toDF("id", "v").repartition(17)
    val got = Ranks.withGlobalRank(df, "r", Seq($"v", $"id"))
      .select($"id", $"r").as[(Long, Long)].collect().toMap
    val want = df.withColumn("r",
        row_number().over(Window.orderBy($"v", $"id")).cast("long"))
      .select($"id", $"r").as[(Long, Long)].collect().toMap
    assert(got == want)
    // same adversarial layout through the cumulative-sum and NTILE
    // primitives (they share the range+offset machinery)
    val dfs = (1 to 640).map(i => (i.toLong, (i % 2).toDouble, rnd.nextInt(7).toLong))
      .toDF("id", "v", "x").repartition(9)
    val gotS = Ranks.withRunningSums(dfs, Seq("x" -> "cx"), Seq($"v", $"id"))
      .select($"id", $"cx").as[(Long, Long)].collect().toMap
    val wantS = dfs.withColumn("cx",
        sum($"x").over(Window.orderBy($"v", $"id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select($"id", $"cx").as[(Long, Long)].collect().toMap
    assert(gotS == wantS)
    val gotT = Ranks.withNtile(dfs, "t", 7, Seq($"v", $"id"))
      .select($"id", $"t").as[(Long, Long)].collect().toMap
    val wantT = dfs.withColumn("t",
        ntile(7).over(Window.orderBy($"v", $"id")).cast("long"))
      .select($"id", $"t").as[(Long, Long)].collect().toMap
    assert(gotT == wantT)
  }

  test("withRunningSums == global cumulative window on random longs") {
    val rnd = new scala.util.Random(13)
    val df = (1 to 800).map(i => (i.toLong, rnd.nextInt(9).toLong, rnd.nextInt(5).toLong))
      .toDF("id", "x", "y").repartition(11)
    val got = Ranks.withRunningSums(df,
        Seq("x" -> "cx", "y" -> "cy"), Seq($"id"))
      .select($"id", $"cx", $"cy").as[(Long, Long, Long)].collect()
      .map { case (k, a, b) => k -> ((a, b)) }.toMap
    val w = Window.orderBy($"id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.select($"id", sum($"x").over(w).as("cx"), sum($"y").over(w).as("cy"))
      .as[(Long, Long, Long)].collect()
      .map { case (k, a, b) => k -> ((a, b)) }.toMap
    assert(got == want)
  }

  test("N < k: each row is its own tile") {
    val df = Seq((1L, 2.0), (2L, 1.0), (3L, 3.0)).toDF("id", "v")
    val got = Ranks.withNtile(df, "t", 10, Seq($"v", $"id"))
      .select($"id", $"t").as[(Long, Long)].collect().toMap
    assert(got == Map(2L -> 1L, 1L -> 2L, 3L -> 3L))
  }
}
