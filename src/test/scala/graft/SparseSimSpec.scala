package graft

import org.apache.spark.sql.functions._

import graft.operators.SparseSim

class SparseSimSpec extends SparkSpec {
  import spark.implicits._

  private def canon(d: org.apache.spark.sql.DataFrame) =
    d.select($"id1", $"id2", $"cosine")
      .orderBy("id1", "id2")
      .as[(Long, Long, Double)].collect().toSeq

  test("prefix-filtered cosine == brute posting join on random corpora (exactness property)") {
    val rnd = new scala.util.Random(7)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu")
    // small vocab = every token is hot — the stop-word regime the prefix
    // filter exists for; planted dups give the high thresholds answers
    for (trial <- 1 to 3) {
      val base = (0L until 48L).map { i =>
        val n = 3 + rnd.nextInt(20)
        (i, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
      }
      val docs = (base ++ Seq(
        (100L, base(0)._2), (101L, base(0)._2 + " alpha"),
        (102L, base(1)._2), (103L, base(1)._2))).toDF("doc_id", "text")
      val w = SparseSim.tfidfWeights(docs, "doc_id", "text")
      for (t <- Seq(0.3, 0.6, 0.9)) {
        val brute = canon(SparseSim.cosinePairsBrute(w, t))
        val prefixed = canon(SparseSim.cosinePairsPrefix(w, t))
        assert(prefixed == brute, s"trial $trial threshold $t")
        assert(brute.nonEmpty, s"trial $trial threshold $t: degenerate fixture")
      }
    }
  }

  test("Zipfian corpora dispatch to the two-sided generator and still match brute") {
    // heavy head (3 stop-words in every doc) + long unique tail: the
    // Zipf regime where log-df dispersion exceeds the 0.25 dispatch cut
    val base = (0L until 40L).map { i =>
      val tail = (1 to 6).map(k => s"rare${i}_$k").mkString(" ")
      (i, s"the of and $tail unique$i")
    }
    val docs = (base ++ Seq(
      (100L, base(0)._2), (101L, base(1)._2 + " extra"),
      (102L, base(2)._2))).toDF("doc_id", "text")
    val w = SparseSim.tfidfWeights(docs, "doc_id", "text")
    // replicate the dispatch statistic: this corpus must land two-sided
    val dfByTok = w.groupBy($"tok").agg(count(lit(1)).as("tdf"))
    val s = dfByTok.agg(
      stddev_pop(log($"tdf" + 1.0)), avg(log($"tdf" + 1.0))).head()
    val dispersion = s.getDouble(0) / s.getDouble(1)
    assert(dispersion > 0.25, s"fixture not Zipfian enough: $dispersion")
    assert(graft.operators.SparseSim.preferTwoSided(dispersion))
    for (t <- Seq(0.3, 0.6, 0.9)) {
      val brute = canon(SparseSim.cosinePairsBrute(w, t))
      val prefixed = canon(SparseSim.cosinePairsPrefix(w, t))
      assert(prefixed == brute, s"threshold $t")
      assert(brute.nonEmpty, s"threshold $t: degenerate fixture")
    }
  }

  test("flat-vocabulary corpora dispatch one-sided (dispersion below the cut)") {
    val rnd = new scala.util.Random(23)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val docs = (0L until 40L).map { i =>
      (i, Seq.fill(8)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val w = SparseSim.tfidfWeights(docs, "doc_id", "text")
    val dfByTok = w.groupBy($"tok").agg(count(lit(1)).as("tdf"))
    val s = dfByTok.agg(
      stddev_pop(log($"tdf" + 1.0)), avg(log($"tdf" + 1.0))).head()
    val dispersion = s.getDouble(0) / s.getDouble(1)
    assert(dispersion < 0.25, s"flat fixture measured Zipfian: $dispersion")
    assert(!graft.operators.SparseSim.preferTwoSided(dispersion))
  }

  test("universal stop-word never lands in a prefix index posting") {
    // every doc shares 'common' twice; distinctive tails dominate weight
    val docs = ((0L until 40L).map { i =>
      if (i < 2) (i, "common common real duplicate pair text")
      else (i, s"common common unique$i words$i here$i now$i")
    }).toDF("doc_id", "text")
    val res = SparseSim.cosinePairsPrefixOverDocs(docs, "doc_id", "text", 0.9)
      .select("id1", "id2").as[(Long, Long)].collect().toSeq
    assert(res == Seq((0L, 1L)))
    // the guard itself: with idf-weighted normalization, 'common' carries
    // the lowest normalized weight in every doc, so the index prefix
    // (residual-norm cut at t=0.9) excludes it everywhere — the hot
    // posting list never materializes on the index side
    val w = SparseSim.tfidfWeights(docs, "doc_id", "text")
    val norms = w.groupBy($"doc_id")
      .agg(sqrt(sum(($"w" * $"w").cast("decimal(28,10)")).cast("double")).as("__norm"))
    val wn = w.join(norms, Seq("doc_id"))
      .select($"doc_id", $"tok", ($"w" / $"__norm").as("wn"))
    val byW = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"wn".desc, $"tok")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val prefixToks = wn
      .withColumn("suffix_sq",
        lit(1.0) - coalesce(sum($"wn" * $"wn").over(byW), lit(0.0)))
      .where($"suffix_sq" >= 0.9 * 0.9 - 1e-9)
      .where($"tok" === "common")
      .count()
    assert(prefixToks == 0L)
  }

  test("unfused one-sided path (beyond-broadcast fallback) still == brute") {
    // the dense fused path handles every small flat corpus, so the
    // shuffled candidate path would otherwise lose coverage: drive it
    // directly through its two stages on the same corpora the exactness
    // property uses
    val rnd = new scala.util.Random(41)
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val base = (0L until 40L).map { i =>
      (i, Seq.fill(6 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val docs = (base ++ Seq((90L, base(0)._2), (91L, base(3)._2)))
      .toDF("doc_id", "text")
    val ix = SparseSim.buildIndex(docs, "doc_id", "text")
    for (t <- Seq(0.5, 0.9)) {
      val brute = canon(SparseSim.cosinePairsBruteIndexed(ix, t))
      val unfused = canon(SparseSim.verifyPairs(
        SparseSim.candidatesProbeIndex(ix, t), ix, t))
      assert(unfused == brute, s"threshold $t")
      assert(brute.nonEmpty, s"threshold $t: degenerate fixture")
    }
  }

  test("quant10 fast path == Spark's CAST(x AS DECIMAL(28,10)) rounding, all magnitudes") {
    def oracle(p: Double): Long =
      java.math.BigDecimal.valueOf(p)
        .setScale(10, java.math.RoundingMode.HALF_UP)
        .unscaledValue().longValueExact()
    val rnd = new scala.util.Random(3)
    var trials = 0
    for (mag <- Seq(1e-9, 1e-6, 1e-3, 1.0, 1e3, 1e6, 1e8); _ <- 1 to 20000) {
      val p = (rnd.nextDouble() - 0.5) * 2 * mag
      assert(graft.functions.Kernels.quant10(p) == oracle(p), s"p=$p")
      trials += 1
    }
    // adversarial: values engineered near the .5 decimal boundary
    for (k <- -100000 to 100000) {
      val p = (k.toLong * 2 + 1) * 0.5e-10 // exactly n + .5 in decimal intent
      assert(graft.functions.Kernels.quant10(p) == oracle(p), s"boundary p=$p")
    }
    assert(trials == 140000)
  }

  test("identical docs score 1.0; empty docs never pair") {
    val docs = Seq(
      (1L, "zeta omega kappa"), (2L, "zeta omega kappa"),
      (3L, ""), (4L, "totally different words entirely")).toDF("doc_id", "text")
    val out = canon(SparseSim.cosinePairsPrefixOverDocs(docs, "doc_id", "text", 0.9))
    assert(out == Seq((1L, 2L, 1.0)))
  }
}
